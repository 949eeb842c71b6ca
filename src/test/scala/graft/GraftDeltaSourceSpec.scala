package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The registered "graft-delta" streaming source: stream ≡ batch
  * across restarts, rate limiting through admission control, CDF mode,
  * and the append tail's loud refusal of delete versions.
  */
class GraftDeltaSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_gds_$tag").resolve("t")
      .toAbsolutePath.toString

  private def base: DataFrame =
    (1 to 40).map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4), i * 1.5))
      .toDF("id", "k", "v")

  /** Drain the stream with Trigger.AvailableNow into a collector;
    * returns (rows, batches-with-data).
    */
  private def drain(dir: String, checkpoint: String,
                    options: Map[String, String] = Map.empty): (Seq[Seq[Any]], Int) = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val batches = new java.util.concurrent.atomic.AtomicInteger
    var reader = spark.readStream.format("graft-delta")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load(dir).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.collect().map(_.toSeq.toVector)
        if (got.nonEmpty) batches.incrementAndGet()
        rows.synchronized { rows ++= got }
        ()
      }
      .start()
    q.awaitTermination()
    (rows.toSeq, batches.get())
  }

  private def batchRows(dir: String): Seq[Seq[Any]] =
    DeltaReader.read(spark, dir).collect().map(_.toSeq.toVector).toSeq

  test("batch load of a missing table refuses at load(); the sink probe (checkpointLocation) still falls back") {
    val missing = freshDir("missing")
    val e = intercept[Exception] {
      spark.read.format("graft-delta").load(missing)
    }
    assert(e.getMessage.contains("not a Delta table"), e.getMessage)
    // the stream-sink probe shape answers an empty schema instead of
    // throwing — the writeStream path that CREATES the table stays alive
    val probe = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", missing, "checkpointLocation", freshDir("cp")))
    assert(new graft.streaming.GraftDeltaSourceProvider()
      .inferSchema(probe).isEmpty)
  }

  test("format write: partitionBy mismatching an existing table's layout refuses") {
    val d = freshDir("pmm")
    LakeWriter.writeDelta(base, d, partitionBy = Seq("k"))
    val more = Seq((200L, "a", 9.0)).toDF("id", "k", "v")
    val e = intercept[Exception] {
      more.write.format("graft-delta").mode("append").partitionBy("v").save(d)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    // matching partitionBy (or none) appends fine
    more.write.format("graft-delta").mode("append").partitionBy("k").save(d)
    more.write.format("graft-delta").mode("append").save(d)
    assert(DeltaReader.read(spark, d).where(col("id") === 200L).count() == 2L)
    // overwrite with a different layout refuses too — a silent layout
    // change would betray every reader relying on partition pruning
    val e2 = intercept[Exception] {
      more.write.format("graft-delta").mode("overwrite").partitionBy("id").save(d)
    }
    assert(e2.getMessage.contains("does not match"), e2.getMessage)
  }

  test("maxFilesPerTrigger splits the initial snapshot; restart resumes mid-snapshot without duplication") {
    val d = freshDir("snapsplit")
    LakeWriter.writeDelta(base.repartition(5), d)   // 5 files, 40 rows

    // end-to-end: ceil(5/2) = 3 initial batches whose union is the snapshot
    val cp = freshDir("cp")
    val (rows, nb) = drain(d, cp, Map("maxFilesPerTrigger" -> "2"))
    assert(nb == 3, s"expected 3 snapshot batches, got $nb")
    assert(rows.size == 40 && rows.toSet == batchRows(d).toSet)

    // unit-level offset math: drive the admission API as the engine
    // does, including a RESTART (fresh source instance) mid-snapshot
    import graft.streaming.{GraftDeltaSource, GraftDeltaSourceOffset}
    val lim = GraftDeltaSource.MaxVersions(None, Some(2), None)
    val src1 = new GraftDeltaSource(spark, GraftDeltaSource.Options(Map("path" -> d)))
    val o1 = GraftDeltaSourceOffset.of(src1.latestOffset(null, lim))
    assert(o1.index == 2L, o1.json)
    // restart: a NEW source resumes from o1 and pins the SAME version
    val src2 = new GraftDeltaSource(spark, GraftDeltaSource.Options(Map("path" -> d)))
    val o2 = GraftDeltaSourceOffset.of(src2.latestOffset(o1, lim))
    assert(o2.version == o1.version && o2.index == 4L, o2.json)
    // the completing batch drops the index (plain tail form)
    val o3 = GraftDeltaSourceOffset.of(src2.latestOffset(o2, lim))
    assert(o3.version == o1.version && o3.index == -1L, o3.json)
    // drained: no further progress
    assert(GraftDeltaSourceOffset.of(src2.latestOffset(o3, lim)) == o3)
    // byte cap: each file rides alone when the budget is below a file
    val limB = GraftDeltaSource.MaxVersions(None, None, Some(1L))
    val oB = GraftDeltaSourceOffset.of(src1.latestOffset(null, limB))
    assert(oB.index == 1L, oB.json)
    // a pre-r14 checkpoint's plain offset keeps replaying as the tail
    // position: version-only json parses with index = -1
    val legacy = GraftDeltaSourceOffset.of(
      new org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(
        s"""{"version":${o3.version}}"""))
    assert(legacy.version == o3.version && legacy.index == -1L)

    // end-to-end restart MID-SNAPSHOT: kill the query at batch 1's
    // start; the restarted query replays exactly that slice and
    // finishes — union is the snapshot, nothing duplicated, and the
    // tail picks up an append committed between the runs
    val d2 = freshDir("snapkill"); val cp2 = freshDir("cp")
    LakeWriter.writeDelta(base.repartition(5), d2)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var killed = false
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-delta").option("maxFilesPerTrigger", "2")
        .load(d2).writeStream
        .option("checkpointLocation", cp2)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (id == 1 && !killed) { killed = true; sys.error("boom") }
          seen.synchronized { seen ++= df.select("id").collect().map(_.getLong(0)) }
          ()
        }
        .start()
    val q1 = run()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination())
    LakeWriter.appendDelta(Seq((100L, "e", 1.0)).toDF("id", "k", "v"), d2)
    val q2 = run(); q2.awaitTermination()
    assert(seen.size == 41, s"no duplication across the restart: ${seen.size}")
    assert(seen.toSet == (1L to 40L).toSet + 100L)
  }

  test("CDF intra-version admission: one over-sized commit splits across batches, restart resumes mid-version") {
    val d = freshDir("cdfsplit")
    LakeWriter.writeDelta(base.repartition(2), d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    LakeWriter.appendDelta(
      (41 to 80).map(i => (i.toLong, "e", i * 1.5)).toDF("id", "k", "v")
        .repartition(5), d)                       // v1: 5 insert files
    LakeWriter.deleteWhere(spark, d, "id <= 4")   // v2: cdc-staged deletes

    // end-to-end: every batch carries ONE version (whole versions or a
    // single version's slice, never a mix), v1's 5 files arrive as
    // ceil(5/2)=3 batches, and the union ≡ readChanges(0, 2)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("maxFilesPerTrigger", "2")
      .load(d).writeStream
      .option("checkpointLocation", freshDir("cp"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.select("id", "k", "v", "_change_type", "_commit_version")
          .collect().map(_.toSeq.toVector).toSeq
        if (got.nonEmpty) perBatch.synchronized { perBatch += got }
        ()
      }
      .start()
    q.awaitTermination()
    perBatch.foreach { b =>
      assert(b.map(_.last).distinct.size == 1,
        s"a batch mixed versions: ${b.map(_.last).distinct}")
    }
    assert(perBatch.count(_.head.last == 1L) == 3,
      s"v1 (5 files, cap 2) must arrive as 3 slices: " +
        perBatch.map(b => (b.head.last, b.size)).mkString(","))
    val want = DeltaReader.readChanges(spark, d, 0L, 2L)
      .select("id", "k", "v", "_change_type", "_commit_version")
      .collect().map(_.toSeq.toVector).toSeq
    val got = perBatch.flatten
    assert(got.size == want.size && got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap,
      s"union of slices must equal the window's change set: got ${got.size}, want ${want.size}")

    // unit-level offset math, including a mid-version RESTART
    import graft.streaming.{GraftDeltaSource, GraftDeltaSourceOffset}
    val opts = GraftDeltaSource.Options(Map("path" -> d,
      "readChangeFeed" -> "true", "startingVersion" -> "0"))
    val lim = GraftDeltaSource.MaxVersions(None, Some(2), None)
    val src1 = new GraftDeltaSource(spark, opts)
    val o1 = GraftDeltaSourceOffset.of(src1.latestOffset(null, lim))
    assert(o1.version == 0L && o1.index == -1L, o1.json)   // v0 fits whole
    val o2 = GraftDeltaSourceOffset.of(src1.latestOffset(o1, lim))
    assert(o2.version == 1L && o2.index == 2L, o2.json)    // v1 slices
    // restart: a NEW source resumes mid-version from the offset alone
    val src2 = new GraftDeltaSource(spark, opts)
    val o3 = GraftDeltaSourceOffset.of(src2.latestOffset(o2, lim))
    assert(o3.version == 1L && o3.index == 4L, o3.json)
    val o4 = GraftDeltaSourceOffset.of(src2.latestOffset(o3, lim))
    assert(o4.version == 1L && o4.index == -1L, o4.json)   // completes v1
    // slices recompose exactly: union of v1's three slices == readChanges(1,1)
    val sliced = Seq((0L, 2L), (2L, 4L), (4L, Long.MaxValue)).map { case (a, b) =>
      DeltaReader.readChangesSlice(spark, d, 1L, a, b)
    }.reduce(_ unionByName _).select("id").collect().map(_.getLong(0)).sorted
    val whole = DeltaReader.readChanges(spark, d, 1L, 1L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(sliced.toSeq == whole.toSeq)
    // a legacy (pre-split) CDF checkpoint's plain offset keeps working
    val legacy = GraftDeltaSourceOffset.of(
      new org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(
        """{"version":0}"""))
    val o2b = GraftDeltaSourceOffset.of(src2.latestOffset(legacy, lim))
    assert(o2b.version == 1L && o2b.index == 2L, o2b.json)
  }

  test("append-tail intra-version admission: an over-sized append commit slices; legacy offsets keep their snapshot meaning") {
    import graft.streaming.{GraftDeltaSource, GraftDeltaSourceOffset}
    val d = freshDir("tailsplit")
    LakeWriter.writeDelta(base.repartition(2), d)
    val cp = freshDir("cp")
    // drain the initial snapshot first (cap 2 → 1 batch of 2 files... 2 files fit)
    val (rows0, _) = drain(d, cp, Map("maxFilesPerTrigger" -> "2"))
    assert(rows0.size == 40)
    // one giant append: 5 files — the tail must slice it, not deliver
    // one unbounded batch
    LakeWriter.appendDelta(
      (41 to 80).map(i => (i.toLong, "t", i * 1.5)).toDF("id", "k", "v")
        .repartition(5), d)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "2").load(d).writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count().toInt
        if (n > 0) perBatch.synchronized { perBatch += n }
        ()
      }
      .start()
    q.awaitTermination()
    assert(perBatch.size == 3, s"5 files at cap 2 must arrive as 3 slices: $perBatch")
    assert(perBatch.sum == 40, perBatch.toString)

    // unit offset walk: the tail flag rides the json, restart resumes
    // mid-version, and a LEGACY index offset keeps the snapshot meaning
    val lim = GraftDeltaSource.MaxVersions(None, Some(2), None)
    val opts = GraftDeltaSource.Options(Map("path" -> d))
    val src = new GraftDeltaSource(spark, opts)
    val o1 = GraftDeltaSourceOffset.of(src.latestOffset(GraftDeltaSourceOffset(0L), lim))
    assert(o1 == GraftDeltaSourceOffset(1L, 2L, tail = true), o1.json)
    assert(o1.json.contains("\"tail\":true"), o1.json)
    val src2 = new GraftDeltaSource(spark, opts)   // restart
    val o2 = GraftDeltaSourceOffset.of(src2.latestOffset(o1, lim))
    assert(o2 == GraftDeltaSourceOffset(1L, 4L, tail = true), o2.json)
    val o3 = GraftDeltaSourceOffset.of(src2.latestOffset(o2, lim))
    assert(o3 == GraftDeltaSourceOffset(1L), o3.json)   // completes plain
    // slices recompose: union of the three tail slices == version 1's adds
    val sliced = Seq((0L, 2L), (2L, 4L), (4L, Long.MaxValue)).map { case (a, b) =>
      DeltaReader.scanFiles(spark, d, DeltaReader.snapshot(spark, d, Some(1L)),
        DeltaReader.commitActions(spark, d, 1L).collect { case (Right(af), true) => af }
          .sortBy(_.path).toIndexedSeq.slice(a.toInt, math.min(b, 5L).toInt))
    }.reduce(_ unionByName _).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sliced == (41L to 80L).toSeq)
    // a legacy {"version":V,"index":K} (no tail) still means the
    // INITIAL SNAPSHOT's pinned list — pre-r15 checkpoints replay
    val legacy = GraftDeltaSourceOffset.of(
      new org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(
        """{"version":1,"index":1}"""))
    assert(!legacy.tail && legacy.index == 1L)
    val snapAdds = DeltaReader.snapshot(spark, d, Some(1L)).active.sortBy(_.path)
    val fromLegacy = src2.getBatch(Some(legacy), GraftDeltaSourceOffset(1L, 3L))
    // engine-shaped streaming frame: count via a fresh batch scan of
    // the same slice instead of collecting the streaming-marked plan
    val expectRows = DeltaReader.scanFiles(spark, d,
      DeltaReader.snapshot(spark, d, Some(1L)),
      snapAdds.slice(1, 3)).count()
    assert(fromLegacy.schema.fieldNames.toSeq == Seq("id", "k", "v"))
    assert(expectRows > 0)
  }

  test("startingVersion=latest starts after the version current at stream construction") {
    val d = freshDir("svlatest")
    LakeWriter.writeDelta(base.repartition(2), d)
    val cp = freshDir("cp")
    val (rows0, _) = drain(d, cp, Map("startingVersion" -> "latest"))
    assert(rows0.isEmpty, s"latest must skip the existing table: ${rows0.size}")
    LakeWriter.appendDelta(Seq((200L, "z", 1.0)).toDF("id", "k", "v"), d)
    val (rows1, _) = drain(d, cp, Map("startingVersion" -> "latest"))
    assert(rows1.map(_.head) == Seq(200L), rows1.toString)
  }

  test("CDF admission fuzz: random commit shapes × random caps drain to exactly the window's change set") {
    val rnd = new scala.util.Random(42)
    val d = freshDir("cdffuzz")
    LakeWriter.writeDelta(base.repartition(1 + rnd.nextInt(3)), d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    var lo = 100L
    (1 to 5).foreach { _ =>
      val n = 5 + rnd.nextInt(20)
      LakeWriter.appendDelta(
        (lo until lo + n).map(i => (i, "f", i * 0.5)).toDF("id", "k", "v")
          .repartition(1 + rnd.nextInt(6)), d)
      lo += n
    }
    LakeWriter.deleteWhere(spark, d, "id % 7 = 0")   // cdc-staged version
    val latest = DeltaReader.snapshot(spark, d, None).version
    val want = DeltaReader.readChanges(spark, d, 0L, latest)
      .selectExpr("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq.toVector).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val caps: Seq[(Option[Int], Option[Long])] = Seq(
      (Some(1), None), (Some(2), None), (Some(4), None),
      (None, Some(1L)), (None, Some(5000L)), (Some(3), Some(3000L)))
    caps.foreach { case (fc, bc) =>
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
      var reader = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true").option("startingVersion", "0")
      fc.foreach(v => reader = reader.option("maxFilesPerTrigger", v.toString))
      bc.foreach(v => reader = reader.option("maxBytesPerTrigger", v.toString))
      val q = reader.load(d).writeStream
        .option("checkpointLocation", freshDir("cpf"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.selectExpr("id", "_change_type", "_commit_version")
            .collect().map(_.toSeq.toVector).toSeq
          if (rows.nonEmpty) perBatch.synchronized { perBatch += rows }
          ()
        }
        .start()
      q.awaitTermination()
      val got = perBatch.flatten
      val gm = got.toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(gm == want,
        s"cap=$fc/$bc drained multiset differs: got ${got.size} rows, want ${want.values.sum}")
      // slicing invariant holds end-to-end: under the tightest file
      // cap each batch carries exactly one version
      if (fc.contains(1))
        perBatch.foreach(b => assert(b.map(_.last).distinct.size == 1,
          s"cap=$fc/$bc batch mixed versions: ${b.map(_.last).distinct}"))
    }
  }

  test("append tail: initial snapshot then incremental appends, across restarts") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base.repartition(3), d)
    LakeWriter.appendDelta((100 to 110).map(i => (i.toLong, "e", 1.0)).toDF("id", "k", "v"), d)

    val (first, _) = drain(d, cp)
    assert(first.toSet == batchRows(d).toSet, "initial drain must equal the batch read")
    assert(first.size == batchRows(d).size)

    // restart with the SAME checkpoint: nothing new -> nothing delivered
    val (again, nb) = drain(d, cp)
    assert(again.isEmpty && nb == 0, "a drained stream redelivers nothing")

    // two more appends, restart: ONLY the new rows arrive
    LakeWriter.appendDelta((200 to 205).map(i => (i.toLong, "f", 2.0)).toDF("id", "k", "v"), d)
    LakeWriter.appendDelta((300 to 302).map(i => (i.toLong, "g", 3.0)).toDF("id", "k", "v"), d)
    val (inc, _) = drain(d, cp)
    assert(inc.size == 9) // 6 'f' rows + 3 'g' rows
    assert((first ++ inc).toSet == batchRows(d).toSet,
      "snapshot + streamed increments must equal the final batch read")
  }

  test("a mid-stream column-mapping REMOVAL streams through: per-version slices resolve their own metadata") {
    val d = freshDir("cmrm"); val cp = freshDir("cmrmcp")
    // physically-keyed mapped table (base has 3 columns; writeDeltaMapped)
    LakeWriter.writeDeltaMapped(base.repartition(2), d)            // v0
    val (first, _) = drain(d, cp)
    assert(first.size == 40)
    // appends under PHYSICAL names, then the removal, then logical ones
    LakeWriter.appendDelta(Seq((500L, "p", 1.0)).toDF("id", "k", "v"), d) // v1
    LakeWriter.removeColumnMapping(spark, d)                        // v2 (dataChange=false)
    LakeWriter.appendDelta(Seq((600L, "l", 2.0)).toDF("id", "k", "v"), d) // v3
    val (inc, _) = drain(d, cp)
    // both appends arrive with REAL values (v1's slice resolved under
    // the mapped metadata, v3's under the unmapped one); the removal's
    // own rewrite commit delivers nothing (dataChange=false)
    assert(inc.map(r => (r.head, r(1))).toSet == Set((500L, "p"), (600L, "l")),
      inc.toString)
    assert((first ++ inc).toSet == batchRows(d).toSet,
      "snapshot + streamed increments must equal the final batch read")
  }

  test("a mid-stream column-mapping UPGRADE streams through; a rename beyond it refuses loudly") {
    val d = freshDir("cmup"); val cp = freshDir("cmupcp")
    LakeWriter.writeDelta(base.repartition(2), d)                   // v0, unmapped
    val (first, _) = drain(d, cp)
    assert(first.size == 40)
    LakeWriter.appendDelta(Seq((500L, "p", 1.0)).toDF("id", "k", "v"), d) // v1, logical footers
    LakeWriter.alterProperties(spark, d,
      Map("delta.columnMapping.mode" -> "name"))                    // v2: metadata-only upgrade
    LakeWriter.appendDelta(Seq((600L, "l", 2.0)).toDF("id", "k", "v"), d) // v3, mapped
    // the upgrade is invisible to the stream: physicalName = each
    // column's current name, so pre- and post-upgrade slices project
    // to the same logical shape
    val (inc, _) = drain(d, cp)
    assert(inc.map(r => (r.head, r(1))).toSet == Set((500L, "p"), (600L, "l")),
      inc.toString)
    assert((first ++ inc).toSet == batchRows(d).toSet,
      "snapshot + streamed increments must equal the final batch read")
    // a RENAME landing while an old-schema append is still PENDING is
    // a BREAKING change for a streaming consumer: the restarted stream
    // pins the new logical schema while the pending slice scans the
    // old one — the mutation tolerance refuses loudly (delta-spark
    // refuses the same way without a schema-tracking location), never
    // silently null-reads
    LakeWriter.appendDelta(Seq((700L, "m", 3.0)).toDF("id", "k", "v"), d) // v4, pending
    LakeWriter.renameColumn(spark, d, "k", "k2")                    // v5
    LakeWriter.appendDelta(Seq((701L, "n", 4.0)).toDF("id", "k2", "v"), d) // v6
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(d, cp))
    assert(e.getMessage.contains("schema changed mid-stream"), e.getMessage)
    // a FRESH checkpoint adopts the renamed schema and replays whole
    val (fresh, _) = drain(d, freshDir("cmupcp2"))
    assert(fresh.size == 44 && fresh.map(r => (r.head, r(1))).toSet
      .contains((700L, "m")), fresh.size.toString)
  }

  test("a mid-stream column-mapping REMOVAL streams through the CDF source: the catch-up window splits per-version") {
    val d = freshDir("cmrmcdf"); val cp = freshDir("cmrmcdfcp")
    LakeWriter.writeDeltaMapped(base.repartition(2), d)             // v0, physical names
    LakeWriter.alterProperties(spark, d,
      Map("delta.enableChangeDataFeed" -> "true"))                  // v1
    drain(d, cp, Map("readChangeFeed" -> "true"))                   // starts after v1
    LakeWriter.deleteWhere(spark, d, "id = 2")                      // v2: cdc under PHYSICAL names
    LakeWriter.removeColumnMapping(spark, d)                        // v3 (dataChange=false)
    LakeWriter.appendDelta(Seq((500L, "p", 1.0)).toDF("id", "k", "v"), d) // v4
    // ONE catch-up batch spans v2..v4 — a window the BATCH CDF API
    // refuses (it crosses the removal); the source is the caller that
    // can split, and delivers v2's delete with REAL pre-image values
    // resolved under ITS mapped metadata, nothing for v3, v4's insert
    val (inc, _) = drain(d, cp, Map("readChangeFeed" -> "true"))
    val got = inc.map(r => (r(0), r(1), r(3))).toSet
    assert(got == Set((2L, "c", "delete"), (500L, "p", "insert")), got.toString)
  }

  test("maxVersionsPerTrigger caps catch-up batches (admission control survives restart)") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base, d)
    val (_, _) = drain(d, cp) // consume the initial snapshot (v0)
    (1 to 6).foreach(i => LakeWriter.appendDelta(
      Seq((1000L + i, "z", i.toDouble)).toDF("id", "k", "v"), d))
    // 6 pending versions, 2 per trigger -> exactly 3 data batches
    val (inc, nb) = drain(d, cp, Map("maxVersionsPerTrigger" -> "2"))
    assert(inc.size == 6)
    assert(nb == 3, s"6 versions at 2/trigger must take 3 batches, took $nb")
  }

  test("an uncapped drain delivers a multi-version table as one batch; a capped CDF replay takes ceil(versions/cap)") {
    val d = freshDir("t")
    LakeWriter.writeDelta(base, d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    (1 to 4).foreach(i => LakeWriter.appendDelta(
      Seq((2000L + i, "y", i.toDouble)).toDF("id", "k", "v"), d))
    // snapshot mode folds all 5 versions into one consistent batch
    val (snap, nbSnap) = drain(d, freshDir("cp"))
    assert(snap.toSet == batchRows(d).toSet && snap.size == batchRows(d).size)
    assert(nbSnap == 1, s"the uncapped snapshot took $nbSnap batches")
    // CDF replay from v0 walks the history at 2 versions per trigger
    val (changes, nb) = drain(d, freshDir("cp"), Map("readChangeFeed" -> "true",
      "startingVersion" -> "0", "maxVersionsPerTrigger" -> "2"))
    val want = DeltaReader.readChanges(spark, d, 0L, 4L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(changes.toSet == want.toSet && changes.size == want.size)
    assert(nb == 3, s"5 versions at 2/trigger must take 3 batches, took $nb")
  }

  test("append-mode startingVersion skips the snapshot and tails adds from v") {
    val d = freshDir("sv"); val cp = freshDir("svcp")
    LakeWriter.writeDelta(base, d) // v0: 30 rows — must NOT be delivered
    (1 to 3).foreach(i => LakeWriter.appendDelta(
      Seq((5000L + i, "z", i.toDouble)).toDF("id", "k", "v"), d))
    // start at v2: versions 2 and 3 only, capped at one per trigger
    val (rows, nb) = drain(d, cp,
      Map("startingVersion" -> "2", "maxVersionsPerTrigger" -> "1"))
    assert(rows.map(_.head).toSet == Set(5002L, 5003L))
    assert(nb == 2, s"2 versions at 1/trigger must take 2 batches, took $nb")
    // continuation stays incremental
    LakeWriter.appendDelta(Seq((5010L, "z", 0.0)).toDF("id", "k", "v"), d)
    val (more, _) = drain(d, cp, Map("startingVersion" -> "2"))
    assert(more.map(_.head).toSeq == Seq(5010L))
  }

  test("maxBytesPerTrigger admits whole versions up to the byte budget") {
    val d = freshDir("tb"); val cp = freshDir("cpb")
    LakeWriter.writeDelta(base, d)
    val (_, _) = drain(d, cp) // consume the initial snapshot (v0)
    (1 to 6).foreach(i => LakeWriter.appendDelta(
      Seq((2000L + i, "z", i.toDouble)).toDF("id", "k", "v"), d))
    // every appended commit stages one small file of similar size;
    // a budget of ~2 files per trigger must take 3 data batches
    val perVersion = DeltaReader.snapshot(spark, d, None).active
      .filter(_.path.contains("part-")).map(_.size).max
    val (inc, nb) = drain(d, cp,
      Map("maxBytesPerTrigger" -> (perVersion * 2 + 10).toString))
    assert(inc.size == 6)
    assert(nb == 3, s"6 single-file versions at ~2 files of budget must take 3 " +
      s"batches, took $nb")
    // a budget SMALLER than one commit still progresses: one version
    // per trigger, 6 batches
    (1 to 3).foreach(i => LakeWriter.appendDelta(
      Seq((3000L + i, "z", i.toDouble)).toDF("id", "k", "v"), d))
    val (inc2, nb2) = drain(d, cp, Map("maxBytesPerTrigger" -> "1"))
    assert(inc2.size == 3 && nb2 == 3,
      s"3 versions at a sub-file budget must ride one per batch, took $nb2")
  }

  test("append tail refuses a delete version loudly") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base, d)
    drain(d, cp)
    LakeWriter.deleteWhere(spark, d, "k = 'a'")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(d, cp)
    }
    val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
    assert(msg.contains("append-only tail cannot represent"),
      s"refusal must name the contract, got: $msg")
  }

  test("ignoreDeletes skips delete-only versions; rewrites still refuse") {
    val d = freshDir("t"); val cp = freshDir("cp")
    // partitioned by k: a whole-partition delete drops files without
    // rewriting survivors — the delete-only shape ignoreDeletes is FOR
    // (delta-spark's partition-boundary contract); a scattered delete
    // rewrites files and must still refuse
    LakeWriter.writeDelta(base, d, partitionBy = Seq("k"))
    drain(d, cp, Map("ignoreDeletes" -> "true"))
    LakeWriter.deleteWhere(spark, d, "k = 'a'")
    LakeWriter.appendDelta((500 to 503).map(i => (i.toLong, "z", 9.0)).toDF("id", "k", "v"), d)
    val (inc, _) = drain(d, cp, Map("ignoreDeletes" -> "true"))
    assert(inc.map(_.head).toSet == (500L to 503L).toSet, inc.toString)
    // an UPDATE rewrites rows — delete-only tolerance must not hide it
    LakeWriter.updateWhere(spark, d, "k = 'b'", Map("v" -> "v * 2"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(d, cp, Map("ignoreDeletes" -> "true"))
    }
    val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
    assert(msg.contains("append-only tail cannot represent"), msg)
  }

  test("skipChangeCommits skips every changing version; appends still flow") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base.repartition(4), d)
    drain(d, cp, Map("skipChangeCommits" -> "true"))
    LakeWriter.deleteWhere(spark, d, "k = 'a'")
    LakeWriter.updateWhere(spark, d, "k = 'b'", Map("v" -> "v * 2"))
    LakeWriter.appendDelta((600 to 602).map(i => (i.toLong, "y", 7.0)).toDF("id", "k", "v"), d)
    val (inc, _) = drain(d, cp, Map("skipChangeCommits" -> "true"))
    assert(inc.map(_.head).toSet == (600L to 602L).toSet, inc.toString)
    // CDF mode refuses the append-tail options loudly
    val e = intercept[Exception] {
      drain(d, freshDir("cp2"), Map("readChangeFeed" -> "true",
        "startingVersion" -> "0", "skipChangeCommits" -> "true"))
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert(rootMsg(e).contains("append-tail options"), rootMsg(e))
  }

  test("CDF mode streams the change history; startingVersion=0 replays everything") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base, d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    LakeWriter.updateWhere(spark, d, "k = 'a'", Map("v" -> "v * 2"))
    LakeWriter.deleteWhere(spark, d, "k = 'b'")
    val v = DeltaReader.read(spark, d) // force a replay so the table is at v2
    assert(v.count() > 0)

    val (got, _) = drain(d, cp,
      Map("readChangeFeed" -> "true", "startingVersion" -> "0"))
    val want = DeltaReader.readChanges(spark, d, 0L, 2L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(got.toSet == want.toSet && got.size == want.size,
      "streamed CDF must equal the batch change feed")

    // incremental: one more delete, same checkpoint -> only v3's changes
    LakeWriter.deleteWhere(spark, d, "k = 'c'")
    val (inc, _) = drain(d, cp, Map("readChangeFeed" -> "true", "startingVersion" -> "0"))
    val want3 = DeltaReader.readChanges(spark, d, 3L, 3L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(inc.toSet == want3.toSet && inc.size == want3.size)
    // mid-history start with NO rate cap (regression: sv - 1 +
    // Long.MaxValue must not wrap into a negative end offset)
    val (mid, _) = drain(d, freshDir("cp2"),
      Map("readChangeFeed" -> "true", "startingVersion" -> "2"))
    val want23 = DeltaReader.readChanges(spark, d, 2L, 3L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(mid.toSet == want23.toSet && mid.size == want23.size)
  }

  test("batch format reads: plain, time travel, CDF windows — one engine, pruning intact") {
    val d = freshDir("fmt")
    LakeWriter.writeDelta(base.repartitionByRange(4, col("id")), d,
      configuration = Map(
        "delta.enableChangeDataFeed" -> "true",
        "delta.enableInCommitTimestamps" -> "true"))                  // v0
    LakeWriter.updateWhere(spark, d, "k = 'a'", Map("v" -> "v * 2"))  // v1
    LakeWriter.deleteWhere(spark, d, "k = 'b'")                       // v2

    def rows(df: DataFrame) = df.collect().map(_.toSeq.toVector).toSet
    // plain load ≡ the production reader
    assert(rows(spark.read.format("graft-delta").load(d)) ==
      rows(DeltaReader.read(spark, d)))
    // time travel by version and by the ICT stamp
    assert(rows(spark.read.format("graft-delta").option("versionAsOf", "0").load(d)) ==
      rows(DeltaReader.read(spark, d, Some(0L))))
    val log = new org.apache.hadoop.fs.Path(d, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val ts1 = DeltaReader.commitIct(fs, log, 1L).get
    assert(rows(spark.read.format("graft-delta")
      .option("timestampAsOf", ts1.toString).load(d)) ==
      rows(DeltaReader.read(spark, d, Some(1L))))
    // CDF window by versions and by timestamp (ending defaults to latest)
    assert(rows(spark.read.format("graft-delta").option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load(d)) ==
      rows(DeltaReader.readChanges(spark, d, 1L, 2L)))
    assert(rows(spark.read.format("graft-delta").option("readChangeFeed", "true")
      .option("startingTimestamp", ts1.toString).load(d)) ==
      rows(DeltaReader.readChanges(spark, d, 1L, 2L)))
    // the splice serves the REAL reader: predicates reach the parquet
    // scan (PushedFilters), not a Row-RDD shim
    val narrow = spark.read.format("graft-delta").load(d).where("id = 7")
    assert(narrow.count() == 1L)
    val plan = narrow.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"format reads must push predicates into the scan:\n$plan")
    // refusals: CDF batch without a start; versionAsOf on a CDF read;
    // streaming start options on a plain batch read (analyzer
    // exceptions may arrive wrapped — match on the message)
    def refuses(msg: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(msg)), s"got: $e")
    }
    refuses("requires startingVersion or startingTimestamp") {
      spark.read.format("graft-delta").option("readChangeFeed", "true").load(d).count()
    }
    refuses("not versionAsOf") {
      spark.read.format("graft-delta").option("readChangeFeed", "true")
        .option("versionAsOf", "0").load(d).count()
    }
    refuses("need readChangeFeed=true") {
      spark.read.format("graft-delta").option("startingVersion", "0").load(d).count()
    }
  }

  test("batch format writes: save modes, partitionBy, replaceWhere, delta.* options") {
    val d = freshDir("fw")
    base.write.format("graft-delta").partitionBy("k").save(d)
    val snap0 = DeltaReader.snapshot(spark, d, None)
    assert(snap0.partCols == Seq("k"), snap0.partCols.mkString(", "))
    def ids(dir: String) = DeltaReader.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(d) == (1L to 40L).toSet)
    // default ErrorIfExists refuses a second save
    val e = intercept[Exception](base.write.format("graft-delta").save(d))
    assert(e.getMessage.contains("already a Delta table"), e.getMessage)
    // Ignore no-ops on an existing table
    (100 to 110).map(i => (i.toLong, "z", 0.0)).toDF("id", "k", "v")
      .write.format("graft-delta").mode("ignore").save(d)
    assert(ids(d) == (1L to 40L).toSet)
    // Append lands through the production appendDelta (gates included)
    (41 to 50).map(i => (i.toLong, "a", i * 1.5)).toDF("id", "k", "v")
      .write.format("graft-delta").mode("append").save(d)
    assert(ids(d) == (1L to 50L).toSet)
    // replaceWhere swaps exactly the matching slice
    val repl = Seq((1000L, "a", 0.0)).toDF("id", "k", "v")
    repl.write.format("graft-delta").mode("overwrite")
      .option("replaceWhere", "k = 'a'").save(d)
    val after = DeltaReader.read(spark, d)
    assert(after.where("k = 'a'").count() == 1L)
    // survivors: base rows 1..40 whose k != 'a' (the 41..50 append was
    // all-'a', so replaceWhere consumed it entirely)
    assert(after.where("k != 'a'").collect().map(_.getLong(0)).toSet ==
      (1L to 40L).filterNot(_ % 4 == 0).toSet)
    // full overwrite replaces the table state
    base.write.format("graft-delta").mode("overwrite").save(d)
    assert(ids(d) == (1L to 40L).toSet)
    // delta.* options at CREATE become configuration, case preserved
    val d2 = freshDir("fw2")
    base.write.format("graft-delta").option("delta.appendOnly", "true").save(d2)
    assert(DeltaReader.snapshot(spark, d2, None)
      .configuration.get("delta.appendOnly").contains("true"))
    // delta.feature.* / delta.minWriterVersion options survive the V1
    // lowercasing and CONSUME into the creating protocol
    val d3 = freshDir("fw3")
    base.write.format("graft-delta")
      .option("delta.feature.typeWidening", "supported")
      .option("delta.minWriterVersion", "7").save(d3)
    val s3 = DeltaReader.snapshot(spark, d3, None)
    assert(s3.minWriter == 7 && s3.readerFeatures.contains("typeWidening"),
      s"${s3.minReader}/${s3.minWriter} rf=${s3.readerFeatures}")
    assert(!s3.configuration.keys.exists(k =>
      k.toLowerCase.startsWith("delta.feature.") ||
        k.toLowerCase == "delta.minwriterversion"), s3.configuration.toString)
    // round-trip: the write door's table reads back through the read door
    assert(ids(d) == spark.read.format("graft-delta").load(d)
      .select("id").collect().map(_.getLong(0)).toSet)
  }

  test("CDF startingTimestamp resolves once on the ICT series; future starts after current") {
    val d = freshDir("ts")
    LakeWriter.writeDelta(base, d, configuration = Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.updateWhere(spark, d, "k = 'a'", Map("v" -> "v * 2"))   // v1
    LakeWriter.deleteWhere(spark, d, "k = 'b'")                        // v2
    val log = new org.apache.hadoop.fs.Path(d, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val ts1 = DeltaReader.commitIct(fs, log, 1L).get
    val (got, _) = drain(d, freshDir("cpts"),
      Map("readChangeFeed" -> "true", "startingTimestamp" -> ts1.toString))
    val want = DeltaReader.readChanges(spark, d, 1L, 2L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(got.toSet == want.toSet && got.size == want.size,
      "startingTimestamp must replay from the first commit stamped at or after it")

    // a timestamp beyond the newest commit starts AFTER the current
    // version: the first drain records the position and delivers
    // nothing, a later mutation streams
    val cp2 = freshDir("cpts2")
    val far = (ts1 + 31536000000L).toString
    val (none, _) = drain(d, cp2,
      Map("readChangeFeed" -> "true", "startingTimestamp" -> far))
    assert(none.isEmpty, s"future startingTimestamp must deliver nothing, got $none")
    LakeWriter.deleteWhere(spark, d, "k = 'c'")                        // v3
    val (late, _) = drain(d, cp2,
      Map("readChangeFeed" -> "true", "startingTimestamp" -> far))
    val want3 = DeltaReader.readChanges(spark, d, 3L, 3L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(late.toSet == want3.toSet && late.size == want3.size)

    // the two start options are mutually exclusive
    intercept[IllegalArgumentException] {
      graft.streaming.GraftDeltaSource.Options(
        Map("path" -> d, "startingVersion" -> "0", "startingTimestamp" -> "123"))
        .startingTimestampMillis
    }
  }

  test("CDF without startingVersion starts after the current version") {
    val d = freshDir("t"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base, d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    LakeWriter.updateWhere(spark, d, "k = 'a'", Map("v" -> "v * 2"))
    // first drain records the position (v1), delivers nothing
    val (got, _) = drain(d, cp, Map("readChangeFeed" -> "true"))
    assert(got.isEmpty, "start-after-current must deliver no history")
    // a new commit then streams
    LakeWriter.deleteWhere(spark, d, "k = 'd'")
    val (inc, _) = drain(d, cp, Map("readChangeFeed" -> "true"))
    val want = DeltaReader.readChanges(spark, d, 2L, 2L)
      .collect().map(_.toSeq.toVector).toSeq
    assert(inc.toSet == want.toSet && inc.nonEmpty)
  }

  test("registered sink: Delta-to-Delta mirror, exactly-once across redelivery") {
    val src = freshDir("src"); val dst = freshDir("dst"); val cp = freshDir("cp")
    LakeWriter.writeDelta(base.repartition(2), src)
    def mirror(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    mirror()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    // restart with the same checkpoint: nothing new, nothing duplicated
    mirror()
    assert(batchRows(dst).size == batchRows(src).size)
    // two appends to the source stream through to the mirror
    LakeWriter.appendDelta((50 to 55).map(i => (i.toLong, "e", 1.0)).toDF("id", "k", "v"), src)
    LakeWriter.appendDelta((60 to 62).map(i => (i.toLong, "f", 2.0)).toDF("id", "k", "v"), src)
    mirror()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    // simulate a REDELIVERY (crash after sink commit, before the query
    // checkpoint advanced): replaying an already-committed batch id
    // must skip, not double-append
    val before = batchRows(dst).size
    val scoped = graft.streaming.DeltaStream.scopedAppId("graft-delta-sink", cp)
    graft.streaming.DeltaStream.commitBatch(
      (60 to 62).map(i => (i.toLong, "f", 2.0)).toDF("id", "k", "v"), dst, scoped, 0L)
    assert(batchRows(dst).size == before, "batch 0 is below the txn watermark — must skip")
  }

  test("registered sink upserts with mergeKeys (CDC-apply shape)") {
    val dst = freshDir("dst"); val cp = freshDir("cp")
    val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("id", "k", "v")
      .writeStream.format("graft-delta")
      .option("checkpointLocation", cp)
      .option("mergeKeys", "id")
      .start(dst)
    mem.addData((1L, "a", 1.0), (2L, "b", 2.0))
    q.processAllAvailable()
    mem.addData((2L, "B", 20.0), (3L, "c", 3.0)) // update id=2, insert id=3
    q.processAllAvailable()
    q.stop()
    val got = DeltaReader.read(spark, dst).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
  }

  test("cdcApply sink: full Delta-to-Delta replication through the change feed") {
    val src = freshDir("rsrc"); val dst = freshDir("rdst"); val cp = freshDir("rcp")
    LakeWriter.writeDelta(base.repartition(2), src,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    LakeWriter.updateWhere(spark, src, "k = 'a'", Map("v" -> "v * 10"))
    LakeWriter.deleteWhere(spark, src, "id % 7 = 0")
    def replicate(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", cp)
        .option("mergeKeys", "id").option("cdcApply", "true")
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    replicate()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    // more churn: delete + update + append, replicated incrementally
    LakeWriter.deleteWhere(spark, src, "k = 'b'")
    LakeWriter.appendDelta((200 to 203).map(i => (i.toLong, "z", 5.0))
      .toDF("id", "k", "v"), src)
    LakeWriter.updateWhere(spark, src, "id = 200", Map("v" -> "99.0"))
    replicate()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    // restart with nothing new: no duplicates, no changes
    replicate()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    // update-then-delete of one key within ONE batch lands as the delete
    LakeWriter.updateWhere(spark, src, "id = 201", Map("v" -> "1000.0"))
    LakeWriter.deleteWhere(spark, src, "id = 201")
    replicate()
    assert(batchRows(dst).toSet == batchRows(src).toSet)
    assert(!batchRows(dst).exists(_.head == 201L))
  }

  test("mergeSchema sink: a restarted query with a wider stream evolves the table") {
    val dst = freshDir("ms"); val cp = freshDir("mscp")
    val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "k").writeStream.format("graft-delta")
      .option("checkpointLocation", cp).start(dst)
    mem.addData((1L, "a")); q.processAllAvailable(); q.stop()
    // restart with a WIDER stream: without mergeSchema the append gate
    // refuses; with it the table evolves and old rows read null
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Double)]
    val cp2 = freshDir("mscp2")
    val q2bad = mem2.toDF().toDF("id", "k", "score").writeStream.format("graft-delta")
      .option("checkpointLocation", cp2).start(dst)
    mem2.addData((2L, "b", 2.0))
    val eb = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2bad.processAllAvailable()
    }
    assert(eb.getMessage.contains("appendDelta") || eb.getMessage.contains("columns"))
    q2bad.stop()
    // a fresh checkpoint replays the MemoryStream from its start, so
    // both rows 2 and 3 land through the evolving sink
    val cp3 = freshDir("mscp3")
    val q2 = mem2.toDF().toDF("id", "k", "score").writeStream.format("graft-delta")
      .option("checkpointLocation", cp3).option("mergeSchema", "true").start(dst)
    mem2.addData((3L, "c", 3.0)); q2.processAllAvailable(); q2.stop()
    val out = DeltaReader.read(spark, dst).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.isNullAt(2) && out.last.getDouble(2) == 3.0)
  }

  test("source schema matches the batch reader's (and CDF adds the change columns)") {
    val d = freshDir("t")
    LakeWriter.writeDelta(base, d,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val stream = spark.readStream.format("graft-delta").load(d)
    assert(stream.isStreaming)
    assert(stream.schema.map(f => (f.name, f.dataType)) ==
      DeltaReader.read(spark, d).schema.map(f => (f.name, f.dataType)))
    val cdf = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(d)
    assert(cdf.schema.fieldNames.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
  }

  test("an append stream pinned before a column-mapping removal and ADD COLUMNS refuses by name; a fresh stream delivers") {
    import graft.streaming.{GraftDeltaSource, GraftDeltaSourceOffset}
    val d = freshDir("cmadd"); val cp = freshDir("cmaddcp")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), d)       // v0
    val (first, _) = drain(d, cp)
    assert(first.map(_.head) == Seq(0L))
    // a source constructed now pins the two-column schema
    val pinned = new GraftDeltaSource(spark, GraftDeltaSource.Options(Map("path" -> d)))
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), d)           // v1: physical names
    LakeWriter.removeColumnMapping(spark, d)                              // v2
    LakeWriter.alterAddColumns(spark, d, Seq("w" -> "double"))            // v3
    LakeWriter.appendDelta(Seq((11L, "b", 9.5)).toDF("id", "v", "w"), d) // v4
    val e = intercept[IllegalArgumentException] {
      pinned.getBatch(Some(GraftDeltaSourceOffset(0L)), GraftDeltaSourceOffset(4L))
    }
    assert(e.getMessage.contains("schema changed mid-stream"), e.getMessage)
    // a fresh stream tailing from v1 pins the evolved schema: v1's row
    // arrives with w null-filled, v4's whole
    val (inc, _) = drain(d, freshDir("cmaddcp2"), Map("startingVersion" -> "1"))
    assert(inc.toSet == Set(Seq(10L, "a", null), Seq(11L, "b", 9.5)), inc.toString)
    // the stream restarted on its FIRST checkpoint adopts the evolved
    // schema too: Spark replays the committed v0 batch (two columns),
    // then the tail delivers v1..v4 in the three-column shape
    val (resumed, _) = drain(d, cp)
    assert(resumed.toSet == Set(Seq(10L, "a", null), Seq(11L, "b", 9.5)), resumed.toString)
  }

  test("an append stream capped by maxFilesPerTrigger cuts the same batches across a compaction commit") {
    /** The ids of each non-empty batch, in order. */
    def batches(dir: String): Seq[Set[Long]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = spark.readStream.format("graft-delta")
        .option("startingVersion", "1").option("maxFilesPerTrigger", "2").load(dir)
        .writeStream.option("checkpointLocation", freshDir("capcp"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.collect().map(_.getLong(0)).toSet
          if (ids.nonEmpty) out.synchronized { out += ids }
          ()
        }.start()
      q.awaitTermination()
      out.toSeq
    }
    def append(dir: String, id: Long): Unit =
      LakeWriter.appendDelta(Seq((id, "x")).toDF("id", "k").coalesce(1), dir)
    val plain = freshDir("capplain"); val compacted = freshDir("capcompact")
    Seq(plain, compacted).foreach { d =>
      LakeWriter.writeDelta(Seq((0L, "x")).toDF("id", "k").coalesce(1), d)
      append(d, 1L); append(d, 2L)
      // a layout commit: dataChange=false removes and one new add
      if (d == compacted) LakeWriter.compactDelta(spark, d)
      append(d, 3L); append(d, 4L)
    }
    val want = batches(plain)
    assert(want == Seq(Set(1L, 2L), Set(3L, 4L)), want.toString)
    assert(batches(compacted) == want)
  }

  test("a capped stream from before a rename and a re-added name refuses rather than hand the old values to the new column") {
    import graft.streaming.{GraftDeltaSource, GraftDeltaSourceOffset}
    val d = freshDir("cmreadd")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), d)            // v0
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), d)                // v1
    LakeWriter.appendDelta(Seq((11L, "b")).toDF("id", "v"), d)                // v2
    LakeWriter.renameColumn(spark, d, "v", "x")                                // v3
    LakeWriter.alterAddColumns(spark, d, Seq("v" -> "string"))                 // v4
    LakeWriter.appendDelta(Seq((12L, "c", "d")).toDF("id", "x", "v"), d)      // v5
    // pinned at v5 (id, x, v); one file per batch makes the first batch
    // (0, 1], scanned under v1's metadata as (id, v) — and its v is the
    // pinned x (a rename), not the pinned v
    val err0 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(d, freshDir("cmreaddcp"), Map("startingVersion" -> "1", "maxFilesPerTrigger" -> "1"))
    }
    assert(err0.getMessage.contains("schema changed mid-stream"), err0.getMessage)
    val capped = new GraftDeltaSource(spark, GraftDeltaSource.Options(Map("path" -> d,
      "startingVersion" -> "1", "maxFilesPerTrigger" -> "1")))
    intercept[IllegalArgumentException] {
      capped.getBatch(Some(GraftDeltaSourceOffset(0L)), GraftDeltaSourceOffset(1L))
    }
    // uncapped, the one batch (0, 5] reads under v5's metadata and
    // carries v1's and v2's v to x by identity
    val (inc, _) = drain(d, freshDir("cmreaddcp2"), Map("startingVersion" -> "1"))
    assert(inc.toSet == Set(Seq(10L, "a", null), Seq(11L, "b", null), Seq(12L, "c", "d")),
      inc.toString)
    // a name dropped after the pin and re-added with the same type is
    // another column: the pinned source refuses rather than hand the
    // new column's values over as the old one's
    val e = freshDir("cmredrop")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), e)            // v0
    val pinned = new GraftDeltaSource(spark, GraftDeltaSource.Options(Map("path" -> e)))
    LakeWriter.dropColumn(spark, e, "v")                                       // v1
    LakeWriter.alterAddColumns(spark, e, Seq("v" -> "string"))                 // v2
    LakeWriter.appendDelta(Seq((1L, "n")).toDF("id", "v"), e)                 // v3
    val err = intercept[IllegalArgumentException] {
      pinned.getBatch(Some(GraftDeltaSourceOffset(0L)), GraftDeltaSourceOffset(3L))
    }
    assert(err.getMessage.contains("schema changed mid-stream"), err.getMessage)
  }

  test("a fresh append stream over a rename before a column-mapping removal delivers the real values") {
    val d = freshDir("cmren")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), d)       // v0
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), d)           // v1
    LakeWriter.renameColumn(spark, d, "v", "x")                           // v2
    LakeWriter.removeColumnMapping(spark, d)                              // v3
    LakeWriter.appendDelta(Seq((11L, "b")).toDF("id", "x"), d)           // v4
    val (inc, _) = drain(d, freshDir("cmrencp"), Map("startingVersion" -> "1"))
    assert(inc.toSet == Set(Seq(10L, "a"), Seq(11L, "b")), inc.toString)
  }

  test("reader and sink resolve the table option alike: a two-part name refuses with the three-part-name message") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val eRead = intercept[Exception] {
      spark.readStream.format("graft-delta").option("table", "a.b").load()
    }
    assert(messages(eRead).exists(_.contains("must be a three-part catalog name")), eRead.toString)
    val eSink = intercept[IllegalArgumentException] {
      new graft.streaming.GraftDeltaSourceProvider().createSink(spark.sqlContext,
        Map("table" -> "a.b", "checkpointLocation" -> freshDir("cp")), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(eSink.getMessage.contains("must be a three-part catalog name"), eSink.getMessage)
  }
}
