package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_millis}

/** Change Data Feed: mutation ops write complete `cdc` change data in
  * the same atomic commit on CDF-enabled tables; `readChanges` replays
  * row-level changes per version — from cdc actions when present, by
  * derivation for append/remove-only commits, and with a loud refusal
  * for underivable rewrites.
  */
class DeltaCdfSpec extends SparkSpec {

  private val CDF = Map("delta.enableChangeDataFeed" -> "true")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath

  /** (id, v, _change_type, _commit_version) tuples. */
  private def changes(df: DataFrame): Set[(Long, String, String, Long)] = {
    val s = spark
    import s.implicits._
    df.select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
  }

  private def rows(df: DataFrame): Set[(Long, String)] = {
    val s = spark
    import s.implicits._
    df.select("id", "v").as[(Long, String)].collect().toSet
  }

  test("delete/update/merge on a CDF table write complete change data; readChanges replays it") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1),
      dir, configuration = CDF)                                              // v0
    LakeWriter.appendDelta(Seq((3L, "d")).toDF("id", "v").coalesce(1), dir)  // v1
    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)            // v2
    assert(LakeWriter.updateWhere(spark, dir, "id = 2", Map("v" -> "'C'")).nonEmpty) // v3
    assert(LakeWriter.mergeInto(spark, dir,
      Seq((3L, "D"), (4L, "e")).toDF("id", "v"), Seq("id")).nonEmpty)        // v4

    // v0/v1 derive inserts from adds; v2-v4 come from cdc actions
    assert(changes(DeltaReader.readChanges(spark, dir, 0L, 4L)) == Set(
      (0L, "a", "insert", 0L), (1L, "b", "insert", 0L), (2L, "c", "insert", 0L),
      (3L, "d", "insert", 1L),
      (1L, "b", "delete", 2L),
      (2L, "c", "update_preimage", 3L), (2L, "C", "update_postimage", 3L),
      (3L, "d", "update_preimage", 4L), (3L, "D", "update_postimage", 4L),
      (4L, "e", "insert", 4L)))
    // subrange
    assert(changes(DeltaReader.readChanges(spark, dir, 2L, 3L)) == Set(
      (1L, "b", "delete", 2L),
      (2L, "c", "update_preimage", 3L), (2L, "C", "update_postimage", 3L)))
    // the table state is unaffected by CDF bookkeeping
    assert(rows(DeltaReader.read(spark, dir)) ==
      Set((0L, "a"), (2L, "C"), (3L, "D"), (4L, "e")))
    // the CDF table's protocol declares the legacy CDF writer floor
    assert(DeltaReader.snapshot(spark, dir, None).minWriter >= 4L)
  }

  test("_commit_timestamp rides every derivation path and honors in-commit timestamps") {
    val s = spark
    import s.implicits._
    // ICT table: the stamp IN the commit is authoritative for CDF time
    val dir = tmp("graft_cdf_ts_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir,
      configuration = CDF + ("delta.enableInCommitTimestamps" -> "true"))     // v0
    LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v").coalesce(1), dir)   // v1
    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)             // v2 (cdc)
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val icts = (0L to 2L).map(v =>
      v -> DeltaReader.commitIct(fs, log, v).get).toMap
    val got = DeltaReader.readChanges(spark, dir, 0L, 2L)
      .select(col("_commit_version"), unix_millis(col("_commit_timestamp")))
      .as[(Long, Long)].collect().toSet
    // derived adds (v0, v1) and cdc actions (v2) all carry the ICT
    assert(got == icts.toSet, s"$got vs $icts")

    // derived removes: a removes-only commit (a foreign writer's
    // whole-file drop); its rows must still carry a timestamp, and
    // the per-version series must be monotone
    val dir2 = tmp("graft_cdf_ts_rm_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir2)   // v0
    LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v").coalesce(1), dir2)  // v1
    val victim = DeltaReader.snapshot(spark, dir2, None).active
      .find(a => a.stats.exists(_.contains("\"id\":1"))).get
    java.nio.file.Files.write(                                                // v2: removes-only
      java.nio.file.Paths.get(dir2, "_delta_log", "0" * 18 + "02.json"),
      (s"""{"commitInfo":{"timestamp":0,"operation":"DELETE","operationParameters":{},"readVersion":1,"engineInfo":"ext"}}""" +
        "\n" + s"""{"remove":{"path":"${victim.path}","deletionTimestamp":0,"dataChange":true}}""").getBytes("UTF-8"))
    val series = DeltaReader.readChanges(spark, dir2, 0L, 2L)
      .select(col("_commit_version"), col("_commit_timestamp").cast("long"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(series.map(_._1) == Seq(0L, 1L, 2L))
    assert(series.forall(_._2 > 0L), series.mkString(", "))
    assert(series.sliding(2).forall(p => p.head._2 <= p.last._2),
      s"non-monotone CDF timestamps: $series")
  }

  test("readChangesTimestamp windows resolve on the ICT series; out-of-range refuses") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_tsr_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir,
      configuration = CDF + ("delta.enableInCommitTimestamps" -> "true"))     // v0
    LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v").coalesce(1), dir)   // v1
    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)             // v2
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val ts = (0L to 2L).map(v => v -> DeltaReader.commitIct(fs, log, v).get).toMap
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      assert(changes(a) == changes(b))
    // exact window bounds
    same(DeltaReader.readChangesTimestamp(spark, dir, ts(1L), ts(2L)),
      DeltaReader.readChanges(spark, dir, 1L, 2L))
    same(DeltaReader.readChangesTimestamp(spark, dir, ts(0L), ts(2L)),
      DeltaReader.readChanges(spark, dir, 0L, 2L))
    // a from between stamps rounds UP to the next commit; a to between
    // stamps rounds DOWN — delta-spark's CDC rule
    if (ts(1L) > ts(0L) + 1 && ts(2L) > ts(1L) + 1)
      same(DeltaReader.readChangesTimestamp(spark, dir, ts(0L) + 1, ts(2L) - 1),
        DeltaReader.readChanges(spark, dir, 1L, 1L))
    // the TVF accepts the same window as timestamp strings
    val f = new java.sql.Timestamp(ts(1L)).toString
    val t2 = new java.sql.Timestamp(ts(2L)).toString
    val tvf = spark.sql(
      s"SELECT count(*) AS n FROM graft_delta_changes('$dir', '$f', '$t2')")
      .head().getLong(0)
    assert(tvf == DeltaReader.readChanges(spark, dir, 1L, 2L).count())
    // refusals: a start beyond the newest commit, an end before the
    // earliest retained one
    val e1 = intercept[IllegalArgumentException] {
      DeltaReader.readChangesTimestamp(spark, dir, ts(2L) + 1000000L, ts(2L) + 2000000L)
    }
    assert(e1.getMessage.contains("no commit at or after"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaReader.readChangesTimestamp(spark, dir, 0L, ts(0L) - 1)
    }
    assert(e2.getMessage.contains("predates"), e2.getMessage)
  }

  test("non-CDF tables: appends derive inserts; rewrite commits refuse loudly") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_off_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir) // v0
    LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v").coalesce(1), dir)           // v1
    assert(changes(DeltaReader.readChanges(spark, dir, 0L, 1L)) == Set(
      (0L, "a", "insert", 0L), (1L, "b", "insert", 0L), (2L, "c", "insert", 1L)))

    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)                     // v2
    val e = intercept[IllegalArgumentException] {
      DeltaReader.readChanges(spark, dir, 0L, 2L).count()
    }
    assert(e.getMessage.contains("not derivable"), e.getMessage)
    // the clean prefix still reads
    assert(changes(DeltaReader.readChanges(spark, dir, 1L, 1L)) ==
      Set((2L, "c", "insert", 1L)))
  }

  test("deleteWhereDv on a CDF table writes cdc; the protocol upgrade keeps changeDataFeed") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_dv_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1),
      dir, configuration = CDF)                                     // v0
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1").size == 1) // v1
    assert(changes(DeltaReader.readChanges(spark, dir, 1L, 1L)) ==
      Set((1L, "b", "delete", 1L)))
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c")))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.writerFeatures.contains("deletionVectors"))
    assert(snap.writerFeatures.contains("changeDataFeed"))
    // a second DV delete must not re-deliver already-dead rows as changes
    assert(LakeWriter.deleteWhereDv(spark, dir, "id <= 1").size == 1) // v2: only id=0 matches
    assert(changes(DeltaReader.readChanges(spark, dir, 2L, 2L)) ==
      Set((0L, "a", "delete", 2L)))
  }

  test("partitioned CDF table: cdc files land under partition dirs and values re-attach") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_part_")
    LakeWriter.writeDelta(
      Seq((0L, "a", "x"), (1L, "b", "x"), (2L, "c", "y")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"), configuration = CDF)             // v0
    assert(LakeWriter.deleteWhere(spark, dir, "p = 'x' AND id = 1").nonEmpty) // v1
    val ch = DeltaReader.readChanges(spark, dir, 1L, 1L)
    import s.implicits._
    assert(ch.select("id", "v", "p", "_change_type").as[(Long, String, String, String)]
      .collect().toSet == Set((1L, "b", "x", "delete")))
    // the cdc parquet is partition-laid-out under _change_data
    val cdc = new java.io.File(dir, "_change_data/p=x")
    assert(cdc.isDirectory && cdc.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("vacuum reclaims cdc files below the horizon, keeps the window's") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_vac_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1),
      dir, configuration = CDF)                                     // v0
    assert(LakeWriter.deleteWhere(spark, dir, "id = 0").nonEmpty)   // v1: cdc A
    LakeWriter.appendDelta(Seq((3L, "d")).toDF("id", "v").coalesce(1), dir) // v2
    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)   // v3: cdc B
    def cdcFiles(): Set[String] = {
      val d = new java.io.File(dir, "_change_data")
      if (!d.isDirectory) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    assert(cdcFiles().size == 2)
    val deleted = LakeWriter.vacuumDelta(spark, dir, 2L)
    assert(deleted.exists(_.startsWith("_change_data/")), deleted.mkString(", "))
    assert(cdcFiles().size == 1)
    // the surviving window's change data still replays
    assert(changes(DeltaReader.readChanges(spark, dir, 3L, 3L)) ==
      Set((1L, "b", "delete", 3L)))
  }

  test("the CDF streaming tail replays changes per version and survives resume") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_tail_")
    val cp = tmp("graft_cdf_tail_cp_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1),
      dir, configuration = CDF)                                      // v0
    assert(LakeWriter.deleteWhere(spark, dir, "id = 0").nonEmpty)    // v1
    assert(LakeWriter.updateWhere(spark, dir, "id = 1", Map("v" -> "'B'")).nonEmpty) // v2

    // from-history start, one version per trigger: 3 batches, whose
    // union equals the batch readChanges over the whole range
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val batches = graft.streaming.DeltaTail.drainChanges(spark, dir, cp,
      (df, _) => got ++= changes(df),
      startingVersion = Some(0L), maxVersionsPerTrigger = Some(1))
    assert(batches == 3, s"expected 3 single-version batches, got $batches")
    assert(got.toSet == changes(DeltaReader.readChanges(spark, dir, 0L, 2L)))
    // quiescent: nothing redelivers
    assert(graft.streaming.DeltaTail.drainChanges(spark, dir, cp,
      (_, _) => fail("no new versions — nothing must deliver")) == 0)
    // new mutation → exactly its changes deliver on the next poll
    assert(LakeWriter.deleteWhere(spark, dir, "id = 1").nonEmpty)    // v3
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    assert(graft.streaming.DeltaTail.drainChanges(spark, dir, cp,
      (df, _) => got2 ++= changes(df)) == 1)
    assert(got2.toSet == Set((1L, "B", "delete", 3L)))
  }

  test("the CDF change tail delivers across a column-mapping REMOVAL; the watermark advances") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_tailrm_")
    val cp = tmp("graft_cdf_tailrm_cp_")
    LakeWriter.writeDeltaMapped(
      (0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)        // v0, physical names
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                     // v1
    assert(graft.streaming.DeltaTail.pollChangesOnce(spark, dir, cp,
      (_, _) => fail("start-from-now must not deliver history")).isEmpty)
    LakeWriter.deleteWhere(spark, dir, "id = 1")                       // v2: cdc PHYSICAL names
    LakeWriter.removeColumnMapping(spark, dir)                         // v3
    LakeWriter.appendDelta(Seq((100L, "x")).toDF("id", "v"), dir)      // v4
    // ONE poll spans v2..v4 — a removal-crossing window the batch API
    // refuses; the poller cannot split its own window, so it must
    // deliver per-version (a strict read here wedged the watermark
    // forever: every poll recomputed the same refused window)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    assert(graft.streaming.DeltaTail.pollChangesOnce(spark, dir, cp,
      (df, _) => got ++= changes(df)).contains(4L))
    assert(got.toSet == Set((1L, "v1", "delete", 2L), (100L, "x", "insert", 4L)),
      got.toString)
    // and the tail is quiescent after — the watermark genuinely moved
    assert(graft.streaming.DeltaTail.pollChangesOnce(spark, dir, cp,
      (_, _) => fail("nothing new — nothing must deliver")).isEmpty)
  }

  test("readChangesSplit projects slices to the window-end schema: removal + ADD COLUMNS in one window") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_splitsc_")
    LakeWriter.writeDeltaMapped(
      (0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)        // v0
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                     // v1
    LakeWriter.deleteWhere(spark, dir, "id = 1")                       // v2: old 2-column shape
    LakeWriter.removeColumnMapping(spark, dir)                         // v3
    LakeWriter.alterAddColumns(spark, dir, Seq("w" -> "double"))       // v4
    LakeWriter.appendDelta(Seq((100L, "x", 9.5)).toDF("id", "v", "w"), dir) // v5
    // v2's slice has no 'w' — it must null-fill to the window-end
    // shape instead of blowing up the union with a resolution error
    val got = DeltaReader.readChangesSplit(spark, dir, 2L, 5L)
      .selectExpr("id", "v", "w", "_change_type")
      .as[(Long, String, Option[Double], String)].collect().toSet
    assert(got == Set((1L, "v1", None, "delete"), (100L, "x", Some(9.5), "insert")),
      got.toString)
  }

  test("readChangesSplit carries a column renamed before a column-mapping removal by identity") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_splitren_")
    LakeWriter.writeDeltaMapped(
      (0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)        // v0
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                     // v1
    LakeWriter.deleteWhere(spark, dir, "id = 1")                       // v2: keyed (id, v)
    LakeWriter.renameColumn(spark, dir, "v", "x")                      // v3
    LakeWriter.removeColumnMapping(spark, dir)                         // v4
    LakeWriter.appendDelta(Seq((100L, "y")).toDF("id", "x"), dir)      // v5
    val got = DeltaReader.readChangesSplit(spark, dir, 2L, 5L)
      .selectExpr("id", "x", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "v1", "delete"), (100L, "y", "insert")), got.toString)
  }

  test("the CDF tail's start-from-now mode skips history") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_now_")
    val cp = tmp("graft_cdf_now_cp_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1),
      dir, configuration = CDF)                                      // v0
    // first poll records position, delivers nothing
    assert(graft.streaming.DeltaTail.pollChangesOnce(spark, dir, cp,
      (_, _) => fail("start-from-now must not deliver history")).isEmpty)
    assert(LakeWriter.deleteWhere(spark, dir, "id = 0").nonEmpty)    // v1
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    assert(graft.streaming.DeltaTail.pollChangesOnce(spark, dir, cp,
      (df, _) => got ++= changes(df)).contains(1L))
    assert(got.toSet == Set((0L, "a", "delete", 1L)))
  }

  test("compaction is allowed on CDF tables and readChanges skips its commit") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_comp_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir,
      configuration = CDF)                                          // v0
    LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v").coalesce(1), dir) // v1
    LakeWriter.compactDelta(spark, dir, minFiles = 2)               // v2: dataChange=false
    assert(DeltaReader.snapshot(spark, dir, None).version == 2L)
    assert(DeltaReader.readChanges(spark, dir, 2L, 2L).count() == 0L)
    assert(changes(DeltaReader.readChanges(spark, dir, 0L, 2L)) == Set(
      (0L, "a", "insert", 0L), (1L, "b", "insert", 1L)))
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (1L, "b")))
  }

  test("a window crossing a column-mapping REMOVAL refuses; split windows read") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_cdf_cmrm_")
    // physically-keyed table (col-xxx footers) with CDF
    LakeWriter.writeDeltaMapped(
      (0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"), dir)       // v0
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                     // v1
    LakeWriter.deleteWhere(spark, dir, "id = 2")                       // v2: cdc under PHYSICAL names
    LakeWriter.removeColumnMapping(spark, dir)                         // v3: re-key to logical
    // the straddling window would read v2's physically-keyed cdc file
    // under the now-logical schema — silent null-misreads (the r17
    // repro); it must refuse loudly instead
    val e = intercept[IllegalArgumentException](
      DeltaReader.readChanges(spark, dir, 2L, 3L))
    assert(e.getMessage.contains("column-mapping transition"), e.getMessage)
    // split at the transition: BOTH sides read correctly
    val before = DeltaReader.readChanges(spark, dir, 2L, 2L)
      .selectExpr("id", "_change_type").as[(Long, String)].collect().toSet
    assert(before == Set((2L, "delete")), before.toString)
    LakeWriter.appendDelta(Seq((100L, "x")).toDF("id", "v"), dir)      // v4
    val after = DeltaReader.readChanges(spark, dir, 3L, 4L)
      .selectExpr("id", "_change_type").as[(Long, String)].collect().toSet
    assert(after == Set((100L, "insert")), after.toString)
    // ROUND TRIP: re-upgrade after the removal — the ENDPOINTS now
    // agree ('name' at v2 and after v5) and an endpoint-only guard
    // would silently null-misread v2's cdc file (keyed by the ORIGINAL
    // physical names) under the re-upgrade's NEW mapping; the
    // in-window restatement walk refuses at the removal
    LakeWriter.alterProperties(spark, dir,
      Map("delta.columnMapping.mode" -> "name"))                       // v5
    LakeWriter.deleteWhere(spark, dir, "id = 3")                       // v6
    val e2 = intercept[IllegalArgumentException](
      DeltaReader.readChanges(spark, dir, 2L, 6L))
    assert(e2.getMessage.contains("column-mapping transition"), e2.getMessage)
    // the sub-window crossing only the RE-UPGRADE stays additive-readable
    val mixed = DeltaReader.readChanges(spark, dir, 4L, 6L)
      .selectExpr("id", "_change_type").as[(Long, String)].collect().toSet
    assert(mixed == Set((100L, "insert"), (3L, "delete")), mixed.toString)
    // the UPGRADE direction stays additive: none -> name windows read
    val dir2 = tmp("graft_cdf_cmup_")
    LakeWriter.writeDelta((0L until 3L).map(i => (i, s"v$i")).toDF("id", "v"),
      dir2, configuration = CDF)                                       // v0
    LakeWriter.alterProperties(spark, dir2,
      Map("delta.columnMapping.mode" -> "name"))                       // v1
    LakeWriter.deleteWhere(spark, dir2, "id = 1")                      // v2
    val up = DeltaReader.readChanges(spark, dir2, 0L, 2L)
      .selectExpr("id", "_change_type").as[(Long, String)].collect().toSet
    assert(up == Set((0L, "insert"), (1L, "insert"), (2L, "insert"),
      (1L, "delete")), up.toString)
    // ... even with a RENAME after the upgrade in the same window: the
    // pre-upgrade change files carry the column's ORIGINAL name, which
    // is exactly the physicalName the upgrade stamped — so they keep
    // resolving under the renamed window-end schema, values intact
    LakeWriter.renameColumn(spark, dir2, "v", "txt")                   // v3
    LakeWriter.deleteWhere(spark, dir2, "id = 2")                      // v4
    val up2 = DeltaReader.readChanges(spark, dir2, 0L, 4L)
      .selectExpr("id", "txt", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(up2 == Set((0L, "v0", "insert"), (1L, "v1", "insert"),
      (2L, "v2", "insert"), (1L, "v1", "delete"), (2L, "v2", "delete")),
      up2.toString)
  }
}
