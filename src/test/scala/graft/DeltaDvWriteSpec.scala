package graft

import graft.sources.{DeltaReader, LakeWriter}
import graft.streaming.DeltaTail
import org.apache.spark.sql.DataFrame

/** Deletion-vector WRITES (`LakeWriter.deleteWhereDv`): merge-on-read
  * deletes that keep data files in place and commit a roaring-bitmap
  * sidecar instead — protocol upgrade semantics, union with existing
  * DVs, partitioned/column-mapped layouts, and interop with the
  * copy-on-write mutation family and the streaming tail.
  */
class DeltaDvWriteSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath

  private def rows(df: DataFrame): Set[(Long, String)] = {
    val s = spark
    import s.implicits._
    df.select("id", "v").as[(Long, String)].collect().toSet
  }

  private def sidecars(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))

  private def parquets(dir: String): Set[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

  test("DV delete hides rows WITHOUT rewriting files; time travel sees them; protocol upgrades") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.appendDelta(Seq((2L, "c"), (3L, "d")).toDF("id", "v").coalesce(1), dir)
    val before = DeltaReader.snapshot(spark, dir, None)
    val filesBefore = parquets(dir)

    val affected = LakeWriter.deleteWhereDv(spark, dir, "id = 1")
    assert(affected.size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c"), (3L, "d")))
    assert(rows(DeltaReader.read(spark, dir, Some(1L))) ==
      Set((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))

    // the data files are EXACTLY the ones from before — no rewrite —
    // and one sidecar .bin appeared
    assert(parquets(dir) == filesBefore)
    assert(sidecars(dir).size == 1)
    val after = DeltaReader.snapshot(spark, dir, None)
    assert(after.version == before.version + 1)
    assert(after.active.map(_.path).toSet == before.active.map(_.path).toSet)
    // only the affected file carries a descriptor; its cardinality is 1
    val dvd = after.active.filter(_.dv.isDefined)
    assert(dvd.map(_.path) == affected)
    assert(dvd.head.dv.get.cardinality == 1L)
    assert(dvd.head.dv.get.storageType == "u")

    // in-commit protocol upgrade: (3,7), deletionVectors declared both
    // sides, the legacy writer obligations made explicit
    assert(after.minReader == 3L && after.minWriter == 7L)
    assert(after.readerFeatures.contains("deletionVectors"))
    assert(Set("deletionVectors", "appendOnly", "invariants")
      .subsetOf(after.writerFeatures.toSet))
    // ... and neither obligation the table never declared
    assert(!after.writerFeatures.contains("checkConstraints"))
    assert(!after.writerFeatures.contains("generatedColumns"))
  }

  test("second DV delete on the same file unions with the first; appends still work") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_union_")
    LakeWriter.writeDelta(
      Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1").size == 1)
    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'c'").size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d")))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.active.size == 1 && snap.active.head.dv.get.cardinality == 2L)
    // the upgraded v7 table still accepts pure appends
    LakeWriter.appendDelta(Seq((4L, "e")).toDF("id", "v"), dir)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d"), (4L, "e")))
  }

  test("NULL predicate rows survive; a no-match predicate writes neither commit nor sidecar") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_null_")
    LakeWriter.writeDelta(
      Seq((0L, "a"), (1L, null.asInstanceOf[String])).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'a'").size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((1L, null.asInstanceOf[String])))

    val v = DeltaReader.snapshot(spark, dir, None).version
    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'zzz'") == Nil)
    assert(DeltaReader.snapshot(spark, dir, None).version == v)
    assert(sidecars(dir).size == 1)
  }

  test("DV delete on a table with a pre-existing inline DV unions instead of resurrecting") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_foreign_")
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val stage = new java.io.File(dir, "_stage_fix")
    Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v")
      .coalesce(1).write.parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(dir, "part-0001.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    val bitmap = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(Integer.reverseBytes(1681511377))
      out.writeLong(java.lang.Long.reverseBytes(1L))
      out.writeInt(Integer.reverseBytes(0))
      val rb = new org.roaringbitmap.RoaringBitmap(); rb.add(1); rb.serialize(out)
      out.flush(); bos.toByteArray
    }
    val padded = bitmap ++ new Array[Byte]((4 - bitmap.length % 4) % 4)
    commitLines(log, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"dvwf","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"part-0001.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${
        DeltaReader.base85Encode(padded)}","sizeInBytes":${bitmap.length},"cardinality":1}}}"""))
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c"), (3L, "d")))

    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'c'") == Seq("part-0001.parquet"))
    // "b" (inline-DV-deleted before) and "c" (new) are both gone
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d")))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.active.head.dv.get.cardinality == 2L)
    assert(snap.active.head.dv.get.storageType == "u")
  }

  test("partitioned table: descriptor lands on the matched partition's file, pv preserved") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_part_")
    LakeWriter.writeDelta(
      Seq((0L, "a", "x"), (1L, "b", "x"), (2L, "c", "y"), (3L, "d", "y"))
        .toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))

    val affected = LakeWriter.deleteWhereDv(spark, dir, "p = 'x' AND id = 0")
    assert(affected.size == 1 && affected.head.startsWith("p=x/"))
    val out = DeltaReader.read(spark, dir)
    assert(out.count() == 3 && out.where("id = 0").count() == 0)
    val snap = DeltaReader.snapshot(spark, dir, None)
    val dvd = snap.active.filter(_.dv.isDefined)
    assert(dvd.size == 1 && dvd.head.partitionValues.get("p").contains("x"))
    // partition y untouched: no descriptor, same entries, and the
    // pruned partition read works against the DV'd table
    assert(snap.active.filter(_.partitionValues.get("p").contains("y"))
      .forall(_.dv.isEmpty))
    assert(DeltaReader.readPartition(spark, dir, Map("p" -> "x")).count() == 1)
  }

  test("column-mapped table: logical predicate, DV'd read resolves, append still works") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_cm_")
    LakeWriter.writeDeltaMapped(
      Seq((0L, "a", "x"), (1L, "b", "x"), (2L, "c", "y")).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))

    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'b'").size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c")))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.readerFeatures.toSet == Set("columnMapping", "deletionVectors"))
    assert(Set("columnMapping", "deletionVectors").subsetOf(snap.writerFeatures.toSet))
    LakeWriter.appendDelta(Seq((3L, "d", "x")).toDF("id", "v", "p"), dir)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c"), (3L, "d")))
  }

  test("copy-on-write deleteWhere after a DV delete rewrites live rows and drops the DV") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_cow_")
    LakeWriter.writeDelta(
      Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1").size == 1)

    val removed = LakeWriter.deleteWhere(spark, dir, "v = 'c'")
    assert(removed.size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d")))
    assert(DeltaReader.snapshot(spark, dir, None).active.forall(_.dv.isEmpty))
  }

  test("DeltaTail refuses the DV-delete version (dataChange removes)") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_tail_")
    val cp = tmp("graft_dvw_tail_cp_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v"), dir)
    assert(DeltaTail.pollOnce(spark, dir, cp, (_, _) => ()) == Some(0L))

    assert(LakeWriter.deleteWhereDv(spark, dir, "v = 'b'").nonEmpty)
    val e = intercept[IllegalArgumentException] {
      DeltaTail.pollOnce(spark, dir, cp, (_, _) => ())
    }
    assert(e.getMessage.contains("dataChange=true"), e.getMessage)
  }

  test("checkpoint of a DV table re-emits descriptors: replay from checkpoint keeps rows deleted") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_cp_")
    LakeWriter.writeDelta(
      Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1").size == 1)
    LakeWriter.checkpointDelta(spark, dir, 1L)
    // force the checkpoint to BE the replay base: remove the commits
    new java.io.File(dir, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (2L, "c")))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.active.head.dv.get.cardinality == 1L)
    assert(snap.minReader == 3L && snap.readerFeatures.contains("deletionVectors"))
  }

  test("compaction folds DV'd files through the DV-applied scan and drops the vectors") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_compact_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.appendDelta(Seq((2L, "c"), (3L, "d")).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1 OR id = 2").size == 2)

    LakeWriter.compactDelta(spark, dir, minFiles = 2)
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.active.size == 1 && snap.active.forall(_.dv.isEmpty))
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d")))
    // layout-only commit: time travel below it still sees the DV view
    assert(rows(DeltaReader.read(spark, dir, Some(2L))) == Set((0L, "a"), (3L, "d")))
    assert(rows(DeltaReader.read(spark, dir, Some(1L))) ==
      Set((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))
  }

  test("vacuum keeps referenced sidecars, reclaims replaced ones, and the read survives") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_dvw_vac_")
    LakeWriter.writeDelta(
      Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v").coalesce(1), dir)
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 1").size == 1)   // sidecar A, v1
    assert(LakeWriter.deleteWhereDv(spark, dir, "id = 2").size == 1)   // sidecar B, v2
    assert(sidecars(dir).size == 2)

    // horizon at latest: v1's replaced descriptor (sidecar A) is no
    // longer referenced by any surviving version and gets reclaimed;
    // the live sidecar and data file stay; the read is unchanged
    val deleted = LakeWriter.vacuumDelta(spark, dir, 2L)
    assert(deleted.count(_.startsWith("deletion_vector_")) == 1)
    assert(sidecars(dir).size == 1)
    assert(rows(DeltaReader.read(spark, dir)) == Set((0L, "a"), (3L, "d")))
  }

  test("a broad DV delete over more files than shuffle partitions: every file DV'd, sidecars bounded by partitions") {
    import org.apache.spark.sql.functions.col
    val dir = tmp("graft_dvw_scatter_")
    val files = 12
    val n = files * 40L
    LakeWriter.writeDelta(spark.range(0, n, 1, files)
      .select(col("id"), col("id").cast("string").as("v")), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val live = DeltaReader.snapshot(spark, dir, None).active.map(_.path).toSet
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(live.size == files && files > partitions)

    val touched = LakeWriter.deleteWhereDv(spark, dir, "id % 2 = 0")
    assert(touched.toSet == live)
    val after = DeltaReader.snapshot(spark, dir, None).active
    assert(after.map(_.path).toSet == live)
    assert(after.forall(_.dv.exists(_.cardinality == 20L)), after.map(_.dv).toString)
    // each non-empty task partition writes ONE sidecar for all its files
    assert(sidecars(dir).nonEmpty && sidecars(dir).size <= partitions, sidecars(dir).toString)
    val read = DeltaReader.read(spark, dir)
    assert(read.count() == n / 2)
    assert(read.where("id % 2 = 0").count() == 0, "a deleted row resurrected")
  }

  test("append-only tables refuse deleteWhereDv loudly") {
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    def fixture(config: String): String = {
      val dir = tmp("graft_dvw_refuse_")
      val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
      commitLines(log, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"r","format":{"provider":"parquet","options":{}},"schemaString":${
          om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{$config}}}"""))
      dir
    }
    val ao = intercept[IllegalArgumentException] {
      LakeWriter.deleteWhereDv(spark, fixture(""""delta.appendOnly":"true""""), "id = 1")
    }
    assert(ao.getMessage.contains("appendOnly"), ao.getMessage)
    // CDF tables no longer refuse: deleteWhereDv writes change data in
    // the same commit — covered end-to-end in DeltaCdfSpec
  }

  private def commitLines(log: java.io.File, version: Long, lines: Seq[String]): Unit =
    java.nio.file.Files.write(new java.io.File(log, f"$version%020d.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
}
