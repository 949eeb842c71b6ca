package graft

import graft.sources.{DeltaReader, LakeWriter, TableMaintenance}
import org.apache.spark.sql.functions._

/** The housekeeping policy decides correctly; the ops it delegates to
  * have their own specs.
  */
class TableMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tm_$tag").resolve("t")
      .toAbsolutePath.toString

  test("append debt → compact + checkpoint + vacuum; second call all-skips") {
    val d = freshDir("a")
    LakeWriter.writeDelta((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1), d)
    // 30 single-file appends: small-file debt + commit debt + version debt
    (11 to 40).foreach(i =>
      LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), d))
    val filesBefore = DeltaReader.snapshot(spark, d, None).active.size
    assert(filesBefore == 31)
    val r = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 8, checkpointEvery = 10, retainVersions = 5)
    assert(r.compacted && r.compactSkipReason.isEmpty)
    assert(r.checkpointed.contains(31L)) // 30 appends + compaction commit
    // nothing reclaimable YET: every pre-horizon file is still
    // referenced by an in-window (pre-compaction) version — vacuum
    // correctly keeps them
    assert(r.vacuumed == 0, r.toString)
    val after = DeltaReader.snapshot(spark, d, None)
    assert(after.active.size < filesBefore / 3, s"still ${after.active.size} files")
    assert(DeltaReader.read(spark, d).count() == 40L)
    // push the horizon past the compaction: its tombstones fall out of
    // every retained version and the NEXT pass reclaims them
    (41 to 47).foreach(i =>
      LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), d))
    val r2 = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 20, checkpointEvery = 10, retainVersions = 5)
    assert(r2.vacuumed > 0, s"compaction tombstones below the horizon: $r2")
    assert(DeltaReader.read(spark, d).count() == 47L)
    // idempotent: nothing left to do
    val r3 = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 20, checkpointEvery = 10, retainVersions = 5)
    assert(!r3.compacted && r3.checkpointed.isEmpty && r3.vacuumed == 0, r3.toString)
  }

  test("preserved-profile tracked tables compact with stable ids; unready ones skip") {
    val d = freshDir("rt")
    LakeWriter.writeDelta((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(10), d)
    LakeWriter.enableRowTracking(spark, d)
    (1 to 12).foreach(i =>
      LakeWriter.appendDelta(Seq((100L + i, "x")).toDF("id", "v").coalesce(1), d))
    def idMap() = DeltaReader.readWithRowIds(spark, d).select("id", "_row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = idMap()
    // enableRowTracking configured the materialized columns, so the
    // nightly policy compacts the small-file debt WITH ids preserved
    val r = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 4, checkpointEvery = 5, retainVersions = 50)
    assert(r.compacted && r.compactSkipReason.isEmpty, r.toString)
    assert(r.checkpointed.isDefined, "checkpointing still applies")
    assert(idMap() == before, "maintenance must preserve every row id")
    assert(before.size == 22)

    // a foreign half-enabled table (feature declared, no watermark or
    // materialized-column configs) still skips, naming the reason
    val d2 = freshDir("rt2")
    LakeWriter.writeDelta((1 to 12).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(6), d2)
    LakeWriter.upgradeProtocol(spark, d2, 1, 7,
      writerFeatures = Seq("rowTracking", "domainMetadata"))
    val r2 = TableMaintenance.maintainTable(spark, d2,
      compactMinFiles = 4, checkpointEvery = 50, retainVersions = 50)
    assert(!r2.compacted &&
      r2.compactSkipReason.exists(_.contains("preserved profile")), r2.toString)
  }

  test("column-mapped tables compact through the same gate, rows unchanged") {
    val d = freshDir("cm")
    LakeWriter.writeDeltaMapped((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1), d)
    (11 to 16).foreach(i =>
      LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), d))
    // a metadata-only rename: the files keep the physical names
    LakeWriter.renameColumn(spark, d, "v", "label")
    def rows() = DeltaReader.read(spark, d).select("id", "label").as[(Long, String)]
      .collect().toSet
    val before = rows()
    val filesBefore = DeltaReader.snapshot(spark, d, None).active.size
    assert(filesBefore == 7 && before.size == 16)
    val r = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 4, checkpointEvery = 50, retainVersions = 50)
    assert(r.compacted && r.compactSkipReason.isEmpty, r.toString)
    assert(DeltaReader.snapshot(spark, d, None).active.size < filesBefore)
    assert(rows() == before)
  }

  test("a table the rewrite gate refuses reports the skip; the checkpoint still runs") {
    val d = freshDir("v6")
    LakeWriter.writeDelta((1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1), d)
    (5 to 7).foreach(i =>
      LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), d))
    // writer version 6 carries obligations this writer cannot honor
    LakeWriter.upgradeProtocol(spark, d, 1, 6)
    assert(DeltaReader.snapshot(spark, d, None).active.size == 4)
    val r = TableMaintenance.maintainTable(spark, d,
      compactMinFiles = 2, checkpointEvery = 1, retainVersions = 50)
    assert(!r.compacted, r.toString)
    assert(r.compactSkipReason.exists(_.contains("writer version 6")), r.toString)
    assert(r.checkpointed.contains(4L), r.toString)
    assert(DeltaReader.snapshot(spark, d, None).active.size == 4)
    assert(DeltaReader.read(spark, d).count() == 7L)
  }
}
