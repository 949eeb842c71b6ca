package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.hadoop.fs.Path

/** Metadata cleanup — `delta.logRetentionDuration` +
  * `delta.enableExpiredLogCleanup`: the expired log PREFIX deletes at
  * a complete-checkpoint boundary k (largest checkpoint whose every
  * preceding commit json is older than the cutoff), so a long-lived
  * table's `_delta_log` stays bounded by retention instead of growing
  * one file per commit forever. State at or above k reconstructs
  * unchanged; reads below k refuse loudly.
  */
class DeltaLogCleanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_logclean_$tag").resolve("t")
      .toAbsolutePath.toString

  private def logFs(dir: String) = {
    val log = new Path(dir, "_delta_log")
    (log, log.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private def age(dir: String, version: Long, ageMillis: Long): Unit = {
    val (log, fs) = logFs(dir)
    val p = new Path(log, f"$version%020d.json")
    fs.setTimes(p, System.currentTimeMillis() - ageMillis, -1)
  }

  /** 7 versions (0..6), checkpoint at 4. */
  private def build(): String = {
    val dir = tmp("t")
    LakeWriter.writeDelta(spark.range(4).toDF("k"), dir)
    (1 to 6).foreach(i =>
      LakeWriter.appendDelta(spark.range(i * 10, i * 10 + 2).toDF("k"), dir))
    LakeWriter.checkpointDelta(spark, dir, 4L)
    dir
  }

  test("expired prefix deletes at the checkpoint boundary; retained state intact") {
    val dir = build()
    val day = 86400000L
    (0L to 3L).foreach(age(dir, _, 40 * day))
    val deleted = LakeWriter.cleanExpiredLogs(spark, dir)
    assert(deleted == (0L to 3L).flatMap(v =>
      Seq(f"$v%020d.crc", f"$v%020d.json")), deleted.toString)
    val (log, fs) = logFs(dir)
    val names = fs.listStatus(log).map(_.getPath.getName).toSet
    assert(!names.contains(f"${0L}%020d.json") && names.contains(f"${4L}%020d.json"))
    // latest and retained-version reads reconstruct
    assert(DeltaReader.read(spark, dir).count() == 16L)
    assert(DeltaReader.read(spark, dir, versionAsOf = Some(5L)).count() == 14L)
    assert(DeltaReader.read(spark, dir, versionAsOf = Some(4L)).count() == 12L)
    // below the boundary refuses loudly
    intercept[Exception] { DeltaReader.read(spark, dir, versionAsOf = Some(2L)).count() }
    // history starts at the boundary
    val hv = DeltaReader.history(spark, dir).select($"version").as[Long].collect().toSet
    assert(hv == Set(4L, 5L, 6L), hv.toString)
    // CDF below the boundary refuses loudly — changes are
    // unrecoverable from a checkpoint, never silently skipped
    val e = intercept[IllegalArgumentException] {
      DeltaReader.readChanges(spark, dir, 1L, 6L).count()
    }
    assert(e.getMessage.contains("retention-cleaned"), e.getMessage)
    assert(DeltaReader.readChanges(spark, dir, 5L, 6L).count() > 0)
  }

  test("a young commit below the checkpoint blocks the whole prefix") {
    val dir = build()
    val day = 86400000L
    (0L to 2L).foreach(age(dir, _, 40 * day)) // v3 stays young
    assert(LakeWriter.cleanExpiredLogs(spark, dir).isEmpty)
    assert(DeltaReader.read(spark, dir, versionAsOf = Some(0L)).count() == 4L)
  }

  test("enableExpiredLogCleanup=false and missing checkpoint are no-ops") {
    val off = build()
    LakeWriter.alterProperties(spark, off, Map("delta.enableExpiredLogCleanup" -> "false"))
    (0L to 3L).foreach(age(off, _, 40 * 86400000L))
    assert(LakeWriter.cleanExpiredLogs(spark, off).isEmpty)

    val noCp = tmp("nocp")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), noCp)
    LakeWriter.appendDelta(spark.range(3, 6).toDF("k"), noCp)
    (0L to 1L).foreach(age(noCp, _, 40 * 86400000L))
    assert(LakeWriter.cleanExpiredLogs(spark, noCp).isEmpty)
  }

  test("an expired prefix past the 64-file inline threshold deletes through the executor path") {
    // a fabricated log: the adds name no real file, and only the log's
    // own state is read back
    val n = 80
    val dir = tmp("many")
    val (log, fs) = logFs(dir)
    fs.mkdirs(log)
    def write(v: Long, lines: String*): Unit = {
      val out = fs.create(new Path(log, f"$v%020d.json"))
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    val schema = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
      spark.range(1).toDF("id").schema.json)
    write(0L, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"many","format":{"provider":"parquet","options":{}},"schemaString":$schema,"partitionColumns":[],"configuration":{}}}""")
    (1 to n).foreach(v => write(v.toLong,
      s"""{"add":{"path":"part-$v.parquet","partitionValues":{},"size":100,"modificationTime":0,"dataChange":true}}"""))
    LakeWriter.checkpointDelta(spark, dir, n.toLong)
    (0 until n).foreach(v => age(dir, v.toLong, 40 * 86400000L))
    val deleted = LakeWriter.cleanExpiredLogs(spark, dir)
    assert(deleted.toSet == (0 until n).map(v => f"$v%020d.json").toSet,
      deleted.take(5).toString)
    assert(fs.listStatus(log).map(_.getPath.getName).count(_.endsWith(".json")) == 1)
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.version == n && snap.active.size == n)
  }

  test("cleanup rides the checkpoint cadence with a tightened retention") {
    val dir = tmp("cadence")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), dir,
      configuration = Map("delta.logRetentionDuration" -> "interval 1 hour"))
    (1 to 4).foreach(i => LakeWriter.appendDelta(spark.range(3 * i, 3 * i + 3).toDF("k"), dir))
    LakeWriter.checkpointDelta(spark, dir, 2L)
    (0L to 1L).foreach(age(dir, _, 7200000L)) // 2 hours > 1 hour retention
    // the NEXT checkpoint triggers cleanup automatically
    LakeWriter.checkpointDelta(spark, dir, 4L)
    val (log, fs) = logFs(dir)
    val names = fs.listStatus(log).map(_.getPath.getName).toSet
    assert(!names.contains(f"${0L}%020d.json") && !names.contains(f"${1L}%020d.json"),
      names.toString)
    // version 2 is the boundary (v3 is young, so k=4 is not eligible):
    // its checkpoint and json stay — they anchor reconstruction of the
    // retained versions 2 and 3
    assert(names.exists(_.startsWith(f"${2L}%020d.checkpoint")), names.toString)
    assert(names.contains(f"${2L}%020d.json"))
    assert(DeltaReader.read(spark, dir, versionAsOf = Some(3L)).count() == 12L)
    assert(DeltaReader.read(spark, dir).count() == 15L)
  }

  test("malformed retention refuses; v2-manifest checkpoints anchor the boundary") {
    val bad = tmp("bad")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), bad,
      configuration = Map("delta.logRetentionDuration" -> "30d"))
    val e = intercept[IllegalArgumentException] {
      LakeWriter.cleanExpiredLogs(spark, bad)
    }
    assert(e.getMessage.contains("interval N <unit>"), e.getMessage)
    // the keyword-less spelling is accepted (delta-spark prepends it)
    val bare = tmp("bare")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), bare,
      configuration = Map("delta.logRetentionDuration" -> "30 days"))
    assert(LakeWriter.cleanExpiredLogs(spark, bare).isEmpty) // young, parses fine

    val v2 = tmp("v2")
    LakeWriter.writeDelta(spark.range(4).toDF("k"), v2)
    (1 to 3).foreach(i => LakeWriter.appendDelta(spark.range(4 * i, 4 * i + 4).toDF("k"), v2))
    LakeWriter.checkpointDeltaV2(spark, v2, 2L)
    (0L to 1L).foreach(age(v2, _, 40 * 86400000L))
    val deleted = LakeWriter.cleanExpiredLogs(spark, v2)
    assert(deleted == Seq(f"${0L}%020d.crc", f"${0L}%020d.json",
      f"${1L}%020d.crc", f"${1L}%020d.json"), deleted.toString)
    assert(DeltaReader.read(spark, v2).count() == 16L)
    assert(DeltaReader.read(spark, v2, versionAsOf = Some(2L)).count() == 12L)
  }

  test("cleanup composes with checkpointProtection: the protected prefix (boundary checkpoint included) ages out, reads stay green") {
    // the protocol lets a writer clean metadata below
    // delta.requireCheckpointProtectionBeforeVersion only when it
    // supports every feature the protected history dropped — graft
    // qualifies by construction (it only drops features it implements).
    // Pin the whole lifecycle: TRUNCATE HISTORY drop stamps boundary B
    // with a checkpoint AT B; later commits + a later checkpoint K>B;
    // cleanup deletes everything below K — the boundary checkpoint and
    // the pre-drop DV history included — and the table still replays
    // (from K, at or above the boundary), the protection guard does not
    // spuriously fire, and reads below K refuse on the RETENTION
    // contract, not a protection misfire.
    val dir = tmp("cpprot")
    val day = 86400000L
    LakeWriter.writeDelta(spark.range(0, 30).toDF("k").repartition(2), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    LakeWriter.deleteWhereDv(spark, dir, "k = 3")                    // v1
    LakeWriter.reorgPurge(spark, dir)                                // v2
    LakeWriter.dropFeature(spark, dir, "deletionVectors",
      truncateHistory = true)                                        // v3 = B, checkpointed
    val bound = DeltaReader.snapshot(spark, dir, None)
      .configuration("delta.requireCheckpointProtectionBeforeVersion").toLong
    LakeWriter.appendDelta(spark.range(100, 102).toDF("k"), dir)     // v4
    LakeWriter.appendDelta(spark.range(102, 104).toDF("k"), dir)     // v5
    LakeWriter.checkpointDelta(spark, dir, 5L)                       // K = 5 > B
    (0L to 4L).foreach(age(dir, _, 40 * day))
    val deleted = LakeWriter.cleanExpiredLogs(spark, dir)
    assert(deleted.contains(f"$bound%020d.checkpoint.parquet"),
      s"boundary checkpoint survived cleanup: $deleted")
    assert((0L to 4L).forall(v => deleted.contains(f"$v%020d.json")),
      deleted.toString)
    // the table replays from K — protection guard satisfied (K >= B)
    assert(DeltaReader.read(spark, dir).count() == 33L)
    // config still carries the boundary; a read below K refuses on the
    // retention contract (the history is GONE), not a protection error
    val e = intercept[Exception](
      DeltaReader.read(spark, dir, versionAsOf = Some(1L)).count())
    assert(!e.getMessage.contains("protection"), e.getMessage)
    // and the table keeps mutating + checkpointing normally after
    LakeWriter.appendDelta(spark.range(104, 106).toDF("k"), dir)
    LakeWriter.checkpointDelta(spark, dir,
      DeltaReader.snapshot(spark, dir, None).version)
    assert(DeltaReader.read(spark, dir).count() == 35L)
  }
}
