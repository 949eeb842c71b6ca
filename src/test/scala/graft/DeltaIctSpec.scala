package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.hadoop.fs.Path

/** In-commit timestamps: opt-in wall-clock commits on otherwise
  * deterministic graft logs — monotone stamps in every commit's
  * commitInfo, timestamp time travel from the log itself, hour-based
  * VACUUM, timestamp RESTORE, and the protocol feature declaration.
  */
class DeltaIctSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ict_$tag").resolve("t")
      .toAbsolutePath.toString

  private def icts(dir: String): Seq[(Long, Long)] = {
    val log = new Path(dir, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).sorted
      .flatMap { v =>
        val in = fs.open(new Path(log, f"$v%020d.json"))
        val first = try new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8")).readLine() finally in.close()
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        Option(om.readTree(first).get("commitInfo"))
          .flatMap(ci => Option(ci.get("inCommitTimestamp")))
          .map(t => v -> t.asLong())
      }
  }

  test("every commit of an ICT table carries a monotone inCommitTimestamp") {
    val d = freshDir("mono")
    val before = System.currentTimeMillis()
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    LakeWriter.deleteWhere(spark, d, "id = 1")
    LakeWriter.updateWhere(spark, d, "id = 2", Map("s" -> "'z'"))
    val stamps = icts(d)
    assert(stamps.map(_._1) == Seq(0L, 1L, 2L, 3L), stamps)
    assert(stamps.map(_._2) == stamps.map(_._2).sorted)
    assert(stamps.map(_._2).distinct.size == stamps.size, "stamps must be strictly increasing")
    assert(stamps.head._2 >= before)
    // the protocol declares the writer feature
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.minWriter == 7 && snap.writerFeatures.contains("inCommitTimestamp"))
  }

  test("a non-ICT table stays deterministic: no stamps anywhere") {
    val d = freshDir("det")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d)
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    assert(icts(d).isEmpty)
  }

  test("the merge-on-read DV family stamps too") {
    val d = freshDir("dv")
    LakeWriter.writeDelta((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "s"), d,
      configuration = Map(
        "delta.enableInCommitTimestamps" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    LakeWriter.deleteWhereDv(spark, d, "id % 2 = 0")
    LakeWriter.updateWhereDv(spark, d, "id = 3", Map("s" -> "'x'"))
    val stamps = icts(d)
    assert(stamps.map(_._1) == Seq(0L, 1L, 2L))
    assert(stamps.map(_._2) == stamps.map(_._2).sorted)
  }

  test("maintenance rewrites commit on ICT tables with monotone stamps, rows unchanged") {
    val d = freshDir("maint")
    LakeWriter.writeDelta((1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s").repartition(4), d,
      configuration = Map(
        "delta.enableInCommitTimestamps" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    def rows() = DeltaReader.read(spark, d).select("id", "s").as[(Long, String)].collect().toSet
    def version() = DeltaReader.snapshot(spark, d, None).version
    val all = rows()
    LakeWriter.compactDelta(spark, d)                                         // v1
    assert(version() == 1L && rows() == all)
    LakeWriter.compactDeltaZOrder(spark, d, "id", "s", filesPerPartition = 2) // v2
    assert(version() == 2L && rows() == all)
    LakeWriter.deleteWhereDv(spark, d, "id % 5 = 0")                          // v3
    val live = rows()
    assert(live.size == 32)
    LakeWriter.reorgPurge(spark, d)                                           // v4
    assert(version() == 4L && rows() == live)
    assert(DeltaReader.snapshot(spark, d, None).active.forall(_.dv.isEmpty))
    LakeWriter.alterProperties(spark, d, Map("delta.columnMapping.mode" -> "name"))  // v5
    LakeWriter.removeColumnMapping(spark, d)                                  // v6
    assert(version() == 6L && rows() == live)
    val stamps = icts(d)
    assert(stamps.map(_._1) == (0L to 6L), stamps)
    assert(stamps.map(_._2).sliding(2).forall { case Seq(a, b) => a < b },
      s"stamps must be strictly increasing: $stamps")
  }

  test("history surfaces the stamp as `timestamp`; monotone mtime when unstamped") {
    val d = freshDir("hist")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    val h = DeltaReader.history(spark, d)
      .select("version", "timestamp").as[(Long, Long)].collect().toMap
    assert(h == icts(d).toMap, h.toString)
    // unstamped tables: the commit-file mtime on the SAME monotone
    // series time travel and CDF's _commit_timestamp use — DESCRIBE
    // HISTORY must never disagree with them about when a version was
    val d2 = freshDir("hist2")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d2)
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d2)
    val h2 = DeltaReader.history(spark, d2)
      .select("version", "timestamp").as[(Long, Long)].collect().sortBy(_._1)
    assert(h2.map(_._1).toSeq == Seq(0L, 1L) && h2.forall(_._2 > 0L), h2.mkString(", "))
    assert(h2(0)._2 <= h2(1)._2, "history timestamps must be monotone")
    assert(DeltaReader.versionAtTimestamp(spark, d2, h2(1)._2) == 1L,
      "history and timestampAsOf must read the same series")
  }

  test("timestamp time travel resolves through the log's own stamps") {
    val d = freshDir("tt")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "s"), d)
    val stamps = icts(d).toMap
    assert(DeltaReader.versionAtTimestamp(spark, d, stamps(0L)) == 0L)
    assert(DeltaReader.versionAtTimestamp(spark, d, stamps(1L)) == 1L)
    assert(DeltaReader.versionAtTimestamp(spark, d, stamps(2L) + 10000) == 2L)
    assert(DeltaReader.readTimestamp(spark, d, stamps(1L)).count() == 2)
  }

  test("enabling mid-life via ALTER: provenance + feature + stamps from then on") {
    val d = freshDir("alter")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d)
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    assert(icts(d).isEmpty)
    LakeWriter.alterProperties(spark, d,
      Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "s"), d)
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.minWriter == 7 && snap.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.configuration("delta.inCommitTimestampEnablementVersion") == "2")
    val stamps = icts(d)
    // versions 0 and 1 stay unstamped; the enablement commit (2) and
    // everything after carry stamps, and the enablement commit's stamp
    // equals the recorded provenance
    assert(stamps.map(_._1) == Seq(2L, 3L))
    assert(stamps.head._2 ==
      snap.configuration("delta.inCommitTimestampEnablementTimestamp").toLong)
    assert(stamps(1)._2 > stamps.head._2)
  }

  test("SQL: VACUUM RETAIN n HOURS works on ICT tables, refuses elsewhere") {
    GraftExtensions.register(spark)
    val d = freshDir("vac")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    (2 to 4).foreach(i => LakeWriter.appendDelta(Seq((i.toLong, "x")).toDF("id", "s"), d))
    // everything is seconds old: a 1-hour retention keeps all versions
    val kept = spark.sql(s"VACUUM graft_delta.`$d` RETAIN 1 HOURS DRY RUN").collect()
    assert(kept.isEmpty, s"nothing is older than an hour, got ${kept.length} reclaimable")
    // non-ICT table refuses the hours form with the reason
    val d2 = freshDir("vac2")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d2)
    val e = intercept[Exception] {
      spark.sql(s"VACUUM graft_delta.`$d2` RETAIN 1 HOURS")
    }
    assert(e.getMessage.contains("delta.enableInCommitTimestamps"))
  }

  test("SQL: RESTORE TO TIMESTAMP AS OF on an ICT table") {
    GraftExtensions.register(spark)
    val d = freshDir("rest")
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    val stamps = icts(d).toMap
    val ts = new java.sql.Timestamp(stamps(0L)).toString
    spark.sql(s"RESTORE graft_delta.`$d` TO TIMESTAMP AS OF '$ts'")
    assert(DeltaReader.read(spark, d).count() == 1)
  }

  test("catalog TIMESTAMP AS OF by name") {
    val root = java.nio.file.Files.createTempDirectory("graft_ict_cat_")
      .toAbsolutePath.toString
    spark.conf.set("spark.sql.catalog.gict", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gict.root", root)
    spark.sql("CREATE NAMESPACE gict.db")
    val d = s"$root/db/t"
    LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "s"), d,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "s"), d)
    val stamps = icts(d).toMap
    val ts = new java.sql.Timestamp(stamps(0L)).toString
    assert(spark.sql(s"SELECT count(*) FROM gict.db.t TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM gict.db.t").head().getLong(0) == 2)
  }
}
