package graft

import graft.sources.{DeltaReader, LakeWriter}

/** `delta.feature.<name>=supported` TBLPROPERTIES — delta-spark's SQL
  * spelling for declaring a protocol feature. The keys are CONSUMED at
  * commit time: they lift the protocol in the same commit and never
  * persist in `metaData.configuration`; a reader+writer feature lifts
  * minReader to 3 with the legacy reader features materialized beside
  * it; names this writer cannot honor refuse loudly. Also pins the
  * checkpoint-cadence obligation the declaration creates: a
  * v2Checkpoints table (feature or `delta.checkpointPolicy=v2`) gets
  * V2-shape checkpoints from the CLASSIC author's every call site.
  */
class DeltaFeaturePropsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_featprops_$tag").resolve("t")
      .toAbsolutePath.toString

  /** A FOREIGN legacy (1,4) table (hand-written log over one parquet
    * file) with a generated column and Change Data Feed enabled: writer
    * version 4 implies appendOnly, invariants, generatedColumns and
    * changeDataFeed, none of them listed anywhere.
    */
  private def legacyGeneratedCdf(tag: String): String = {
    import org.apache.spark.sql.types._
    val dir = tmp(tag)
    spark.range(4).selectExpr("id AS k", "id * 2 AS g", "cast(id AS string) AS v")
      .coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("g", LongType, nullable = true, new MetadataBuilder()
        .putString("delta.generationExpression", "k * 2").build()),
      StructField("v", StringType)))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.write(new java.io.File(log, "0" * 20 + ".json").toPath, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"legacy-gen-cdf","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
      s"""{"add":{"path":"${part.getName}","partitionValues":{},"size":${part.length},"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":4}"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("every feature-form restatement keeps a legacy table's obligations") {
    val entryPoints: Seq[(String, String => Unit)] = Seq(
      ("alterProperties declaring a feature", d => LakeWriter.alterProperties(spark, d,
        Map("delta.feature.allowColumnDefaults" -> "supported"))),
      ("alterProperties enabling ICT", d => LakeWriter.alterProperties(spark, d,
        Map("delta.enableInCommitTimestamps" -> "true"))),
      ("enableRowTracking", d => LakeWriter.enableRowTracking(spark, d)),
      ("first deleteWhereDv", d => LakeWriter.deleteWhereDv(spark, d, "k = 1")),
      ("clusterBy", d => LakeWriter.clusterBy(spark, d, Seq("k"))),
      ("alterColumnDefault", d => LakeWriter.alterColumnDefault(spark, d, "v", Some("'x'"))),
      ("upgradeProtocol", d => LakeWriter.upgradeProtocol(spark, d, 1, 7,
        writerFeatures = Seq("domainMetadata"))))
    val failures = entryPoints.zipWithIndex.flatMap { case ((name, op), i) =>
      val dir = legacyGeneratedCdf(s"obl$i")
      op(dir)
      val snap = DeltaReader.snapshot(spark, dir, None)
      val dropped = Set("appendOnly", "invariants", "generatedColumns", "changeDataFeed") --
        snap.writerFeatures
      if (snap.minWriter == 7 && dropped.isEmpty) None
      else Some(s"$name: (${snap.minReader}, ${snap.minWriter}) dropped $dropped")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("ALTER declaring a reader+writer feature lifts to (3,7); key consumed") {
    val dir = tmp("rw")
    LakeWriter.writeDelta(spark.range(4).toDF("k"), dir)
    LakeWriter.alterProperties(spark, dir,
      Map("delta.feature.deletionVectors" -> "supported", "team" -> "ml"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.minReader == 3 && snap.minWriter == 7)
    assert(snap.readerFeatures.contains("deletionVectors") &&
      snap.writerFeatures.contains("deletionVectors"))
    assert(!snap.configuration.keys.exists(_.startsWith("delta.feature.")))
    assert(snap.configuration.get("team").contains("ml"))
    // the lifted table still mutates: DV delete exercises the feature
    LakeWriter.deleteWhereDv(spark, dir, "k = 2")
    assert(DeltaReader.read(spark, dir).select($"k").as[Long].collect().toSet
      == Set(0L, 1L, 3L))
  }

  test("writer-only feature keeps minReader; create-time declaration lands on v7") {
    val alt = tmp("wo")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), alt)
    LakeWriter.alterProperties(spark, alt,
      Map("delta.feature.generatedColumns" -> "supported"))
    val sa = DeltaReader.snapshot(spark, alt, None)
    assert(sa.minReader == 1 && sa.minWriter == 7)
    assert(sa.writerFeatures.contains("generatedColumns"))
    LakeWriter.appendDelta(spark.range(2, 4).toDF("k"), alt)
    assert(DeltaReader.read(spark, alt).count() == 4L)

    val cre = tmp("create")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), cre,
      configuration = Map("delta.feature.timestampNtz" -> "supported",
        "owner" -> "etl"))
    val sc = DeltaReader.snapshot(spark, cre, None)
    assert(sc.minReader == 3 && sc.readerFeatures.contains("timestampNtz"))
    assert(!sc.configuration.keys.exists(_.startsWith("delta.feature.")))
    assert(sc.configuration.get("owner").contains("etl"))
  }

  test("unknown, owned and malformed declarations refuse loudly") {
    val dir = tmp("bad")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), dir)
    val unknown = intercept[IllegalArgumentException] {
      LakeWriter.alterProperties(spark, dir,
        Map("delta.feature.icebergCompatV2" -> "supported"))
    }
    assert(unknown.getMessage.contains("not supported by this writer"))
    val owned = intercept[IllegalArgumentException] {
      LakeWriter.alterProperties(spark, dir,
        Map("delta.feature.rowTracking" -> "supported"))
    }
    assert(owned.getMessage.contains("owning operation"))
    val value = intercept[IllegalArgumentException] {
      LakeWriter.alterProperties(spark, dir,
        Map("delta.feature.deletionVectors" -> "off"))
    }
    assert(value.getMessage.contains("'supported'"))
    // nothing committed by the refusals
    assert(DeltaReader.snapshot(spark, dir, None).version == 0L)
  }

  test("feature declaration composes with ICT enablement in one ALTER") {
    val dir = tmp("ict")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), dir)
    LakeWriter.alterProperties(spark, dir, Map(
      "delta.enableInCommitTimestamps" -> "true",
      "delta.feature.typeWidening" -> "supported"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.writerFeatures.contains("inCommitTimestamp") &&
      snap.writerFeatures.contains("typeWidening"))
    assert(snap.readerFeatures.contains("typeWidening") && snap.minReader == 3)
    assert(snap.configuration.contains("delta.inCommitTimestampEnablementVersion"))
    assert(!snap.configuration.keys.exists(_.startsWith("delta.feature.")))
  }

  test("the SQL spelling works end-to-end through the catalog") {
    val root = spark.conf.getOption("spark.sql.catalog.graft.root").getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft_featprops_cat_")
        .toAbsolutePath.toString
      spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.root", r)
      r
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.fpdb")
    spark.sql("CREATE TABLE graft.fpdb.t (k BIGINT)")
    spark.sql("INSERT INTO graft.fpdb.t VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.fpdb.t SET TBLPROPERTIES (" +
      "'delta.feature.typeWidening' = 'supported')")
    val dir = s"$root/fpdb/t"
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.readerFeatures.contains("typeWidening") && snap.minReader == 3)
    assert(!snap.configuration.keys.exists(_.startsWith("delta.feature.")))
    assert(spark.sql("SELECT count(*) FROM graft.fpdb.t").head().getLong(0) == 2L)
  }

  test("delta.minReaderVersion / delta.minWriterVersion upgrade requests consume") {
    // legacy lift
    val leg = tmp("legacy")
    LakeWriter.writeDelta(spark.range(2).toDF("k"), leg)
    LakeWriter.alterProperties(spark, leg, Map("delta.minWriterVersion" -> "5"))
    val sl = DeltaReader.snapshot(spark, leg, None)
    assert(sl.minReader == 1 && sl.minWriter == 5)
    assert(!sl.configuration.contains("delta.minWriterVersion"))
    LakeWriter.appendDelta(spark.range(2, 4).toDF("k"), leg)
    assert(DeltaReader.read(spark, leg).count() == 4L)

    // v7 lift materializes legacy obligations
    LakeWriter.alterProperties(spark, leg, Map("delta.minWriterVersion" -> "7"))
    val s7 = DeltaReader.snapshot(spark, leg, None)
    assert(s7.minWriter == 7 && s7.writerFeatures.contains("appendOnly") &&
      s7.writerFeatures.contains("invariants"))

    // downgrade refusal and the malformed (3, no-features) refusal
    val down = intercept[IllegalArgumentException] {
      LakeWriter.alterProperties(spark, leg, Map("delta.minWriterVersion" -> "2"))
    }
    assert(down.getMessage.contains("no downgrades"), down.getMessage)
    val noRf = intercept[IllegalArgumentException] {
      LakeWriter.alterProperties(spark, leg, Map(
        "delta.minReaderVersion" -> "3", "delta.minWriterVersion" -> "7"))
    }
    assert(noRf.getMessage.contains("NO reader features"), noRf.getMessage)

    // create-time request
    val cre = tmp("create7")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), cre,
      configuration = Map("delta.minWriterVersion" -> "7"))
    val sc = DeltaReader.snapshot(spark, cre, None)
    assert(sc.minWriter == 7 && sc.writerFeatures.contains("appendOnly"))
    assert(!sc.configuration.contains("delta.minWriterVersion"))
  }

  test("upgradeProtocol to reader 3 needs a reader feature, like ALTER and CREATE") {
    val dir = tmp("up3")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), dir)
    // writer features alone would leave an empty readerFeatures list
    val noRf = intercept[IllegalArgumentException](
      LakeWriter.upgradeProtocol(spark, dir, 3, 7, writerFeatures = Seq("domainMetadata")))
    assert(noRf.getMessage.contains("NO reader features"), noRf.getMessage)
    val s0 = DeltaReader.snapshot(spark, dir, None)
    assert(s0.version == 0 && s0.minReader == 1)
    // writer features keep reader 1; a requested reader feature lifts it
    LakeWriter.upgradeProtocol(spark, dir, 1, 7, writerFeatures = Seq("domainMetadata"))
    LakeWriter.upgradeProtocol(spark, dir, 3, 7, readerFeatures = Seq("deletionVectors"))
    val s1 = DeltaReader.snapshot(spark, dir, None)
    assert(s1.minReader == 3 && s1.readerFeatures == Seq("deletionVectors"))
    assert(s1.writerFeatures.contains("domainMetadata"), s1.writerFeatures.toString)
    // a column-mapped table brings its own reader feature
    val cm = tmp("up3cm")
    LakeWriter.writeDeltaMapped(spark.range(3).toDF("k"), cm)
    LakeWriter.upgradeProtocol(spark, cm, 3, 7)
    val s2 = DeltaReader.snapshot(spark, cm, None)
    assert(s2.minReader == 3 && s2.readerFeatures == Seq("columnMapping"))
  }

  test("enabling CDF on an already-v7 table adds changeDataFeed to writerFeatures") {
    val dir = tmp("cdf7")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), dir,
      configuration = Map("delta.minWriterVersion" -> "7"))
    assert(DeltaReader.snapshot(spark, dir, None).minWriter == 7)
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.writerFeatures.contains("changeDataFeed"), snap.writerFeatures.toString)
    // and the table actually writes change data now
    LakeWriter.deleteWhere(spark, dir, "k = 1")
    val v = DeltaReader.snapshot(spark, dir, None).version
    assert(DeltaReader.readChanges(spark, dir, v, v)
      .where(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .count() == 1L)
  }

  test("v2Checkpoints obligation: classic author routes to the v2 shape") {
    val dir = tmp("v2cp")
    LakeWriter.writeDelta(spark.range(4).toDF("k"), dir)
    LakeWriter.alterProperties(spark, dir,
      Map("delta.feature.v2Checkpoints" -> "supported"))
    LakeWriter.appendDelta(spark.range(4, 8).toDF("k"), dir)
    val v = DeltaReader.snapshot(spark, dir, None).version
    LakeWriter.checkpointDelta(spark, dir, v)
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(log).map(_.getPath.getName).toSeq
    // v2 shape: a uniqueStr manifest + _sidecars, never <v>.checkpoint.parquet
    assert(!names.contains(f"$v%020d.checkpoint.parquet"), names.toString)
    assert(names.exists(n => n.startsWith(f"$v%020d.checkpoint.") &&
      n.endsWith(".parquet")), names.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "_sidecars")))
    // replay from the v2 checkpoint round-trips
    assert(DeltaReader.read(spark, dir).count() == 8L)

    val pol = tmp("policy")
    LakeWriter.writeDelta(spark.range(3).toDF("k"), pol,
      configuration = Map("delta.checkpointPolicy" -> "v2"))
    LakeWriter.appendDelta(spark.range(3, 6).toDF("k"), pol)
    LakeWriter.checkpointDelta(spark, pol, 1L)
    val logP = new org.apache.hadoop.fs.Path(pol, "_delta_log")
    val fsP = logP.getFileSystem(spark.sessionState.newHadoopConf())
    val namesP = fsP.listStatus(logP).map(_.getPath.getName).toSeq
    assert(!namesP.contains(f"${1L}%020d.checkpoint.parquet"), namesP.toString)
    assert(DeltaReader.read(spark, pol).count() == 6L)
  }
}
