package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.functions._

/** Write-time file sizing: `delta.autoOptimize.optimizeWrite` coalesces
  * each commit's staged partitions toward `delta.targetFileSize`
  * before the commit (one extra pass over the BATCH), and
  * `delta.autoOptimize.autoCompact` folds accumulated sub-threshold
  * files in a follow-up commit once a partition crosses
  * `spark.graft.delta.autoCompact.minNumFiles` — so a streaming sink's
  * one-file-per-batch debt stays bounded without scheduled OPTIMIZE.
  * Without the properties, behavior is byte-identical to before.
  */
class DeltaSizingSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sizing_$tag").resolve("t")
      .toAbsolutePath.toString

  private def liveFiles(dir: String): Seq[DeltaReader.AddFile] =
    DeltaReader.snapshot(spark, dir, None).active

  test("optimizeWrite folds a many-task batch into target-sized files; off by default") {
    val plain = fresh("plain")
    LakeWriter.writeDelta(spark.range(0, 400).toDF("id").repartition(8), plain)
    assert(liveFiles(plain).size == 8, "without the property the task layout is kept")

    val ow = fresh("ow")
    LakeWriter.writeDelta(spark.range(0, 400).toDF("id").repartition(8), ow,
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    assert(liveFiles(ow).size == 1,
      s"optimizeWrite must coalesce 8 tiny task files, got ${liveFiles(ow).size}")
    assert(DeltaReader.read(spark, ow).count() == 400)

    // appends to the table inherit the property from its metadata
    LakeWriter.appendDelta(spark.range(400, 800).toDF("id").repartition(8), ow)
    assert(liveFiles(ow).size == 2, "the append's 8 task files fold to one add")
    assert(DeltaReader.read(spark, ow).as[Long].collect().toSet == (0L until 800L).toSet)
  }

  test("optimizeWrite respects delta.targetFileSize instead of folding to one file") {
    val dir = fresh("target")
    // ~32-byte incompressible payload rows; a tiny target forces >1 output file
    LakeWriter.writeDelta(
      spark.range(0, 4000).select(col("id"), md5(col("id").cast("string")).as("pay"))
        .repartition(16),
      dir,
      configuration = Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.targetFileSize" -> "65536"))
    val files = liveFiles(dir)
    assert(files.size > 1 && files.size < 16,
      s"expected ceil(bytes/target) files between 1 and 16, got ${files.size}")
    assert(DeltaReader.read(spark, dir).count() == 4000)
  }

  test("delta.targetFileSize accepts unit-suffixed byte strings (byteStringAsBytes)") {
    // the parser delta-spark's property values route through
    assert(LakeWriter.parseByteString("65536") == 65536L)
    assert(LakeWriter.parseByteString("64kb") == 65536L)
    assert(LakeWriter.parseByteString(" 100MB ") == 100L << 20)
    assert(LakeWriter.parseByteString("1g") == 1L << 30)
    assert(LakeWriter.parseByteString("2b") == 2L)
    intercept[IllegalArgumentException](LakeWriter.parseByteString("100xb"))
    intercept[IllegalArgumentException](LakeWriter.parseByteString("mb"))
    // end-to-end: a foreign table storing the suffixed form must
    // compact toward it, not throw NumberFormatException
    val dir = fresh("suffix")
    LakeWriter.writeDelta(
      spark.range(0, 4000).select(col("id"), md5(col("id").cast("string")).as("pay"))
        .repartition(16),
      dir,
      configuration = Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.targetFileSize" -> "64kb"))
    val files = liveFiles(dir)
    assert(files.size > 1 && files.size < 16, s"got ${files.size}")
    assert(DeltaReader.read(spark, dir).count() == 4000)
  }

  test("optimizeWrite folds per partition directory and keeps partition values") {
    val dir = fresh("part")
    LakeWriter.writeDelta(
      spark.range(0, 300)
        .select(col("id"), (col("id") % 3).cast("string").as("p"))
        .repartition(12), dir,
      partitionBy = Seq("p"),
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    val files = liveFiles(dir)
    assert(files.size == 3, s"one folded file per partition, got ${files.size}")
    assert(files.map(_.partitionValues("p")).toSet == Set("0", "1", "2"))
    assert(DeltaReader.read(spark, dir).groupBy("p").count().count() == 3)
    assert(DeltaReader.read(spark, dir).count() == 300)
  }

  test("autoCompact bounds file count under many tiny batches; converged files never re-fold") {
    val dir = fresh("ac")
    spark.conf.set("spark.graft.delta.autoCompact.minNumFiles", "4")
    try {
      LakeWriter.writeDelta(spark.range(0, 10).toDF("id"), dir,
        configuration = Map("delta.autoOptimize.autoCompact" -> "true"))
      val maxSeen = (1 to 12).map { k =>
        LakeWriter.appendDelta(
          spark.range(k * 10L, k * 10L + 10).toDF("id").coalesce(1), dir)
        liveFiles(dir).size
      }.max
      // debt folds every time it reaches minNumFiles: the count never
      // grows past the threshold, instead of reaching 13
      assert(maxSeen <= 4, s"file count reached $maxSeen under tiny batches")
      assert(DeltaReader.read(spark, dir).as[Long].collect().toSet ==
        (0L until 130L).toSet)
      // the folds are OPTIMIZE-shaped commits (dataChange=false), so a
      // CDF/streaming reader of the table skips them — verify via history
      val ops = DeltaReader.history(spark, dir).select("operation")
        .as[String].collect()
      assert(ops.contains("auto compact"), ops.mkString(", "))
    } finally spark.conf.unset("spark.graft.delta.autoCompact.minNumFiles")
  }

  test("autoCompact folds tables declaring vacuumProtocolCheck (compactDelta's gate, not a narrower copy)") {
    val dir = fresh("acf")
    spark.conf.set("spark.graft.delta.autoCompact.minNumFiles", "4")
    try {
      LakeWriter.writeDelta(spark.range(0, 10).toDF("id").coalesce(1), dir,
        configuration = Map("delta.autoOptimize.autoCompact" -> "true",
          "delta.feature.vacuumProtocolCheck" -> "supported"))
      assert(DeltaReader.snapshot(spark, dir, None).writerFeatures
        .contains("vacuumProtocolCheck"))
      (1 to 6).foreach { k =>
        LakeWriter.appendDelta(
          spark.range(k * 10L, k * 10L + 10).toDF("id").coalesce(1), dir)
      }
      assert(liveFiles(dir).size <= 4, s"${liveFiles(dir).size} files: autoCompact never folded")
      assert(DeltaReader.history(spark, dir).select("operation").as[String].collect()
        .contains("auto compact"))
      assert(DeltaReader.read(spark, dir).as[Long].collect().toSet == (0L until 70L).toSet)
    } finally spark.conf.unset("spark.graft.delta.autoCompact.minNumFiles")
  }

  test("optimizeWrite never scrambles maintenance layouts: cluster OPTIMIZE keeps its files") {
    import graft.sources.Clustering
    val dir = fresh("cl")
    LakeWriter.writeDelta(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))), dir,
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    LakeWriter.clusterBy(spark, dir, Seq("x"))
    LakeWriter.appendDelta(spark.range(0, 1000).toDF("x").repartition(4), dir)
    // the append itself folded (optimizeWrite) — but the clustered
    // re-layout is dataChange=false maintenance: its 4 range-laid
    // files must survive as written, NOT re-coalesce into one
    LakeWriter.compactDeltaCluster(spark, dir, Seq("x"), filesPerPartition = 4)
    val files = liveFiles(dir)
    assert(files.size == 4,
      s"optimizeWrite folded a clustered layout: ${files.size} files")
    assert(files.forall(_.clusteringProvider.contains("liquid")))
    assert(DeltaReader.read(spark, dir).count() == 1000)
  }

  test("without the properties, many tiny appends keep their per-batch files") {
    val dir = fresh("off")
    LakeWriter.writeDelta(spark.range(0, 10).toDF("id").coalesce(1), dir)
    (1 to 6).foreach { k =>
      LakeWriter.appendDelta(
        spark.range(k * 10L, k * 10L + 10).toDF("id").coalesce(1), dir)
    }
    assert(liveFiles(dir).size == 7, "unchanged behavior without the properties")
  }
}
