package graft

import graft.index.{LakeIndexer, LakeTable, TestLake}
import org.apache.spark.sql.functions._

/** The persisted index (a Delta table written by graft's engine)
  * round-trips, answers queries identically to the in-memory build and
  * stays readable and consistent through appends, removals, failed
  * writes, compaction and streaming maintenance.
  */
class IndexPersistSpec extends SparkSpec {

  test("writeIndex/readIndex round-trips the cell index") {
    val cells = TestLake.cells(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_ix_").toString + "/cells"
    LakeIndexer.writeIndex(cells, tmp, numPartitions = 4)
    val back = LakeIndexer.readIndex(spark, tmp)
    assert(back.count() == cells.count())
    // same content regardless of layout
    assert(sorted(back) == sorted(cells))
    // MATE over the persisted index gives the same answer
    val input = spark.read.parquet(s"${sf()}/customer.parquet")
    val live = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), cells, 5)
      .collect().map(_.toSeq).toSeq
    val persisted = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), back, 5)
      .collect().map(_.toSeq).toSeq
    assert(live == persisted)
    // token filters reach the parquet scan of the persisted layout, so
    // min/max stats on the sorted files can prune (the layout IS the
    // inverted index)
    val plan = back.where(col("tokenized") === "germany")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(tokenized,germany"),
      s"expected token pushdown in:\n$plan")
  }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq).toSeq

  test("incremental addTables/removeTable ≡ full rebuild; MATE agrees on the maintained index") {
    val tables = TestLake.tables(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr_").toString + "/cells"
    // day 0: persist an index over the first three tables
    LakeIndexer.writeIndex(LakeIndexer.cells(tables.take(3)), tmp, numPartitions = 4)
    // day 1: two new tables arrive — append, no rewrite
    LakeIndexer.addTables(LakeIndexer.cells(tables.drop(3)), tmp, numPartitions = 4)
    // day 2: table 2 is retracted — deletion vectors, no rewrite
    LakeIndexer.removeTable(spark, tmp, 2)
    val maintained = LakeIndexer.readIndex(spark, tmp)
    val rebuilt = LakeIndexer.cells(tables.filterNot(_.tableId == 2))
    val b = sorted(rebuilt)
    assert(sorted(maintained) == b)
    // MATE equality on the maintained index
    val input = spark.read.parquet(s"${sf()}/customer.parquet")
    val live = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), rebuilt, 5)
      .collect().map(_.toSeq).toSeq
    val incr = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), maintained, 5)
      .collect().map(_.toSeq).toSeq
    assert(live == incr)
    // compaction folds the deletion vectors and preserves content
    LakeIndexer.compactIndex(spark, tmp, numPartitions = 4)
    // a frame read before the compaction still reads the old version:
    // there is no moment at which the index is missing
    assert(sorted(maintained) == b)
    val compacted = LakeIndexer.readIndex(spark, tmp)
    assert(sorted(compacted) == b)
    assert(compacted.where(col("tableid") === 2).count() == 0)
    val snap = graft.sources.DeltaReader.snapshot(spark, tmp, None)
    assert(snap.active.size <= 4 && snap.active.forall(_.dv.isEmpty), snap.active.toString)
    // and restores writeIndex's layout: each file sorted on the full
    // token, so row-group min/max ranges stay narrow for MATE's probes
    snap.active.foreach { f =>
      val tokens = spark.read.parquet(s"$tmp/${f.path}").select("tokenized")
        .collect().map(r => Option(r.getString(0))).toSeq
      assert(tokens.nonEmpty && tokens == tokens.sorted, f.path)
    }
  }

  test("an in-place rebuild is a new version; a different layout is refused") {
    val tables = TestLake.tables(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_rebuild_").toString + "/cells"
    LakeIndexer.writeIndex(LakeIndexer.cells(tables.take(3)), tmp, numPartitions = 4)
    LakeIndexer.writeIndex(LakeIndexer.cells(tables), tmp, numPartitions = 4)
    assert(sorted(LakeIndexer.readIndex(spark, tmp)) == sorted(LakeIndexer.cells(tables)))
    // the replaced version stays readable (its files stay until vacuum)
    assert(sorted(graft.sources.DeltaReader.read(spark, tmp, Some(0L))) ==
      sorted(LakeIndexer.cells(tables.take(3))))
    val e = intercept[IllegalArgumentException](graft.sources.LakeWriter.writeOrOverwriteDelta(
      LakeIndexer.cells(tables), tmp, partitionBy = Seq("tableid")))
    assert(e.getMessage.contains("partitioned by"), e.getMessage)
    assert(graft.sources.DeltaReader.snapshot(spark, tmp, None).version == 1L)
  }

  test("a removed table is re-added without compaction") {
    val tables = TestLake.tables(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_readd_").toString + "/cells"
    LakeIndexer.writeIndex(LakeIndexer.cells(tables), tmp, numPartitions = 4)
    LakeIndexer.removeTable(spark, tmp, 2)
    LakeIndexer.addTables(LakeIndexer.cells(tables.filter(_.tableId == 2)), tmp, numPartitions = 4)
    assert(sorted(LakeIndexer.readIndex(spark, tmp)) == sorted(LakeIndexer.cells(tables)))
  }

  test("an addTables whose write fails part-way leaves the index unchanged") {
    val tables = TestLake.tables(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_fail_").toString + "/cells"
    LakeIndexer.writeIndex(LakeIndexer.cells(tables.take(3)), tmp, numPartitions = 4)
    val before = sorted(LakeIndexer.readIndex(spark, tmp))
    // the cells arrive laid out as addTables lays them, so the failing
    // UDF runs inside the write's own tasks: three of the four finish
    // their files before the fourth throws
    val failOnOne = udf { (c: Int) =>
      if (org.apache.spark.TaskContext.getPartitionId() == 1) {
        Thread.sleep(2000)
        throw new IllegalStateException("injected write failure")
      }
      c
    }
    val newCells = LakeIndexer.cells(tables.drop(3)).repartition(4, col("tokenized"))
      .withColumn("colid", failOnOne(col("colid")))
    val e = intercept[Exception](LakeIndexer.addTables(newCells, tmp, numPartitions = 4))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected write failure")), e.toString)
    assert(sorted(LakeIndexer.readIndex(spark, tmp)) == before)
  }

  test("readIndex submits no job and keeps the schema spark.read.parquet infers") {
    val s = spark
    import s.implicits._
    def cellsOf(id: Int) = LakeIndexer.cells(Seq(LakeTable(id, s"t$id",
      Seq((0L, "alpha", 1.5), (1L, "beta", 2.5)).toDF("k", "name", "v"), col("k"))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ix_schema_").toString + "/cells"
    LakeIndexer.writeIndex(cellsOf(1), tmp, numPartitions = 2)
    // (inferred before the deletion-vector sidecar lands beside the
    // part files: spark.read.parquet would take it for one)
    val inferred = spark.read.parquet(tmp).schema
    /** Jobs readIndex submits, after checking its schema. */
    def readChecked(stage: String): Int = {
      var back: org.apache.spark.sql.DataFrame = null
      val jobs = jobsOf { back = LakeIndexer.readIndex(spark, tmp) }
      assert(back.schema == inferred, stage)
      jobs
    }
    assert(readChecked("written") == 0)
    LakeIndexer.addTables(cellsOf(2), tmp, numPartitions = 2)
    assert(readChecked("after addTables") == 0)
    // removed rows are filtered by their deletion vectors, read lazily
    LakeIndexer.removeTable(spark, tmp, 1)
    assert(readChecked("after removeTable") == 0)
    assert(LakeIndexer.readIndex(spark, tmp).select("tableid").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(2))
    // a directory holding no index is refused by the engine
    val empty = java.nio.file.Files.createTempDirectory("graft_ix_empty_").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    val got = intercept[IllegalArgumentException](LakeIndexer.readIndex(spark, empty))
    assert(got.getMessage.contains("not a Delta table"), got.getMessage)
  }

  test("streaming index maintenance equals the batch build") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ix_stream_").toString
    val (tmp, ckpt) = (s"$root/cells", s"$root/ckpt")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Int)]
    def start() = graft.streaming.DeltaStream.writeDelta(LakeIndexer.cellsStream(
      mem.toDF().toDF("k", "name", "v"), 7, col("k"), Seq("k", "name", "v")), tmp, ckpt, "cells7")
    val q = start()
    mem.addData((0L, "Alpha", 1), (1L, "Beta", 2))
    q.processAllAvailable()
    mem.addData((2L, "Gamma", 3))
    q.processAllAvailable()
    q.stop()
    def streamed = LakeIndexer.readIndex(spark, tmp)
      .orderBy("rowid", "colid").collect().map(_.toSeq).toSeq

    val batchDf = Seq((0L, "Alpha", 1), (1L, "Beta", 2), (2L, "Gamma", 3)).toDF("k", "name", "v")
    val batch = LakeIndexer.cells(Seq(LakeTable(7, "t7", batchDf, col("k"))))
      .orderBy("rowid", "colid").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.size == 9)

    // a restart that replays the last batch (its commit mark lost after
    // the sink committed it) lands it once
    val version = graft.sources.DeltaReader.snapshot(spark, tmp, None).version
    assert(new java.io.File(s"$ckpt/commits/1").delete())
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(new java.io.File(s"$ckpt/commits/1").exists())
    assert(graft.sources.DeltaReader.snapshot(spark, tmp, None).version == version)
    assert(streamed == batch)
  }

  test("reconstructTable inverts the melt") {
    val s = spark
    import s.implicits._
    val src = Seq((0L, "Alpha", 1), (1L, "Beta", 2)).toDF("k", "name", "v")
    val cells = LakeIndexer.cells(Seq(LakeTable(9, "t", src, col("k"))))
    val rt = LakeIndexer.reconstructTable(cells, 9, 3).orderBy("rowid")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rt.toSeq == Seq((0L, "0", "alpha", "1"), (1L, "1", "beta", "2")))
  }
}
