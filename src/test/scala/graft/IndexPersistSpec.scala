package graft

import graft.index.{LakeIndexer, LakeTable, TestLake}
import org.apache.spark.sql.functions._

/** The persisted index layout round-trips and answers queries
  * identically to the in-memory build.
  */
class IndexPersistSpec extends SparkSpec {

  test("writeIndex/readIndex round-trips the cell index") {
    val cells = TestLake.cells(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_ix_").toString + "/cells"
    LakeIndexer.writeIndex(cells, tmp, numPartitions = 4)
    val back = LakeIndexer.readIndex(spark, tmp)
    assert(back.count() == cells.count())
    // same content regardless of layout
    val a = cells.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq)
    val b = back.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq)
    assert(a.sameElements(b))
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

  test("incremental addTables/removeTable ≡ full rebuild; MATE agrees on the maintained index") {
    val tables = TestLake.tables(spark, sf())
    val tmp = java.nio.file.Files.createTempDirectory("graft_incr_").toString + "/cells"
    // day 0: persist an index over the first three tables
    LakeIndexer.writeIndex(LakeIndexer.cells(tables.take(3)), tmp, numPartitions = 4)
    // day 1: two new tables arrive — append, no rewrite
    LakeIndexer.addTables(LakeIndexer.cells(tables.drop(3)), tmp, numPartitions = 4)
    // day 2: table 2 is retracted — tombstone, no rewrite
    LakeIndexer.removeTable(spark, tmp, 2)
    val maintained = LakeIndexer.readIndex(spark, tmp)
    val rebuilt = LakeIndexer.cells(tables.filterNot(_.tableId == 2))
    val a = maintained.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq)
    val b = rebuilt.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // MATE equality on the maintained index
    val input = spark.read.parquet(s"${sf()}/customer.parquet")
    val live = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), rebuilt, 5)
      .collect().map(_.toSeq).toSeq
    val incr = graft.mate.Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey"), maintained, 5)
      .collect().map(_.toSeq).toSeq
    assert(live == incr)
    // compaction applies tombstones physically and preserves content
    LakeIndexer.compactIndex(spark, tmp, numPartitions = 4)
    val compacted = LakeIndexer.readIndex(spark, tmp)
    assert(compacted.orderBy("tableid", "rowid", "colid").collect().map(_.toSeq).sameElements(b))
    assert(compacted.where(col("tableid") === 2).count() == 0)
  }

  test("readIndex submits no job and keeps the schema spark.read.parquet infers") {
    val s = spark
    import s.implicits._
    def cellsOf(id: Int) = LakeIndexer.cells(Seq(LakeTable(id, s"t$id",
      Seq((0L, "alpha", 1.5), (1L, "beta", 2.5)).toDF("k", "name", "v"), col("k"))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ix_schema_").toString + "/cells"
    /** Jobs readIndex submits, after checking its schema. */
    def readChecked(stage: String): Int = {
      var back: org.apache.spark.sql.DataFrame = null
      val jobs = jobsOf { back = LakeIndexer.readIndex(spark, tmp) }
      assert(back.schema == spark.read.parquet(tmp).schema, stage)
      jobs
    }
    LakeIndexer.writeIndex(cellsOf(1), tmp, numPartitions = 2)
    assert(readChecked("written") == 0)
    LakeIndexer.addTables(cellsOf(2), tmp, numPartitions = 2)
    assert(readChecked("after addTables") == 0)
    // tombstones are collected: the only jobs readIndex runs
    LakeIndexer.removeTable(spark, tmp, 1)
    readChecked("tombstoned")
    assert(LakeIndexer.readIndex(spark, tmp).select("tableid").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(2))
    // no part file: Spark's inference runs and fails as it always did
    val empty = java.nio.file.Files.createTempDirectory("graft_ix_empty_").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    val expected = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    val got = intercept[org.apache.spark.sql.AnalysisException](LakeIndexer.readIndex(spark, empty))
    assert(got.getMessage == expected.getMessage)
  }

  test("streaming index maintenance equals the batch build") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Int)]
    val streamCells = LakeIndexer.cellsStream(
      mem.toDF().toDF("k", "name", "v"), 7, col("k"), Seq("k", "name", "v"))
    val q = streamCells.writeStream.format("memory").queryName("cells_out")
      .outputMode("append").start()
    mem.addData((0L, "Alpha", 1), (1L, "Beta", 2))
    q.processAllAvailable()
    mem.addData((2L, "Gamma", 3))
    q.processAllAvailable()
    val streamed = spark.table("cells_out")
      .orderBy("rowid", "colid").collect().map(_.toSeq).toSeq
    q.stop()

    val batchDf = Seq((0L, "Alpha", 1), (1L, "Beta", 2), (2L, "Gamma", 3)).toDF("k", "name", "v")
    val batch = LakeIndexer.cells(Seq(LakeTable(7, "t7", batchDf, col("k"))))
      .orderBy("rowid", "colid").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.size == 9)
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
