package graft

import graft.index.TestLake
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** The demo lake's scan-parallelism probe. */
class TestLakeSpec extends SparkSpec {

  private def spread(dir: String): Map[String, Boolean] =
    TestLake.tables(spark, dir).map(t =>
      t.name -> t.df.queryExecution.logical.isInstanceOf[Repartition]).toMap

  test("a table's row groups, not its file count, decide whether TestLake spreads it") {
    // the driver testdata: one file of one row group per table, so the
    // big tables (ids >= 3) are spread
    assert(spread(sf()) == Map("nation" -> false, "region" -> false,
      "supplier" -> true, "customer" -> true, "part" -> true))
    // the same lake with supplier as ONE file of many row groups: it
    // scans in parallel already and is left as it is
    val dir = java.nio.file.Files.createTempDirectory("graft_testlake_").toString
    TestLake.spec.foreach { case (_, name, _, _) =>
      val df = if (name != "supplier") spark.read.parquet(s"${sf()}/$name.parquet")
        else spark.range(2000).select(col("id").as("s_suppkey"),
          concat(lit("Supplier#"), col("id")).as("s_name"),
          (col("id") % 25).as("s_nationkey"), (col("id") * 0.5).as("s_acctbal"))
      df.coalesce(1).write.option("parquet.block.size", 1024).parquet(s"$dir/$name.parquet")
    }
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
    assert(supplier.inputFiles.length == 1)
    assert(TestLake.scanSplits(spark, supplier) >= 4, "fixture: supplier has one row group")
    assert(spread(dir) == Map("nation" -> false, "region" -> false,
      "supplier" -> false, "customer" -> true, "part" -> true))
  }
}
