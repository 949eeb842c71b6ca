package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness dump reports a failing query by name instead of
  * swallowing it, and still writes everything else.
  */
class VerifySpec extends SparkSpec {

  test("a broken query is named in failed.json and the other outputs are still written") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).selectExpr("no_such_column")
    val failures = Verify.run(spark, "unused", out,
      Seq("ok_first" -> ok, "broken_query" -> broken, "ok_last" -> ok),
      Map("ok_first" -> "SELECT 1"))
    assert(failures.map(_.query) == Seq("broken_query"))

    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$out/failed.json"))
    assert(manifest.size == 1)
    assert(manifest.get(0).get("query").asText == "broken_query")
    assert(manifest.get(0).get("exception").asText.endsWith("AnalysisException"))
    assert(manifest.get(0).get("message").asText.contains("no_such_column"))
    Seq("ok_first", "ok_last").foreach(q => assert(spark.read.parquet(s"$out/$q").count() == 3))
    assert(new java.io.File(s"$out/oracle_sql.json").exists())
  }
}
