package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failed.json naming every query that threw. Exits non-zero when one
  * did, after everything else is written. */
object Verify {
  /** A query that threw: its name, the exception's class and message. */
  final case class Failure(query: String, exception: String, message: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: an optional third arg restricts the dump to a
    // comma-separated query subset (the driver always passes two args)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuneLocal(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failures = run(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(q => only.forall(_.contains(q._1))), SparkEntry.oracleSql)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Writes each of `queries`' results to `outDir/<name>`, then
    * `oracle_sql.json` (`oracles`) and `failed.json` (one object per
    * query that threw, `[]` when none). A failing query never stops the
    * others. Returns the failures.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Seq[(String, (SparkSession, String) => DataFrame)],
          oracles: Map[String, String]): Seq[Failure] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(Failure(name, e.getClass.getName, String.valueOf(e.getMessage)))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"), failures.map(f =>
      s"""{"query": ${q(f.query)}, "exception": ${q(f.exception)}, "message": ${q(f.message)}}""")
      .mkString("[", ",\n", "]"))
    failures
  }
}
