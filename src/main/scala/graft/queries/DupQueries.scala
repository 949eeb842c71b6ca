package graft.queries

import graft.dup.DuplicateDetection
import graft.index.{LakeIndexer, LakeTable, TestLake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate detection — SURVEY.md §2.2 #17-19.
  *
  * Scenario: the demo lake plus table 6 = the customer rows with
  * c_custkey % 10 = 0 (same columns) — a genuine partial duplicate of
  * table 4, so every query returns rows.
  */
object DupQueries {
  import Q._

  private def dupLake(s: SparkSession, dir: String): DataFrame =
    dupLakeCache.getOrElseUpdate((s, dir), {
      val extra = LakeTable(6, "customer_dup",
        t(s, dir, "customer").where(col("c_custkey") % 10 === 0), col("c_custkey"))
      TestLake.cells(s, dir).unionByName(LakeIndexer.cells(Seq(extra))).cache()
    })

  private val dupLakeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Row signatures of the dup lake, built once: three of the four dup
    * queries start from the same groupBy+sort signature pass.
    */
  private def dupSigs(s: SparkSession, dir: String): DataFrame =
    dupSigsCache.getOrElseUpdate((s, dir),
      DuplicateDetection.rowSignatures(dupLake(s, dir)).cache())

  private val dupSigsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Materialize the shared dup-lake caches (timed as Bench's
    * `cache_build`).
    */
  def warmCaches(s: SparkSession, dir: String): Unit = {
    dupLake(s, dir).count()
    dupSigs(s, dir).count()
  }

  private def inputCells(s: SparkSession, dir: String): DataFrame =
    LakeIndexer.cells(Seq(LakeTable(0, "input",
      t(s, dir, "customer").where(col("c_custkey") % 10 === 0), col("c_custkey"))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dup_rows" -> ((s, dir) =>
      DuplicateDetection.duplicateRowPairsFromSigs(dupSigs(s, dir))
        .orderBy("tableid_1", "rowid_1", "tableid_2", "rowid_2")),

    "dup_tables" -> ((s, dir) =>
      DuplicateDetection.duplicateTablePairsFromSigs(dupLake(s, dir), dupSigs(s, dir))
        .orderBy("tableid_1", "tableid_2")),

    "dup_relations" -> ((s, dir) =>
      DuplicateDetection.duplicateRowPairsFromSigs(dupSigs(s, dir))
        .groupBy("tableid_1", "tableid_2")
        .agg(count(lit(1)).as("n_dup"))
        .orderBy("tableid_1", "tableid_2")),

    "dup_tables_for_input" -> ((s, dir) =>
      DuplicateDetection.duplicateTablesForInput(inputCells(s, dir), TestLake.cells(s, dir))
        .orderBy("tableid"))
  )

  /** Cells of the dup lake in SQL: demo lake + table 6. */
  private def dupCellsSql: String = {
    val extra = TestLake.spec.find(_._2 == "customer").get match {
      case (_, _, key, cols) =>
        cols.zipWithIndex.map { case (c, i) =>
          val tok = s"substr(${graft.functions.TextFunctions.cleanedTextSql(s"coalesce(CAST($c AS VARCHAR), '')")}, 1, 200)"
          s"SELECT $tok AS tokenized, 6 AS tableid, $i AS colid, CAST($key AS BIGINT) AS rowid, '6_$i' AS table_col_id FROM customer WHERE c_custkey % 10 = 0"
        }.mkString(" UNION ALL ")
    }
    s"${TestLake.cellsSql} UNION ALL $extra"
  }

  private def pairCtes(cellsSql: String): String =
    s"""cells AS ($cellsSql),
       |sigs AS (SELECT tableid, rowid, array_to_string(list_sort(list(tokenized)), '|') AS sig
       |         FROM cells GROUP BY tableid, rowid),
       |pairs AS (SELECT a.tableid AS tableid_1, a.rowid AS rowid_1,
       |                 b.tableid AS tableid_2, b.rowid AS rowid_2
       |          FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.tableid < b.tableid)""".stripMargin

  def oracles: Map[String, String] = Map(
    "dup_rows" ->
      s"WITH ${pairCtes(dupCellsSql)} SELECT * FROM pairs ORDER BY 1, 2, 3, 4",

    "dup_tables" ->
      s"""WITH ${pairCtes(dupCellsSql)},
         |sizes AS (SELECT tableid, count(DISTINCT rowid) AS n_rows FROM cells GROUP BY tableid),
         |agg AS (SELECT tableid_1, tableid_2, count(*) AS n_dup FROM pairs GROUP BY 1, 2)
         |SELECT tableid_1, tableid_2 FROM agg
         |JOIN sizes s1 ON s1.tableid = agg.tableid_1
         |JOIN sizes s2 ON s2.tableid = agg.tableid_2
         |WHERE n_dup >= least(s1.n_rows, s2.n_rows)
         |ORDER BY 1, 2""".stripMargin,

    "dup_relations" ->
      s"""WITH ${pairCtes(dupCellsSql)}
         |SELECT tableid_1, tableid_2, count(*) AS n_dup FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dup_tables_for_input" ->
      s"""WITH lake AS (${TestLake.cellsSql}),
         |inp AS (SELECT c_custkey AS rowid, c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         |        FROM customer WHERE c_custkey % 10 = 0),
         |isigs AS (SELECT rowid AS in_row, array_to_string(list_sort(list(tok)), '|') AS sig FROM (
         |  ${TestLake.spec.find(_._2 == "customer").get._4.map(c =>
             s"SELECT rowid, substr(${graft.functions.TextFunctions.cleanedTextSql(s"coalesce(CAST($c AS VARCHAR), '')")}, 1, 200) AS tok FROM inp")
             .mkString(" UNION ALL ")}
         |) GROUP BY rowid),
         |lsigs AS (SELECT tableid, rowid, array_to_string(list_sort(list(tokenized)), '|') AS sig
         |          FROM lake GROUP BY tableid, rowid),
         |sizes AS (SELECT tableid, count(DISTINCT rowid) AS n_ext FROM lake GROUP BY tableid),
         |m AS (SELECT l.tableid, count(DISTINCT i.in_row) AS in_cov, count(DISTINCT l.rowid) AS ext_cov
         |      FROM lsigs l JOIN isigs i ON l.sig = i.sig GROUP BY l.tableid)
         |SELECT m.tableid FROM m JOIN sizes z ON z.tableid = m.tableid
         |WHERE in_cov >= (SELECT count(*) FROM inp) OR ext_cov >= z.n_ext
         |ORDER BY m.tableid""".stripMargin
  )
}
