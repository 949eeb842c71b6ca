package graft.queries

import graft.cocoa.Cocoa
import graft.functions.TextFunctions
import graft.index.TestLake
import graft.mate.Mate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Discovery workloads (MATE / COCOA / join maps) — SURVEY.md §2.2.
  *
  * Scenarios over the demo lake:
  * - `mate_topk`      multi-attribute search: customer sample,
  *                    (c_nationkey, c_mktsegment), k=10
  * - `mate_single`    single-attribute search: full customer,
  *                    (c_nationkey), k=5
  * - `mate_joinmap`   join maps of the multi-attribute search
  * - `cocoa_enrich`   single-table enrichment: customer × nation via
  *                    nationkey, target c_acctbal (Spearman + one-hot)
  * - `cocoa_topk_features` multicolumn enrichment over mate_single's
  *                    top tables, k_c=10
  */
object DiscoveryQueries {
  import Q._

  private def cleanTok(c: org.apache.spark.sql.Column) =
    TextFunctions.cleanedText(coalesce(c.cast("string"), lit("")))

  private def corrOut(df: DataFrame): DataFrame =
    df.select(col("table_col_id"), col("is_numeric").cast("int").as("is_numeric"),
      round(col("corr"), 6).cast("decimal(10,6)").as("corr"))

  /** The customer↔nation join-map product (the reference materializes
    * join maps too), shared by the three single-table COCOA scenarios —
    * correlations consumes it from several broadcast subqueries, so an
    * uncached frame would re-run the pair build per consumer.
    */
  private def custNationPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate((s, dir), {
      val cells = TestLake.cells(s, dir)
      val input = t(s, dir, "customer").select(col("c_custkey").as("input_row"),
        cleanTok(col("c_nationkey")).as("tok"))
      Cocoa.joinPairs(input, cells.where(col("tableid") === 1), 0).cache()
    })

  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Cached target ranks of customer.c_acctbal — shared by the three
    * single-table COCOA scenarios, and consumed twice within each (the
    * 1-row stats aggregate and the rank join are separate broadcast
    * subqueries; uncached, each re-runs the global sort window).
    */
  private def custRanks(s: SparkSession, dir: String): DataFrame =
    ranksCache.getOrElseUpdate((s, dir), {
      val input = t(s, dir, "customer").select(col("c_custkey").as("input_row"),
        col("c_acctbal").as("target"))
      Cocoa.targetRanks(input).cache()
    })

  private val ranksCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Cached verified MATE match sets — the reference materializes this
    * intermediate (its join-map product) once per search and runs
    * scoring and map projection off it; we do the same across the
    * queries that share a search. Scoring/top-k/map projection stay
    * per-query work.
    *
    * `sample` = (c_custkey%7, [c_nationkey, c_mktsegment]) — shared by
    * mate_topk and mate_joinmap. `single` = (full customer,
    * [c_nationkey]) — shared by mate_single and cocoa_topk_features.
    */
  private def mateMatches(s: SparkSession, dir: String, variant: String): DataFrame =
    matchCache.getOrElseUpdate((s, dir, variant), {
      val cells = TestLake.cells(s, dir)
      val m = variant match {
        case "sample" =>
          val input = t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
          Mate.matches(input, col("c_custkey"), Seq("c_nationkey", "c_mktsegment"), cells)
        case "single" =>
          val input = t(s, dir, "customer")
          Mate.matches(input, col("c_custkey"), Seq("c_nationkey"), cells)
      }
      m.cache()
    })

  private val matchCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Materialize the shared caches (Bench times this as `cache_build`
    * so per-query numbers measure query work, not whichever query
    * happens to touch a shared frame first).
    */
  def warmCaches(s: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future(custNationPairs(s, dir).count()),
      Future(custRanks(s, dir).count()),
      Future(mateMatches(s, dir, "sample").count()),
      Future(mateMatches(s, dir, "single").count()))), Duration.Inf)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mate_topk" -> ((s, dir) =>
      Mate.topK(mateMatches(s, dir, "sample"), 10)),

    "mate_single" -> ((s, dir) =>
      Mate.topK(mateMatches(s, dir, "single"), 5)),

    "mate_joinmap" -> ((s, dir) => {
      val matched = mateMatches(s, dir, "sample")
      Mate.mapsOf(matched, Mate.topK(matched, 10))
        .orderBy("tableid", "rowid")
    }),

    "cocoa_enrich" -> ((s, dir) => {
      val cells = TestLake.cells(s, dir)
      val ranked = custRanks(s, dir)
      val pairs = custNationPairs(s, dir)
      val excluded = { import s.implicits._; Seq((1, 0)).toDF("tableid", "colid") }
      val corr = Cocoa.correlations(ranked, pairs, cells.where(col("tableid") === 1), excluded)
      corrOut(corr).orderBy("table_col_id")
    }),

    // Offline-index mode: correlations reconstructed by walking the
    // persisted order index — must equal cocoa_enrich exactly.
    "cocoa_from_index" -> ((s, dir) => {
      val nationCells = TestLake.cells(s, dir).where(col("tableid") === 1)
      val ranked = custRanks(s, dir)
      val pairs = custNationPairs(s, dir)
      val excluded = { import s.implicits._; Seq((1, 0)).toDF("tableid", "colid") }
      val index = graft.index.CocoaIndex.build(nationCells)
      val corr = Cocoa.correlationsFromIndex(ranked, index, pairs, excluded)
      corrOut(corr).orderBy("table_col_id")
    }),

    // Schema matching: every lake column pair ranked by token Jaccard.
    "col_similarity" -> ((s, dir) => {
      Cocoa.columnPairSimilarity(TestLake.cells(s, dir), 15)
        .select(col("col_1"), col("col_2"), col("common"),
          round(col("jac"), 6).cast("decimal(10,6)").as("jac"))
    }),

    // COCOA front door: columns ranked by distinct-token overlap.
    "cocoa_joinable_cols" -> ((s, dir) => {
      val input = t(s, dir, "customer")
        .select(cleanTok(col("c_nationkey")).as("tok"))
      Cocoa.joinableColumns(input, TestLake.cells(s, dir), 8)
    }),

    // Bloom-hashed index: different pre-filter, identical verified
    // result — shares mate_topk's oracle modulo the hash column.
    "mate_bloom" -> ((s, dir) => {
      val input = t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
      Mate.joinSearch(input, col("c_custkey"), Seq("c_nationkey", "c_mktsegment"),
        TestLake.cellsBloom(s, dir), 10, graft.functions.XashKernel.bloomRowHashCol)
    }),

    "table_reconstruct" -> ((s, dir) =>
      graft.index.LakeIndexer.reconstructTable(TestLake.cells(s, dir), 1, 3)
        .orderBy("rowid")),

    "cocoa_enrich_join" -> ((s, dir) => {
      val cells = TestLake.cells(s, dir)
      val cust = t(s, dir, "customer")
      val input = cust.select(col("c_custkey").as("input_row"),
        cleanTok(col("c_nationkey")).as("tok"),
        col("c_acctbal").as("target"))
      val ranked = custRanks(s, dir)
      val nationCells = cells.where(col("tableid") === 1)
      val pairs = custNationPairs(s, dir)
      val excluded = { import s.implicits._; Seq((1, 0)).toDF("tableid", "colid") }
      val corr = Cocoa.correlations(ranked, pairs, nationCells, excluded)
      Cocoa.enrichJoin(
        input.select(col("input_row"), Q.dec(col("target")).as("target")),
        corr, pairs, nationCells.join(excluded, Seq("tableid", "colid"), "left_anti"))
        .orderBy("input_row")
    }),

    "cocoa_topk_features" -> ((s, dir) => {
      val cells = TestLake.cells(s, dir)
      val (top, jm0) = Mate.searchAndMapsOf(mateMatches(s, dir, "single"), 5)
      val jm = jm0.select(col("tableid"), col("rowid").as("ext_row"), col("input_row"))
      val excluded = top.select(col("tableid"), col("columns").cast("int").as("colid"))
      val corr = Cocoa.correlations(custRanks(s, dir), jm, cells, excluded)
      // rank on the ROUNDED corr so the SQL oracle's tie behavior matches
      corrOut(corr)
        .orderBy(abs(col("corr")).desc, col("table_col_id").asc)
        .limit(10)
    })
  )

  // -------------------------------------------------------------------
  // DuckDB oracle SQL generation
  // -------------------------------------------------------------------

  /** MATE pipeline CTEs over `iraw(rid, raw_0..raw_{nq-1})`. Appends
    * cells, input prep, candidate+verify joins, scoring and topk.
    */
  private def mateCtes(inputSql: String, nq: Int, k: Int): String = {
    val rawCols = (0 until nq).map(i => s"raw_$i")
    // same MaxTokenLength truncation as the indexed cells (and as
    // Mate.prepareToks) — the query token must equal its indexed form
    val tokDefs = (0 until nq).map(i =>
      s"substring(${TextFunctions.cleanedTextSql(s"coalesce(raw_$i, '')")}, 1, " +
        s"${graft.index.LakeIndexer.MaxTokenLength}) AS tok_$i").mkString(", ")
    val notNull = (0 until nq).map(i => s"tok_$i NOT IN ('','nan','unknown')").mkString(" AND ")
    val verify = (1 until nq).map { i =>
      s""", m_$i AS (
         |  SELECT k.tableid, k.rowid, k.mrid,
         |    array_to_string(list_transform(list_sort(list(DISTINCT c.colid)), x -> CAST(x AS VARCHAR)), '_') AS mcols_$i
         |  FROM candk k
         |  JOIN cells c ON c.tableid = k.tableid AND c.rowid = k.rowid
         |  JOIN input i ON i.mrid = k.mrid AND c.tokenized = i.tok_$i
         |  GROUP BY k.tableid, k.rowid, k.mrid)""".stripMargin
    }.mkString("")
    val comboExpr = (Seq("CAST(cand.c0 AS VARCHAR)") ++ (1 until nq).map(i => s"m_$i.mcols_$i"))
      .mkString(" || '_' || ")
    val verifyJoins = (1 until nq).map(i =>
      s"JOIN m_$i ON m_$i.tableid = cand.tableid AND m_$i.rowid = cand.rowid AND m_$i.mrid = cand.mrid")
      .mkString(" ")
    s"""cells AS (${TestLake.cellsSql}),
       |iraw AS ($inputSql),
       |idedup AS (SELECT ${rawCols.mkString(", ")}, min(rid) AS mrid FROM iraw GROUP BY ${rawCols.mkString(", ")}),
       |itok AS (SELECT mrid, $tokDefs FROM idedup),
       |input AS (SELECT * FROM itok WHERE $notNull),
       |cand AS (SELECT c.tableid, c.rowid, c.colid AS c0, i.mrid
       |         FROM cells c JOIN input i ON c.tokenized = i.tok_0),
       |candk AS (SELECT DISTINCT tableid, rowid, mrid FROM cand)$verify,
       |matched AS (SELECT cand.tableid, cand.rowid, cand.mrid, $comboExpr AS columns
       |            FROM cand $verifyJoins),
       |scored AS (SELECT tableid, columns, count(*) AS joinability FROM matched GROUP BY 1, 2),
       |best AS (SELECT *, row_number() OVER (PARTITION BY tableid ORDER BY joinability DESC, columns ASC) AS rk FROM scored),
       |topk AS (SELECT tableid, columns, joinability FROM best WHERE rk = 1
       |         ORDER BY joinability DESC, tableid ASC LIMIT $k)""".stripMargin
  }

  private val custSampleSql =
    "SELECT c_custkey AS rid, CAST(c_nationkey AS VARCHAR) AS raw_0, CAST(c_mktsegment AS VARCHAR) AS raw_1 FROM customer WHERE c_custkey % 7 = 0"
  private val custFullSql =
    "SELECT c_custkey AS rid, CAST(c_nationkey AS VARCHAR) AS raw_0 FROM customer"

  /** Normalized cells (vnum / is_numeric / valkey) — mirrors
    * CocoaIndex.withSortValue; `src` must provide
    * (tableid, colid, rowid, tokenized, table_col_id).
    */
  private def normCtes(src: String): String =
    s"""n1 AS (SELECT table_col_id, tableid, colid, rowid, tokenized,
       |        (tokenized IN ('','nan') OR TRY_CAST(tokenized AS DOUBLE) IS NOT NULL) AS tok_num,
       |        CASE WHEN tokenized IN ('','nan') THEN NULL ELSE TRY_CAST(tokenized AS DOUBLE) END AS vnum0
       |       FROM $src),
       |n2 AS (SELECT *, bool_and(tok_num) OVER (PARTITION BY table_col_id) AS is_numeric FROM n1),
       |norm AS (SELECT table_col_id, tableid, colid, rowid, tokenized, is_numeric,
       |        CASE WHEN is_numeric THEN (CASE WHEN isnan(vnum0) THEN NULL ELSE vnum0 END) END AS vnum
       |       FROM n2)""".stripMargin

  /** Correlation CTEs given `pairs(tableid, ext_row, input_row)`,
    * `tr(input_row, rt)`, `norm` (normalized cells restricted to the
    * candidate tables) and an exclusion predicate on (tableid, colid).
    */
  private def corrCtes(excludePred: String): String =
    s"""stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(rt) AS r_sum, sum(rt*rt) AS r_sum2 FROM tr),
       |pr AS (SELECT norm.table_col_id, norm.tableid, p.input_row,
       |        max(norm.vnum) AS vnum, max(norm.tokenized) AS v_str, bool_and(norm.is_numeric) AS is_numeric
       |       FROM norm JOIN pairs p ON norm.tableid = p.tableid AND norm.rowid = p.ext_row
       |       WHERE NOT ($excludePred)
       |       GROUP BY 1, 2, 3),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY table_col_id ORDER BY vnum ASC NULLS LAST, v_str ASC, input_row ASC) AS rn,
       |        CASE WHEN is_numeric THEN coalesce(CAST(vnum AS VARCHAR), ' nan') ELSE v_str END AS vk
       |       FROM pr),
       |xrt AS (SELECT *, avg(rn) OVER (PARTITION BY table_col_id, vk) AS xr FROM rk),
       |j AS (SELECT x.*, t.rt FROM xrt x JOIN tr t USING (input_row)),
       |numagg AS (SELECT tableid, table_col_id, n, r_sum, r_sum2,
       |        CAST(count(*) AS DOUBLE) AS m, sum(xr) AS sx, sum(xr*xr) AS sx2,
       |        sum(xr*rt) AS sxy, sum(rt) AS sy_j, CAST(ceil(n/2) AS DOUBLE) AS mid
       |       FROM j, stats WHERE is_numeric GROUP BY tableid, table_col_id, n, r_sum, r_sum2),
       |numx AS (SELECT tableid, table_col_id,
       |        sx + (n - m) * mid AS SX, sx2 + (n - m) * mid * mid AS SX2,
       |        sxy + mid * (r_sum - sy_j) AS SXY, n, r_sum, r_sum2 FROM numagg),
       |numc AS (SELECT tableid, table_col_id, TRUE AS is_numeric,
       |        (n*SXY - SX*r_sum) / (sqrt(n*SX2 - SX*SX) * sqrt(n*r_sum2 - r_sum*r_sum)) AS corr
       |       FROM numx),
       |catagg AS (SELECT tableid, table_col_id, vk, n, r_sum, r_sum2,
       |        CAST(count(*) AS DOUBLE) AS qty, sum(rt) AS s
       |       FROM j, stats WHERE NOT is_numeric GROUP BY tableid, table_col_id, vk, n, r_sum, r_sum2),
       |catc AS (SELECT tableid, table_col_id, FALSE AS is_numeric,
       |        max(abs((n*s - qty*r_sum) / (sqrt(r_sum2/n - (r_sum/n)*(r_sum/n)) * n * sqrt(qty*(n-qty))))) AS corr
       |       FROM catagg WHERE qty < n GROUP BY 1, 2, 3),
       |corr AS (SELECT * FROM numc UNION ALL SELECT * FROM catc)""".stripMargin

  private val corrSelect =
    "SELECT table_col_id, CAST(is_numeric AS INT) AS is_numeric, CAST(round(corr, 6) AS DECIMAL(10,6)) AS corr FROM corr WHERE corr IS NOT NULL AND NOT isnan(corr)"

  private val trCte =
    """tr AS (SELECT input_row, avg(rn) OVER (PARTITION BY target) AS rt
      |       FROM (SELECT input_row, target, row_number() OVER (ORDER BY target ASC NULLS LAST, input_row) AS rn
      |             FROM inp))""".stripMargin

  def oracles: Map[String, String] = Map(
    "mate_topk" ->
      s"WITH ${mateCtes(custSampleSql, 2, 10)} SELECT * FROM topk",

    "mate_single" ->
      s"WITH ${mateCtes(custFullSql, 1, 5)} SELECT * FROM topk",

    "mate_joinmap" ->
      s"""WITH ${mateCtes(custSampleSql, 2, 10)},
         |jm AS (SELECT m.tableid, m.columns, m.rowid, min(m.mrid) AS input_row
         |       FROM matched m JOIN topk t ON m.tableid = t.tableid AND m.columns = t.columns
         |       GROUP BY 1, 2, 3)
         |SELECT * FROM jm ORDER BY tableid, rowid""".stripMargin,

    "mate_bloom" ->
      s"WITH ${mateCtes(custSampleSql, 2, 10)} SELECT * FROM topk",

    "col_similarity" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |d AS (SELECT DISTINCT table_col_id, tokenized FROM cells),
         |sizes AS (SELECT table_col_id, count(*) AS nd FROM d GROUP BY 1),
         |p AS (SELECT a.table_col_id AS col_1, b.table_col_id AS col_2, count(*) AS common
         |      FROM d a JOIN d b ON a.tokenized = b.tokenized AND a.table_col_id < b.table_col_id
         |      GROUP BY 1, 2),
         |j AS (SELECT p.col_1, p.col_2, p.common, s1.nd AS n1, s2.nd AS n2
         |      FROM p JOIN sizes s1 ON s1.table_col_id = p.col_1
         |             JOIN sizes s2 ON s2.table_col_id = p.col_2)
         |SELECT col_1, col_2, common,
         |  CAST(round(common::DOUBLE / (n1 + n2 - common), 6) AS DECIMAL(10,6)) AS jac
         |FROM j
         |ORDER BY common::DOUBLE / (n1 + n2 - common) DESC, col_1, col_2 LIMIT 15""".stripMargin,

    "cocoa_joinable_cols" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |inp AS (SELECT DISTINCT ${TextFunctions.cleanedTextSql("coalesce(CAST(c_nationkey AS VARCHAR), '')")} AS tok FROM customer)
         |SELECT table_col_id, count(DISTINCT tokenized) AS ct
         |FROM cells JOIN inp ON tokenized = tok
         |GROUP BY table_col_id ORDER BY ct DESC, table_col_id ASC LIMIT 8""".stripMargin,

    "table_reconstruct" -> {
      val Seq(c0, c1, c2) = Seq("n_nationkey", "n_name", "n_regionkey").map(c =>
        s"substr(${TextFunctions.cleanedTextSql(s"coalesce(CAST($c AS VARCHAR), '')")}, 1, 200)")
      s"""SELECT CAST(n_nationkey AS BIGINT) AS rowid, $c0 AS c0, $c1 AS c1, $c2 AS c2
         |FROM nation ORDER BY rowid""".stripMargin
    },

    "cocoa_enrich_join" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |inp AS (SELECT c_custkey AS input_row,
         |         ${TextFunctions.cleanedTextSql("coalesce(CAST(c_nationkey AS VARCHAR), '')")} AS tok,
         |         c_acctbal AS target FROM customer),
         |$trCte,
         |pairs AS (SELECT c.tableid, c.rowid AS ext_row, max(i.input_row) AS input_row
         |          FROM cells c JOIN inp i ON c.tokenized = i.tok
         |          WHERE c.tableid = 1 AND c.colid = 0
         |          GROUP BY c.tableid, c.rowid),
         |${normCtes("(SELECT * FROM cells WHERE tableid = 1)")},
         |${corrCtes("norm.tableid = 1 AND norm.colid = 0")},
         |top1 AS (SELECT table_col_id FROM corr WHERE corr IS NOT NULL AND NOT isnan(corr)
         |         ORDER BY abs(corr) DESC, table_col_id ASC LIMIT 1),
         |vals AS (SELECT p.input_row, max(norm.table_col_id) AS ext_col, max(norm.tokenized) AS ext_value
         |         FROM norm JOIN top1 t ON norm.table_col_id = t.table_col_id
         |         JOIN pairs p ON p.tableid = norm.tableid AND p.ext_row = norm.rowid
         |         WHERE NOT (norm.tableid = 1 AND norm.colid = 0)
         |         GROUP BY p.input_row)
         |SELECT i.input_row, CAST(i.target AS DECIMAL(18,2)) AS target, v.ext_col, v.ext_value
         |FROM inp i LEFT JOIN vals v USING (input_row) ORDER BY input_row""".stripMargin,

    "cocoa_enrich" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |inp AS (SELECT c_custkey AS input_row,
         |         ${TextFunctions.cleanedTextSql("coalesce(CAST(c_nationkey AS VARCHAR), '')")} AS tok,
         |         c_acctbal AS target FROM customer),
         |$trCte,
         |pairs AS (SELECT c.tableid, c.rowid AS ext_row, max(i.input_row) AS input_row
         |          FROM cells c JOIN inp i ON c.tokenized = i.tok
         |          WHERE c.tableid = 1 AND c.colid = 0
         |          GROUP BY c.tableid, c.rowid),
         |${normCtes("(SELECT * FROM cells WHERE tableid = 1)")},
         |${corrCtes("norm.tableid = 1 AND norm.colid = 0")}
         |$corrSelect ORDER BY table_col_id""".stripMargin,

    "cocoa_from_index" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |inp AS (SELECT c_custkey AS input_row,
         |         ${TextFunctions.cleanedTextSql("coalesce(CAST(c_nationkey AS VARCHAR), '')")} AS tok,
         |         c_acctbal AS target FROM customer),
         |$trCte,
         |pairs AS (SELECT c.tableid, c.rowid AS ext_row, max(i.input_row) AS input_row
         |          FROM cells c JOIN inp i ON c.tokenized = i.tok
         |          WHERE c.tableid = 1 AND c.colid = 0
         |          GROUP BY c.tableid, c.rowid),
         |${normCtes("(SELECT * FROM cells WHERE tableid = 1)")},
         |${corrCtes("norm.tableid = 1 AND norm.colid = 0")}
         |$corrSelect ORDER BY table_col_id""".stripMargin,


    "cocoa_topk_features" ->
      s"""WITH ${mateCtes(custFullSql, 1, 5)},
         |jm AS (SELECT m.tableid, m.rowid AS ext_row, min(m.mrid) AS input_row
         |       FROM matched m JOIN topk t ON m.tableid = t.tableid AND m.columns = t.columns
         |       GROUP BY 1, 2),
         |pairs AS (SELECT * FROM jm),
         |excl AS (SELECT tableid, CAST(columns AS INT) AS colid FROM topk),
         |inp AS (SELECT c_custkey AS input_row, c_acctbal AS target FROM customer),
         |$trCte,
         |${normCtes("(SELECT c.* FROM cells c JOIN topk t ON c.tableid = t.tableid)")},
         |${corrCtes("EXISTS (SELECT 1 FROM excl e WHERE e.tableid = norm.tableid AND e.colid = norm.colid)")}
         |SELECT * FROM ($corrSelect) ORDER BY abs(corr) DESC, table_col_id ASC LIMIT 10""".stripMargin
  )
}
