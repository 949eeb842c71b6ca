package graft.mate

import graft.functions.{TextFunctions, Xash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MATE — top-k multi-attribute joinability search
  * (reference: maco/mate.py:125 join_search).
  *
  * Spark-first redesign: the reference's driver-side heap + per-table
  * pruning loop becomes one lazy declarative plan with two scans of the
  * cell index and no eager checkpoint — token-match join on the first
  * query column against one broadcast of the prepared input (carrying
  * every query token), native 128-bit super-key containment pre-filter
  * (two long compares, maco/mate.py:393), then one exact verification
  * pass for all further columns (index cells semi-joined with the
  * broadcast further tokens, joined to the candidate rows, one grouped
  * aggregate) and a global top-k. At scale the exact-k heap is the part
  * that cannot distribute; the joins can, so we compute all candidate
  * scores shuffle-parallel and `ORDER BY score LIMIT k`.
  *
  * Determinism (SURVEY.md §3): input row ids are `min(rowId)` per
  * distinct raw query-tuple (the reference keeps pandas' first
  * occurrence), matched column lists are ascending, ties break by
  * (score desc, tableid asc, columns asc), and scores are natural match
  * counts (the reference returns `score - 1`, maco/mate.py:523).
  */
object Mate {

  /** Input preparation (maco/mate.py:182-197): dedup on raw query
    * values, clean, drop ''/'nan'/'unknown', add query super key.
    * Output: (MateRowID, tok_0..tok_{n-1}, q_hi, q_lo).
    */
  def prepare(input: DataFrame, rowId: Column, queryCols: Seq[String],
              rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame = {
    val n = queryCols.length
    prepareToks(input, rowId, queryCols)
      .withColumn("sk", rowHash(array((0 until n).map(i => col(s"tok_$i")): _*)))
      .select((col("MateRowID") +: (0 until n).map(i => col(s"tok_$i")) :+
        col("sk")(0).as("q_hi") :+ col("sk")(1).as("q_lo")): _*)
  }

  /** Hash-free input preparation: dedup, clean, filter — shared by the
    * (hi, lo) and word-array prefilter paths.
    */
  private def prepareToks(input: DataFrame, rowId: Column, queryCols: Seq[String]): DataFrame = {
    val n = queryCols.length
    val raws = queryCols.zipWithIndex.map { case (c, i) => col(c).cast("string").as(s"raw_$i") }
    val grouped = input
      .select((rowId.cast("long").as("__rid") +: raws): _*)
      .groupBy((0 until n).map(i => col(s"raw_$i")): _*)
      .agg(min(col("__rid")).as("MateRowID"))
    // truncate exactly like the INDEXED tokens (LakeIndexer.cleanCol):
    // an untruncated query token can never equal its own indexed form
    // past MaxTokenLength chars — the match would silently vanish
    val toks = (0 until n).map(i =>
      substring(TextFunctions.cleanedText(coalesce(col(s"raw_$i"), lit(""))),
        1, graft.index.LakeIndexer.MaxTokenLength).as(s"tok_$i"))
    val cleaned = grouped.select((col("MateRowID") +: toks): _*)
    cleaned.where(
      (0 until n).map(i => !col(s"tok_$i").isin("", "nan", "unknown")).reduce(_ && _))
  }

  /** All verified candidate matches: (tableid, rowid, MateRowID,
    * columns) where `columns` is the matched-column-combination string
    * (first-column colid, then ascending matched colids per further
    * query column — maco/mate.py:113 evaluate_rows). One row per
    * candidate cell (a row holding the first token in two columns gives
    * two rows), as long as the index holds each (tableid, rowid, colid)
    * once — duplicate cells are out of contract. Lazy: no Spark job runs
    * until the result is used.
    */
  def matches(input: DataFrame, rowId: Column, queryCols: Seq[String], cells: DataFrame,
              rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame = {
    val prep = prepare(input, rowId, queryCols, rowHash)
    val q = broadcast(prep)
    val cand = cells
      .join(q, cells("tokenized") === q("tok_0"))
      // hash pre-filter: no false negatives, exact verification follows
      .where(Xash.contains(col("sk_hi"), col("sk_lo"), col("q_hi"), col("q_lo")))
    verify(cand, prep, queryCols.length, cells)
  }

  /** [[matches]] over a word-array index ([[graft.index.LakeIndexer
    * .cellsWords]]) at any reference XASH width — the prefilter is the
    * word-wise containment kernel instead of the two-long compare; the
    * exact verification tail is identical, so results match the default
    * path bit-for-bit at every width (the prefilter never drops a true
    * match, only admits more or fewer false candidates).
    */
  def matchesWords(input: DataFrame, rowId: Column, queryCols: Seq[String],
                   cellsW: DataFrame, hashSize: Int): DataFrame = {
    import graft.functions.XashKernel
    val n = queryCols.length
    val prep = prepareToks(input, rowId, queryCols).withColumn("q_sk",
      XashKernel.superKeyWordsCol(array((0 until n).map(i => col(s"tok_$i")): _*), hashSize))
    val q = broadcast(prep)
    val cand = cellsW
      .join(q, cellsW("tokenized") === q("tok_0"))
      .where(XashKernel.containsWordsCol(col("sk"), col("q_sk")))
    verify(cand, prep, n, cellsW)
  }

  /** Top-k search over a word-array index at any XASH width. */
  def joinSearchAt(input: DataFrame, rowId: Column, queryCols: Seq[String],
                   cellsW: DataFrame, k: Int, hashSize: Int): DataFrame =
    topkOf(matchesWords(input, rowId, queryCols, cellsW, hashSize), k)

  /** Exact verification of the further query columns + matched-column
    * combo string — shared tail of every prefilter variant. `cand` is the
    * prefiltered first-token join (cells ⋈ the broadcast `prep`, so it
    * carries every query token); `cells` only needs (tableid, rowid,
    * colid, tokenized). The verification scan keeps only cells holding
    * some further query token (a broadcast semi-join inside the plan),
    * one join brings them to their candidate rows and one aggregate
    * collects, per candidate cell, the columns holding each token.
    */
  private def verify(cand0: DataFrame, prep: DataFrame, n: Int, cells: DataFrame): DataFrame = {
    val further = 1 until n
    val cand = cand0.select((Seq(col("tableid"), col("rowid"), col("MateRowID"),
      col("colid").as("c0")) ++ further.map(i => col(s"tok_$i"))): _*)
    val verified = if (further.isEmpty) cand else {
      val toks = broadcast(prep.select(
        explode(array(further.map(i => col(s"tok_$i")): _*)).as("__tok")))
      val hits = cells.select("tableid", "rowid", "colid", "tokenized")
        .join(toks, col("tokenized") === toks("__tok"), "left_semi")
      val isTok = further.map(i => col("tokenized") === col(s"tok_$i"))
      val sets = further.map(i => collect_set(when(isTok(i - 1), col("colid"))).as(s"m_$i"))
      cand.join(hits, Seq("tableid", "rowid"))
        .where(isTok.reduce(_ || _))
        .groupBy("tableid", "rowid", "MateRowID", "c0")
        .agg(sets.head, sets.tail: _*)
        .where(further.map(i => size(col(s"m_$i")) > 0).reduce(_ && _))
    }
    val combo = concat_ws("_", col("c0").cast("string") +: further.map(i =>
      concat_ws("_", transform(array_sort(col(s"m_$i")), _.cast("string")))): _*)
    verified.select(col("tableid"), col("rowid"), col("MateRowID"), combo.as("columns"))
  }

  /** Top-k joinable tables: (tableid, columns, joinability). */
  def joinSearch(input: DataFrame, rowId: Column, queryCols: Seq[String],
                 cells: DataFrame, k: Int,
                 rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame =
    topkOf(matches(input, rowId, queryCols, cells, rowHash), k)

  /** Score + top-k over an (optionally pre-cached) match set — public so
    * callers that materialize the match set once (the reference's
    * join-map product) can run search and map projection off the same
    * frame without recomputing the candidate joins.
    */
  def topK(matched: DataFrame, k: Int): DataFrame = topkOf(matched, k)

  /** Join-map projection of a match set restricted to `top`'s tables:
    * external row → input row (min MateRowID per external row).
    */
  def mapsOf(matched: DataFrame, top: DataFrame): DataFrame =
    matched
      .join(broadcast(top.select("tableid", "columns")), Seq("tableid", "columns"))
      .groupBy("tableid", "columns", "rowid")
      .agg(min("MateRowID").as("input_row"))

  private def topkOf(matched: DataFrame, k: Int): DataFrame = {
    val scored = matched
      .groupBy("tableid", "columns")
      .agg(count(lit(1)).as("joinability"))
    val best = Window.partitionBy("tableid")
      .orderBy(col("joinability").desc, col("columns").asc)
    scored
      .withColumn("rk", row_number().over(best)).where(col("rk") === 1).drop("rk")
      .orderBy(col("joinability").desc, col("tableid").asc)
      .limit(k)
  }

  /** Join maps for the top-k tables (maco/mate.py:473): external row →
    * input row (min MateRowID per external row, deterministic). The
    * match set is computed once and cached — scoring/topk and the map
    * projection both read it.
    */
  def joinMaps(input: DataFrame, rowId: Column, queryCols: Seq[String],
               cells: DataFrame, k: Int): DataFrame =
    searchAndMaps(input, rowId, queryCols, cells, k)._2

  /** Top-k result AND its join maps off one cached match set.
    *
    * The top-k frame is collected (k is a user constant — this is a
    * bounded driver collect at any lake scale) and re-parallelized as a
    * one-partition RDD relation: every downstream consumer broadcasts it
    * — the map projection here, COCOA's candidate-table and
    * excluded-column filters — and each such broadcast runs a one-task
    * job over the k collected rows instead of re-executing the
    * score+topk subplan.
    */
  def searchAndMaps(input: DataFrame, rowId: Column, queryCols: Seq[String],
                    cells: DataFrame, k: Int): (DataFrame, DataFrame) =
    // localCheckpoint over cache(): this frame is returned with no
    // unpersist hook, and a cache() would pin executor storage for the
    // session's lifetime; checkpoint blocks are GC-freed once
    // unreachable. Caveat: lineage is truncated, so an executor loss
    // mid-query fails the query instead of recomputing — acceptable for
    // an interactive search; retry re-runs the search.
    searchAndMapsOf(matches(input, rowId, queryCols, cells).localCheckpoint(true), k)

  /** [[searchAndMaps]] over an already-materialized match set. `top` is
    * the collected top-k as a one-partition RDD relation (see
    * [[searchAndMaps]]).
    */
  def searchAndMapsOf(matched: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val spark = matched.sparkSession
    val topKDf = topkOf(matched, k)
    val top = spark.createDataFrame(
      spark.sparkContext.parallelize(topKDf.collect().toIndexedSeq, 1), topKDf.schema)
    // materialized once: the maps ARE the reference's join-map product,
    // and COCOA consumes them several times (candidate tables, pair
    // join); localCheckpoint for the same lifecycle reason as above
    val maps = mapsOf(matched, top).localCheckpoint(true)
    (top, maps)
  }
}
