package graft.mate

import graft.functions.{TextFunctions, Xash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MATE — top-k multi-attribute joinability search
  * (reference: maco/mate.py:125 join_search).
  *
  * Spark-first redesign: the reference's driver-side heap + per-table
  * pruning loop becomes one lazy declarative plan with one scan of the
  * cell index, one broadcast and one aggregate, and no eager
  * checkpoint — the prepared input (one row per query token) is
  * broadcast into a token-match join against the index whose condition
  * carries the native 128-bit super-key containment pre-filter (two
  * long compares, maco/mate.py:393), one grouped aggregate per
  * candidate row verifies every further query column exactly, then a
  * global top-k. At scale the exact-k heap is the part that cannot
  * distribute; the join can, so we compute all candidate scores
  * shuffle-parallel and `ORDER BY score LIMIT k`.
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
    * until the result is used; then the index is scanned once and the
    * prepared input broadcast once (see [[verify]]).
    */
  def matches(input: DataFrame, rowId: Column, queryCols: Seq[String], cells: DataFrame,
              rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame =
    verify(prepare(input, rowId, queryCols, rowHash), queryCols.length, cells,
      // hash pre-filter: no false negatives, exact verification follows
      Xash.contains(col("sk_hi"), col("sk_lo"), col("q_hi"), col("q_lo")))

  /** [[matches]] over a word-array index ([[graft.index.LakeIndexer
    * .cellsWords]]) at any reference XASH width — the prefilter is the
    * word-wise containment kernel instead of the two-long compare; the
    * exact verification is identical, so results match the default
    * path bit-for-bit at every width (the prefilter never drops a true
    * match, only admits more or fewer false candidates).
    */
  def matchesWords(input: DataFrame, rowId: Column, queryCols: Seq[String],
                   cellsW: DataFrame, hashSize: Int): DataFrame = {
    import graft.functions.XashKernel
    val n = queryCols.length
    val prep = prepareToks(input, rowId, queryCols).withColumn("q_sk",
      XashKernel.superKeyWordsCol(array((0 until n).map(i => col(s"tok_$i")): _*), hashSize))
    verify(prep, n, cellsW, XashKernel.containsWordsCol(col("sk"), col("q_sk")))
  }

  /** Top-k search over a word-array index at any XASH width. */
  def joinSearchAt(input: DataFrame, rowId: Column, queryCols: Seq[String],
                   cellsW: DataFrame, k: Int, hashSize: Int): DataFrame =
    topkOf(matchesWords(input, rowId, queryCols, cellsW, hashSize), k)

  /** Token match, XASH prefilter and exact verification in one join —
    * shared by every prefilter variant. `prep` is the prepared input
    * (MateRowID, tok_0..tok_{n-1}, query-key columns); it is broadcast
    * once, exploded to one row per (MateRowID, position, token). `cells`
    * (tableid, rowid, colid, tokenized + the row's super key) is scanned
    * once and joined on the token, with `prefilter` — the super-key
    * containment test — in the join condition: the key belongs to the
    * row, so it prunes the further-token cells of a row as well as its
    * first-token cells. For n >= 2 one aggregate per (table row, input
    * row) collects the colids holding each position's token, keeps rows
    * where every position matched and explodes position 0's set into
    * one row per candidate cell; one column needs no aggregate.
    */
  private def verify(prep: DataFrame, n: Int, cells: DataFrame, prefilter: Column): DataFrame = {
    val keys = prep.columns.filterNot(c => c == "MateRowID" || c.startsWith("tok_")).map(col)
    val q = broadcast(prep.select((col("MateRowID") +:
      posexplode(array((0 until n).map(i => col(s"tok_$i")): _*)).as(Seq("__pos", "__tok")) +:
      keys): _*))
    val hit = cells.join(q, cells("tokenized") === q("__tok") && prefilter)
    val further = 1 until n
    if (further.isEmpty)
      hit.select(col("tableid"), col("rowid"), col("MateRowID"), col("colid").cast("string").as("columns"))
    else {
      val sets = (0 until n).map(i => collect_set(when(col("__pos") === i, col("colid"))).as(s"m_$i"))
      val combo = concat_ws("_", col("c0").cast("string") +: further.map(i =>
        concat_ws("_", transform(array_sort(col(s"m_$i")), _.cast("string")))): _*)
      hit.groupBy("tableid", "rowid", "MateRowID")
        .agg(sets.head, sets.tail: _*)
        .where(further.map(i => size(col(s"m_$i")) > 0).reduce(_ && _))
        // an empty position-0 set explodes to no row
        .select(col("tableid") +: col("rowid") +: col("MateRowID") +:
          explode(col("m_0")).as("c0") +: further.map(i => col(s"m_$i")): _*)
        .select(col("tableid"), col("rowid"), col("MateRowID"), combo.as("columns"))
    }
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
