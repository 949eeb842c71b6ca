package graft.mate

import graft.functions.{TextFunctions, Xash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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
  * The query width is data, not plan structure: the query tuple is one
  * `array<string>` column, so past the input projection every width
  * runs, and a session compiles, the same plan. [[searchAndMaps]]
  * materializes one frame per request; its top-k is a local relation
  * and its join maps a filter of that frame.
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
    * Output: (MateRowID, tok_0..tok_{n-1}, q_hi, q_lo), a projection of
    * the array form [[matches]] runs on.
    */
  def prepare(input: DataFrame, rowId: Column, queryCols: Seq[String],
              rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame =
    keyed(input, rowId, queryCols, rowHash).select((col("MateRowID") +:
      queryCols.indices.map(i => col("__toks")(i).as(s"tok_$i")) :+ col("q_hi") :+ col("q_lo")): _*)

  /** (MateRowID, __toks, q_hi, q_lo): tuples with their query key. */
  private def keyed(input: DataFrame, rowId: Column, queryCols: Seq[String],
                    rowHash: Column => Column): DataFrame =
    prepareToks(input, rowId, queryCols)
      .withColumn("sk", rowHash(col("__toks")))
      .select(col("MateRowID"), col("__toks"), col("sk")(0).as("q_hi"), col("sk")(1).as("q_lo"))

  /** Hash-free input preparation — (MateRowID, __toks) with the query
    * tuple as one array, shared by the (hi, lo) and word-array
    * prefilter paths: dedup on the raw tuple, then clean every token.
    */
  private def prepareToks(input: DataFrame, rowId: Column, queryCols: Seq[String]): DataFrame =
    input
      .select(rowId.cast("long").as("__rid"), array(queryCols.map(col(_).cast("string")): _*).as("__raw"))
      .groupBy("__raw").agg(min(col("__rid")).as("MateRowID"))
      // truncate exactly like the INDEXED tokens (LakeIndexer.cleanCol):
      // an untruncated query token can never equal its own indexed form
      // past MaxTokenLength chars — the match would silently vanish
      .select(col("MateRowID"), transform(col("__raw"), t => substring(
        TextFunctions.cleanedText(coalesce(t, lit(""))), 1, graft.index.LakeIndexer.MaxTokenLength))
        .as("__toks"))
      .where(!arrays_overlap(col("__toks"), array(lit(""), lit("nan"), lit("unknown"))))

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
    verify(keyed(input, rowId, queryCols, rowHash), cells,
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
    val prep = prepareToks(input, rowId, queryCols)
      .withColumn("q_sk", XashKernel.superKeyWordsCol(col("__toks"), hashSize))
    verify(prep, cellsW, XashKernel.containsWordsCol(col("sk"), col("q_sk")))
  }

  /** Top-k search over a word-array index at any XASH width. */
  def joinSearchAt(input: DataFrame, rowId: Column, queryCols: Seq[String],
                   cellsW: DataFrame, k: Int, hashSize: Int): DataFrame =
    topK(matchesWords(input, rowId, queryCols, cellsW, hashSize), k)

  /** Token match, XASH prefilter and exact verification in one join —
    * shared by every prefilter variant and every query width. `prep` is
    * the prepared input (MateRowID, __toks, query-key columns); it is
    * broadcast once, exploded to one row per (MateRowID, position,
    * token) with the tuple's width `__n`. `cells` (tableid, rowid,
    * colid, tokenized + the row's super key) is scanned once and joined
    * on the token, with `prefilter` — the super-key containment test —
    * in the join condition: the key belongs to the row, so it prunes the
    * further-token cells of a row as well as its first-token cells. One
    * aggregate per (table row, input row) collects the (position, colid)
    * pairs that matched, keeps rows where all `__n` positions matched
    * and explodes position 0's colids into one row per candidate cell.
    */
  private def verify(prep: DataFrame, cells: DataFrame, prefilter: Column): DataFrame = {
    val keys = prep.columns.filterNot(Set("MateRowID", "__toks")).map(col)
    val q = broadcast(prep.select((col("MateRowID") +: size(col("__toks")).as("__n") +:
      posexplode(col("__toks")).as(Seq("__pos", "__tok")) +: keys): _*))
    def colids(hits: Column) = transform(hits, _("colid").cast("string"))
    cells.join(q, cells("tokenized") === q("__tok") && prefilter)
      .groupBy("tableid", "rowid", "MateRowID", "__n")
      .agg(array_sort(collect_set(struct(col("__pos"), col("colid")))).as("__hits"))
      .where(size(array_distinct(transform(col("__hits"), _("__pos")))) === col("__n"))
      .select(col("tableid"), col("rowid"), col("MateRowID"),
        explode(filter(col("__hits"), _("__pos") === 0)).as("__c0"),
        filter(col("__hits"), _("__pos") > 0).as("__rest"))
      .select(col("tableid"), col("rowid"), col("MateRowID"),
        array_join(concat(colids(array(col("__c0"))), colids(col("__rest"))), "_").as("columns"))
  }

  /** Top-k joinable tables: (tableid, columns, joinability). */
  def joinSearch(input: DataFrame, rowId: Column, queryCols: Seq[String],
                 cells: DataFrame, k: Int,
                 rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame =
    topK(matches(input, rowId, queryCols, cells, rowHash), k)

  /** Score + top-k over a match set — public so callers that keep the
    * match set (the oracle queries' shared cache) can run search and
    * map projection off the same frame without recomputing the
    * candidate joins.
    */
  def topK(matched: DataFrame, k: Int): DataFrame =
    best(matched.groupBy("tableid", "columns").agg(count(lit(1)).as("joinability")), k)

  /** Join-map projection of a match set restricted to `top`'s tables:
    * external row → input row (min MateRowID per external row).
    */
  def mapsOf(matched: DataFrame, top: DataFrame): DataFrame =
    matched
      .join(broadcast(top.select("tableid", "columns")), Seq("tableid", "columns"))
      .groupBy("tableid", "columns", "rowid")
      .agg(min("MateRowID").as("input_row"))

  /** Each table's best combination of (tableid, columns, joinability)
    * scores, then the k best tables.
    */
  private def best(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("tableid")
      .orderBy(col("joinability").desc, col("columns").asc)
    scored
      .withColumn("rk", row_number().over(w)).where(col("rk") === 1).drop("rk")
      .orderBy(col("joinability").desc, col("tableid").asc)
      .limit(k)
  }

  /** Join maps for the top-k tables (maco/mate.py:473): external row →
    * input row (min MateRowID per external row, deterministic).
    */
  def joinMaps(input: DataFrame, rowId: Column, queryCols: Seq[String],
               cells: DataFrame, k: Int): DataFrame =
    searchAndMaps(input, rowId, queryCols, cells, k)._2

  /** Top-k AND join maps of a search: [[searchAndMapsOf]] its lazy
    * match set.
    */
  def searchAndMaps(input: DataFrame, rowId: Column, queryCols: Seq[String],
                    cells: DataFrame, k: Int): (DataFrame, DataFrame) =
    searchAndMapsOf(matches(input, rowId, queryCols, cells), k)

  /** Top-k and join maps of a match set with one materialization: the
    * match set is aggregated once per (tableid, columns, rowid) — match
    * count and min(MateRowID) — and that frame is checkpointed. The
    * top-k is scored from it and collected (k is a user constant — a
    * bounded driver collect at any lake scale) into a local relation:
    * collecting `top` runs no job, and a broadcast of it one one-task
    * job over the k rows, not the scoring plan. The maps are a view
    * of the checkpointed frame filtered on the k (tableid, columns)
    * pairs: no broadcast, no further aggregate or checkpoint.
    */
  def searchAndMapsOf(matched: DataFrame, k: Int): (DataFrame, DataFrame) = {
    // localCheckpoint over cache(): this frame is returned with no
    // unpersist hook, and a cache() would pin executor storage for the
    // session's lifetime; checkpoint blocks are GC-freed once
    // unreachable. Caveat: lineage is truncated, so an executor loss
    // mid-query fails the query instead of recomputing — acceptable for
    // an interactive search; retry re-runs the search.
    val perRow = matched.groupBy("tableid", "columns", "rowid")
      .agg(count(lit(1)).as("__m"), min("MateRowID").as("input_row"))
      .localCheckpoint(true)
    val scored = best(perRow.groupBy("tableid", "columns").agg(sum("__m").as("joinability")), k)
    val rows = scored.collect()
    val top = matched.sparkSession.createDataFrame(rows.toSeq.asJava, scored.schema)
    // the pairs as one array literal: held by reference in generated
    // code, so every request's filter compiles to the same class
    val pairs = typedLit(rows.map(r => s"${r.getInt(0)}:${r.getString(1)}").toSeq)
    val maps = perRow
      .where(array_contains(pairs, concat_ws(":", col("tableid").cast("string"), col("columns"))))
      .select("tableid", "columns", "rowid", "input_row")
    (top, maps)
  }
}
