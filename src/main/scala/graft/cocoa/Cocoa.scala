package graft.cocoa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** COCOA — correlation-driven enrichment
  * (reference: maco/cocoa.py enrich / enrich_multicolumn).
  *
  * Spark-first redesign: the reference walks a per-column rank
  * linked-list on the driver (maco/cocoa.py:479-523). Here ranks are
  * window functions and every external column of every candidate table
  * is scored in ONE grouped aggregation over the melted cell index —
  * a fixed number of shuffles regardless of how many columns are
  * evaluated, which is what survives a 100 TB lake.
  *
  * Semantics (SURVEY.md §3 deviations documented there):
  * - numeric columns → Spearman: Pearson of (target rank, external
  *   rank); input rows without a join partner get the middle rank
  *   ⌈n/2⌉ (maco/cocoa.py:199).
  * - categorical columns → max over values of the one-hot Pearson
  *   closed form (maco/cocoa.py:269).
  */
object Cocoa {

  /** Average-tie ascending rank of `target` (nulls bottom), keyed by
    * input row: (input_row, rt). Global sort — the input dataset is the
    * user's query table, small next to the lake.
    */
  def targetRanks(input: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("target").asc_nulls_last, col("input_row"))
    input
      .withColumn("rn", row_number().over(ord))
      .withColumn("rt", avg(col("rn")).over(Window.partitionBy(col("target"))))
      .select("input_row", "rt")
  }

  /** Joinable-column discovery (maco/data_handler.py:695
    * get_joinable_columns): rank every lake column by how many DISTINCT
    * query tokens it contains, top k_t. The COCOA front door when MATE
    * isn't used. input: (tok).
    */
  def joinableColumns(input: DataFrame, cells: DataFrame, kT: Int): DataFrame =
    cells
      .join(broadcast(input.select(col("tok")).distinct()), col("tokenized") === col("tok"))
      .groupBy("table_col_id")
      .agg(countDistinct(col("tokenized")).as("ct"))
      .orderBy(col("ct").desc, col("table_col_id").asc)
      .limit(kT)

  /** Column-pair Jaccard similarity over distinct cell tokens — the
    * schema-matching complement to [[joinableColumns]]: instead of
    * ranking lake columns against ONE query column, rank every pair of
    * lake columns by |tokens∩| / |tokens∪|.
    *
    * Pair generation is bucket-explode over the inverted token index
    * (group by token, emit each bucket's ordered column pairs from a
    * lazy compiled iterator — the same shape as
    * [[graft.dedup.Dedup.ngramJaccardPairs]], measured ~2× faster than
    * the token self-join), never all pairs. `maxTokenDf` is the
    * hot-token skew guard INSIDE the operator: a token appearing in
    * 10⁵ columns would otherwise put 10¹⁰ pairs in one bucket.
    * Dropped tokens leave BOTH the pair counts and the column sizes,
    * so `jac` is the exact Jaccard of the guard-filtered token sets —
    * numerator and denominator over one universe (a numerator-only
    * drop would strictly underestimate surviving pairs); a pair
    * disappears entirely only when its EVERY shared token is hot.
    * Output: (col_1, col_2, common, jac), col_1 < col_2, top `k`.
    */
  def columnPairSimilarity(cells: DataFrame, k: Int, minJac: Double = 0.0,
                           maxTokenDf: Int = 4096): DataFrame = {
    val d = cells.select(col("table_col_id"), col("tokenized")).distinct()
    // bucket size IS the token's column frequency — the guard costs no
    // extra shuffle. Pairs stream from a lazy iterator (never df²
    // buffered per bucket).
    // consumed twice below (sizes + the pair stream) with different
    // downstream shapes — materialize the guarded buckets once instead
    // of running the distinct+collect_list aggregation per consumer
    val buckets = d.groupBy("tokenized")
      .agg(collect_list(col("table_col_id")).as("cs"))
      .where(size(col("cs")) <= maxTokenDf)
      .localCheckpoint(true)
    // sizes over the SAME guarded universe as the pair counts
    val sizes = buckets.select(explode(col("cs")).as("table_col_id"))
      .groupBy("table_col_id").agg(count(lit(1)).as("nd"))
    // lazy Generator, not a typed flatMap — same streaming property,
    // no per-bucket encoder ser/de (see PairGenerators)
    val pairs = buckets.select(graft.plans.PairGenerators.sortedStringPairsCol(col("cs")))
      .groupBy("col_1", "col_2")
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("table_col_id").as("col_1"), col("nd").as("n1")), "col_1")
      .join(sizes.select(col("table_col_id").as("col_2"), col("nd").as("n2")), "col_2")
      .withColumn("jac", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")).cast("double"))
      .where(col("jac") >= minJac)
      .select("col_1", "col_2", "common", "jac")
      .orderBy(col("jac").desc, col("col_1").asc, col("col_2").asc)
      .limit(k)
  }

  /** Token-equality join map (maco/cocoa.py:62 generate_join_map):
    * external row of `joinColId` → input row; the reference keeps the
    * last input occurrence, we keep max(input_row) (identical when the
    * query column is duplicate-free).
    * input: (input_row, tok); extCells: one table's cells.
    */
  def joinPairs(input: DataFrame, extCells: DataFrame, joinColId: Int): DataFrame =
    extCells.where(col("colid") === joinColId)
      .join(broadcast(input), col("tokenized") === col("tok"))
      .groupBy(col("tableid"), col("rowid").as("ext_row"))
      .agg(max(col("input_row")).as("input_row"))

  /** Correlation of every candidate external column.
    *
    * @param inputRanked (input_row, rt) from [[targetRanks]]
    * @param pairs       (tableid, ext_row, input_row) join maps
    * @param extCells    cell index rows of the candidate tables
    * @param excluded    (tableid, colid) join columns to skip
    * @return (tableid, table_col_id, is_numeric, corr)
    */
  def correlations(inputRanked: DataFrame, pairs: DataFrame,
                   extCells: DataFrame, excluded: DataFrame): DataFrame = {
    val stats = inputRanked.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("rt")).as("r_sum"),
      sum(col("rt") * col("rt")).as("r_sum2"))

    // restrict to candidate TABLES first; numericness must stay
    // COLUMN-wide so it comes from a tiny per-column aggregate broadcast
    // back — the window form (CocoaIndex.withSortValue) would shuffle
    // and sort EVERY candidate cell, and extCells is the cached index so
    // the aggregate's extra scan is nearly free. Only matched rows then
    // carry the parsed sort value.
    val candTables = pairs.select("tableid").distinct()
    val cand = extCells
      .join(broadcast(candTables), Seq("tableid"), "left_semi")
      .join(excluded, Seq("tableid", "colid"), "left_anti")
    // value semantics shared with the index builder via CellValues —
    // the bit-identity behind cocoa_from_index ≡ cocoa_enrich
    import graft.index.CellValues
    val colNum = cand.groupBy("table_col_id")
      .agg((min(when(CellValues.tokNumeric, 1).otherwise(0)) === 1).as("is_numeric"))
    val vnum0 = CellValues.vnumRaw

    // one value per (external column, input row): last-write in value
    // order = max (maco/cocoa.py numeric walk overwrites ascending)
    val perRow = cand
      .join(pairs.withColumnRenamed("ext_row", "rowid"), Seq("tableid", "rowid"))
      .join(broadcast(colNum), "table_col_id")
      .withColumn("vnum", when(col("is_numeric"), vnum0))
      .withColumn("vnum", CellValues.normalizeNan(col("vnum")))
      .groupBy(col("table_col_id"), col("tableid"), col("input_row"))
      .agg(max(col("vnum")).as("vnum"), max(col("tokenized")).as("v_str"),
        first(col("is_numeric")).as("is_numeric"))

    val ord = Window.partitionBy("table_col_id")
      .orderBy(col("vnum").asc_nulls_last, col("v_str").asc, col("input_row").asc)
    val valKey = CellValues.valKey(col("vnum"), col("v_str"))
    val ranked = perRow
      .withColumn("rn", row_number().over(ord))
      .withColumn("vk", valKey)
      .withColumn("xr", avg(col("rn")).over(Window.partitionBy(col("table_col_id"), col("vk"))))
      .join(inputRanked, "input_row")

    corrFromRanked(ranked, stats)
  }

  /** Correlation aggregation over per-row external ranks — shared by the
    * relational path and the packed-index walk. `ranked` needs
    * (tableid, table_col_id, is_numeric, input_row, xr, rt).
    * Categorical values group by `xr`: the average-tie rank is bijective
    * with the value within a column.
    */
  private def corrFromRanked(ranked: DataFrame, stats: DataFrame): DataFrame = {
    // ONE pass over the expensive rank pipeline: aggregate per (column,
    // xr), then derive BOTH branches in a single further aggregation
    // with conditional columns — a num/cat UNION of two consumers of `g`
    // would re-execute `ranked`'s windows and joins twice (measured:
    // the whole operator ~2× slower). The 1-row stats frame rides a
    // broadcast crossJoin BEFORE the final groupBy so the categorical
    // per-value one-hot Pearson is computable inline. Exactness: xr and
    // rt are average ranks (half-integers ≪ 2^52), so qty-weighted
    // products and re-associated sums stay exact in double —
    // bit-identical to the row-at-a-time sums.
    val g = ranked
      .groupBy(col("tableid"), col("table_col_id"), col("is_numeric"), col("xr"))
      .agg(count(lit(1)).cast("double").as("qty"), sum(col("rt")).as("s"))

    val stdY = sqrt(col("r_sum2") / col("n") - (col("r_sum") / col("n")) * (col("r_sum") / col("n")))
    // per-VALUE one-hot Pearson (categorical only; qty = n would zero
    // the denominator — the reference would crash there, we null it out)
    val corrV = when(!col("is_numeric") && col("qty") < col("n"),
      (col("n") * col("s") - col("qty") * col("r_sum")) /
        (stdY * col("n") * sqrt(col("qty") * (col("n") - col("qty")))))

    val agg = g.crossJoin(broadcast(stats))
      .withColumn("corr_v", corrV)
      .groupBy("tableid", "table_col_id", "is_numeric")
      .agg(
        // numeric: moments for Spearman over the m JOINED rows
        sum(col("qty")).as("m"),
        sum(col("xr") * col("qty")).as("sx"),
        sum(col("xr") * col("xr") * col("qty")).as("sx2"),
        sum(col("xr") * col("s")).as("sxy"), sum(col("s")).as("sy_j"),
        // categorical: best per-value one-hot correlation
        max(abs(col("corr_v"))).as("cat_corr"),
        // 1-row stats are constant within any group — carry them through
        first(col("n")).as("n"), first(col("r_sum")).as("r_sum"),
        first(col("r_sum2")).as("r_sum2"))

    // numeric: unjoined input rows take the middle rank ⌈n/2⌉
    val numCorr = {
      val mid = ceil(col("n") / 2).cast("double")
      val sX = col("sx") + (col("n") - col("m")) * mid
      val sX2 = col("sx2") + (col("n") - col("m")) * mid * mid
      val sXY = col("sxy") + mid * (col("r_sum") - col("sy_j"))
      (col("n") * sXY - sX * col("r_sum")) /
        (sqrt(col("n") * sX2 - sX * sX) *
          sqrt(col("n") * col("r_sum2") - col("r_sum") * col("r_sum")))
    }

    agg
      .withColumn("corr", when(col("is_numeric"), numCorr).otherwise(col("cat_corr")))
      .select(col("tableid"), col("table_col_id"), col("is_numeric"), col("corr"))
      .where(col("corr").isNotNull && !isnan(col("corr")))
  }

  /** Correlations computed FROM the persisted order index
    * (offline-index mode). Agrees exactly with [[correlations]],
    * including N:1 pair maps (several external rows per input row):
    * the walk keeps each input's last-in-order — i.e. max-value —
    * occurrence, the same collapse the relational path applies.
    */
  def correlationsFromIndex(inputRanked: DataFrame, index: DataFrame, pairs: DataFrame,
                            excluded: DataFrame): DataFrame = {
    val stats = inputRanked.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("rt")).as("r_sum"),
      sum(col("rt") * col("rt")).as("r_sum2"))
    val keep = index
      .withColumn("colid", split(col("table_col_id"), "_")(1).cast("int"))
      .withColumn("tableid", split(col("table_col_id"), "_")(0).cast("int"))
      .join(excluded, Seq("tableid", "colid"), "left_anti")
      .drop("colid", "tableid")
    val ranked = ranksFromIndex(keep, pairs).join(inputRanked, "input_row")
    corrFromRanked(ranked, stats)
  }

  /** External ranks reconstructed from the PACKED order index
    * (maco/cocoa.py:479 — the offline-index mode): walk each column's
    * successor list once, averaging ties within equal-runs (binary
    * list), restricted to matched input rows. One task per column, no
    * re-sort — this is what the persisted index buys at query time.
    * Produces exactly the ranks [[correlations]] computes relationally.
    *
    * @param index (table_col_id, is_numeric, min_index, order_list, binary_list)
    * @param pairs (tableid, ext_row, input_row)
    * @return (table_col_id, tableid, input_row, is_numeric, xr)
    */
  def ranksFromIndex(index: DataFrame, pairs: DataFrame): DataFrame = {
    val walkUdf = udf { (minIndex: Long, order: Seq[Long], binary: String,
                         matchedRows: Seq[Long], matchedInputs: Seq[Long]) =>
      val toInput = matchedRows.zip(matchedInputs).toMap
      // phase 1 — walk once, collecting (input_row, equal-run id) per
      // matched external row in value order. When several external
      // rows map to ONE input row (duplicate-valued join column), the
      // relational path keeps that input's MAX value — i.e. its LAST
      // occurrence in this ascending walk — so only the last event per
      // input survives; ranking over all occurrences would inflate
      // positions and every downstream moment.
      val events = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      var ptr = minIndex
      var runId = 0
      while (ptr != -1L) {
        // Dense-rowid contract: the index arrays are addressed by rowid, so
        // every pointer must be a valid 0-based position. An index built
        // from a lake violating that yields wrong ranks silently — fail
        // loudly instead.
        require(ptr >= 0L && ptr < order.length && ptr < binary.length,
          s"order-index pointer $ptr out of bounds (order_list size ${order.length}); " +
            "CocoaIndex requires dense 0-based rowids per table")
        toInput.get(ptr).foreach(inp => events += ((inp, runId)))
        // '1' = value changes after this row → next equal-run
        if (binary.charAt(ptr.toInt) == '1') runId += 1
        ptr = order(ptr.toInt)
      }
      // phase 2 — survivors (each input's last occurrence), positions
      // re-counted over survivors only, averaged within equal-runs
      val lastIdx = scala.collection.mutable.HashMap.empty[Long, Int]
      events.zipWithIndex.foreach { case ((inp, _), i) => lastIdx(inp) = i }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      val run = scala.collection.mutable.ArrayBuffer.empty[Long]
      var pos = 0
      var curRun = -1
      def flushRun(): Unit = {
        if (run.nonEmpty) {
          val avg = (pos - run.length + 1 + pos).toDouble / 2
          run.foreach(inp => out += ((inp, avg)))
          run.clear()
        }
      }
      events.zipWithIndex.foreach { case ((inp, r), i) =>
        if (lastIdx(inp) == i) {
          if (r != curRun) { flushRun(); curRun = r }
          pos += 1
          run += inp
        }
      }
      flushRun()
      out.toSeq
    }
    val matched = pairs.groupBy("tableid")
      .agg(collect_list(col("ext_row")).as("mrows"), collect_list(col("input_row")).as("minputs"))
    index
      .withColumn("tableid", split(col("table_col_id"), "_")(0).cast("int"))
      .join(matched, "tableid")
      .select(col("table_col_id"), col("tableid"), col("is_numeric"),
        explode(walkUdf(col("min_index"), col("order_list"), col("binary_list"),
          col("mrows"), col("minputs"))).as("e"))
      .select(col("table_col_id"), col("tableid"), col("is_numeric"),
        col("e._1").as("input_row"), col("e._2").as("xr"))
  }

  /** Materialize the enrichment: join the top-|corr| external column's
    * values onto the input (the demo notebook's final step — the
    * enriched dataset the user actually trains on).
    * Output: input columns + (ext_col, ext_value).
    */
  def enrichJoin(input: DataFrame, corr: DataFrame, pairs: DataFrame,
                 extCells: DataFrame): DataFrame = {
    val top1 = corr
      .orderBy(abs(col("corr")).desc, col("table_col_id").asc).limit(1)
      .select("table_col_id")
    val vals = extCells.join(broadcast(top1), "table_col_id")
      .join(pairs.withColumnRenamed("ext_row", "rowid"), Seq("tableid", "rowid"))
      .groupBy("input_row")
      .agg(max(col("table_col_id")).as("ext_col"), max(col("tokenized")).as("ext_value"))
    input.join(vals, Seq("input_row"), "left")
  }

  /** Top-k external features by |corr| (maco/cocoa.py:561). */
  def topK(correlations: DataFrame, k: Int): DataFrame =
    correlations
      .orderBy(abs(col("corr")).desc, col("table_col_id").asc)
      .limit(k)

  /** The reference's one-call multicolumn enrichment
    * (maco/cocoa.py:306 enrich_multicolumn): MATE top-k joinable
    * tables → join maps → correlation of every candidate column →
    * top-k_c features by |corr|. `input` must carry `rowId`, the query
    * columns and `target`.
    */
  def enrichMulticolumn(input: DataFrame, rowId: Column, queryCols: Seq[String],
                        target: Column, cells: DataFrame, k: Int, kC: Int): DataFrame = {
    val (top, jm0) = graft.mate.Mate.searchAndMaps(input, rowId, queryCols, cells, k)
    val pairs = jm0.select(col("tableid"), col("rowid").as("ext_row"), col("input_row"))
    val excluded = top
      .select(col("tableid"), explode(split(col("columns"), "_")).as("c"))
      .select(col("tableid"), col("c").cast("int").as("colid")).distinct()
    val ranked = targetRanks(input.select(rowId.cast("long").as("input_row"), target.as("target")))
    topK(correlations(ranked, pairs, cells, excluded), kC)
  }
}
