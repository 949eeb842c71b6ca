package graft.dup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate row / table discovery
  * (reference: maco/duplicate_detection.py).
  *
  * Spark-first: per-row signatures (sorted token multiset + XASH super
  * key) come from one groupBy over the cell index; candidate pairs join
  * on the two super-key longs (the reference's BIT(128) string
  * comparison, maco/duplicate_detection.py:86) and are verified by exact
  * multiset equality (fp_check, maco/duplicate_detection.py:9) — all
  * shuffle-parallel, no driver-side pairwise loops
  * (maco/duplicate_detection.py:225 iterates all table pairs in Python).
  */
object DuplicateDetection {

  /** (tableid, rowid, sig, n_cells, sk_hi, sk_lo); `sig` is the sorted
    * token list — equality of `sig` is exactly fp_check (equal length +
    * equal sorted values).
    */
  def rowSignatures(cells: DataFrame): DataFrame =
    cells.groupBy("tableid", "rowid")
      .agg(sort_array(collect_list(col("tokenized"))).as("sig"),
        count(lit(1)).as("n_cells"),
        first(col("sk_hi")).as("sk_hi"), first(col("sk_lo")).as("sk_lo"))

  /** Cross-table duplicate row pairs (maco/duplicate_detection.py:208
    * get_relations → compareTables): tableid_1 < tableid_2, equal super
    * key (pre-filter) and equal sorted row multiset (verification).
    */
  def duplicateRowPairs(cells: DataFrame): DataFrame =
    duplicateRowPairsFromSigs(rowSignatures(cells))

  /** [[duplicateRowPairs]] over a precomputed (ideally cached)
    * [[rowSignatures]] frame — the signature build is the expensive
    * groupBy+sort pass, so callers running several duplicate queries
    * over one lake should build it once.
    */
  def duplicateRowPairsFromSigs(sigs: DataFrame): DataFrame = {
    val a = sigs.select(
      col("tableid").as("tableid_1"), col("rowid").as("rowid_1"),
      col("sig").as("sig_1"), col("sk_hi"), col("sk_lo"))
    val b = sigs.select(
      col("tableid").as("tableid_2"), col("rowid").as("rowid_2"),
      col("sig").as("sig_2"), col("sk_hi"), col("sk_lo"))
    a.join(b, Seq("sk_hi", "sk_lo"))
      .where(col("tableid_1") < col("tableid_2") && col("sig_1") === col("sig_2"))
      .select("tableid_1", "rowid_1", "tableid_2", "rowid_2")
  }

  /** Duplicate table pairs: at least min(|t1|, |t2|) duplicate row
    * pairs (maco/duplicate_detection.py:196).
    */
  def duplicateTablePairs(cells: DataFrame): DataFrame =
    duplicateTablePairsFromSigs(cells, rowSignatures(cells))

  /** [[duplicateTablePairs]] with a precomputed signature frame.
    * (`cells` is kept for API stability; row counts derive from `sigs`
    * — one signature row per distinct (tableid, rowid) by construction,
    * so counting sigs ≡ the old distinct-over-cells pass without
    * re-shuffling the full cell index.)
    */
  def duplicateTablePairsFromSigs(cells: DataFrame, sigs: DataFrame): DataFrame = {
    val sizes = sigs.groupBy("tableid").agg(count(lit(1)).as("n_rows"))
    duplicateRowPairsFromSigs(sigs)
      .groupBy("tableid_1", "tableid_2")
      .agg(count(lit(1)).as("n_dup"))
      .join(sizes.withColumnRenamed("tableid", "tableid_1").withColumnRenamed("n_rows", "n1"), "tableid_1")
      .join(sizes.withColumnRenamed("tableid", "tableid_2").withColumnRenamed("n_rows", "n2"), "tableid_2")
      .where(col("n_dup") >= least(col("n1"), col("n2")))
      .select("tableid_1", "tableid_2")
  }

  /** Lake tables that duplicate the given input table
    * (maco/duplicate_detection.py:54 get_duplicate_tables): a lake
    * table qualifies when its duplicate rows cover the whole input or
    * its own whole extent (SURVEY.md §3 cleaned-up coverage rule).
    * The input's signatures are built once, at call time (one collect,
    * bounded by the input table, which a broadcast holds on the driver
    * anyway), and broadcast to the lookup.
    * @param inputCells cell index of the input table (any tableid)
    */
  def duplicateTablesForInput(inputCells: DataFrame, lakeCells: DataFrame): DataFrame = {
    val inSigs = rowSignatures(inputCells).select(
      col("rowid").as("in_row"), col("sig").as("in_sig"), col("sk_hi"), col("sk_lo"))
    val rows = inSigs.collect()
    val in = broadcast(lakeCells.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), inSigs.schema))
    val nInput = rows.map(_.getLong(0)).distinct.length
    // only lake rows whose super key equals an input row's can be
    // duplicates: the key is a row attribute on every cell, so a
    // semi-join on it keeps whole candidate rows and the signature
    // groupBy shuffles those alone, never the whole lake
    val cand = rowSignatures(
      lakeCells.join(in.select("sk_hi", "sk_lo"), Seq("sk_hi", "sk_lo"), "left_semi"))
    // per-table sizes from the colid-0 cells: the melt emits exactly one
    // per row, so no signature of the whole lake is needed to count rows
    val sizes = lakeCells.where(col("colid") === 0).groupBy("tableid").agg(count(lit(1)).as("n_ext"))
    cand.join(in, Seq("sk_hi", "sk_lo"))
      .where(col("sig") === col("in_sig"))
      .groupBy("tableid")
      // set sizes, not countDistinct: one aggregate over the few
      // candidate pairs instead of an expand and two exchanges
      .agg(size(collect_set(col("in_row"))).as("in_cov"),
        size(collect_set(col("rowid"))).as("ext_cov"))
      .join(sizes, "tableid")
      .where(col("in_cov") >= nInput || col("ext_cov") >= col("n_ext"))
      .select("tableid")
  }
}
