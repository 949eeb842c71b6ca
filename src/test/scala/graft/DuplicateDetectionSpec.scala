package graft

import graft.dup.DuplicateDetection
import graft.index.{LakeIndexer, LakeTable}
import graft.sources.LakeReader.MergedGroup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins DuplicateDetection's internals after the r17 optimization that
  * derives per-table row counts from the SIGNATURE frame (one row per
  * distinct (tableid, rowid) by construction) instead of re-shuffling
  * the full cell index through a distinct — the table-level coverage
  * thresholds depend on those counts being exact. The input lookup
  * counts rows from the colid-0 cells instead and groups only the lake
  * rows sharing an input super key; it is checked against the
  * full-signature formulation.
  */
class DuplicateDetectionSpec extends SparkSpec {

  /** Tables 1 and 2: rows 0-2 of table 2 duplicate table 1 exactly
    * (same cell values), row 3 of table 2 is unique. Table 1 has 3
    * rows, table 2 has 4 — so t2 covers ALL of t1 (min(3,4)=3 dups).
    */
  private def lakeCells = {
    val s = spark
    import s.implicits._
    val t1 = Seq((0L, "alice", "10"), (1L, "bob", "20"), (2L, "carol", "30"))
      .toDF("k", "name", "v")
    val t2 = Seq((0L, "alice", "10"), (1L, "bob", "20"), (2L, "carol", "30"),
      (3L, "dave", "40")).toDF("k", "name", "v")
    LakeIndexer.cells(Seq(
      LakeTable(1, "t1", t1, col("k")),
      LakeTable(2, "t2", t2, col("k"))))
  }

  test("duplicate row pairs: exactly the three duplicated rows, cross-table") {
    val pairs = DuplicateDetection.duplicateRowPairs(lakeCells)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(pairs == Set((1, 0L, 2, 0L), (1, 1L, 2, 1L), (1, 2L, 2, 2L)))
  }

  test("table pairs threshold uses exact per-table row counts from the sig frame") {
    val cells = lakeCells
    val sigs = DuplicateDetection.rowSignatures(cells)
    // n_dup = 3 >= min(n1=3, n2=4) -> the pair qualifies; a count
    // inflated by per-row cell multiplicity (5 cells/row) would still
    // pass, but a DEFLATED one (e.g. counting distinct sigs instead of
    // rows) would not — pin the exact verdict and the sizes source
    val got = DuplicateDetection.duplicateTablePairsFromSigs(cells, sigs)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 2)))
    val sizes = sigs.groupBy("tableid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1 -> 3L, 2 -> 4L))
  }

  test("duplicateTablesForInput: full-input coverage and full-extent coverage both qualify") {
    val s = spark
    import s.implicits._
    val cells = lakeCells
    // input = table 1's rows verbatim: t1 covers the whole input AND
    // its own extent; t2 covers the whole input (3 of 3) but not its
    // own extent (3 of 4) — both qualify under the coverage rule
    val in = Seq((0L, "alice", "10"), (1L, "bob", "20"), (2L, "carol", "30"))
      .toDF("k", "name", "v")
    val inputCells = LakeIndexer.cells(Seq(LakeTable(0, "input", in, col("k"))))
    val got = DuplicateDetection.duplicateTablesForInput(inputCells, cells)
      .collect().map(_.getInt(0)).toSet
    assert(got == Set(1, 2))
  }

  /** The full-signature formulation of [[DuplicateDetection
    * .duplicateTablesForInput]]: every lake row's signature, per-table
    * sizes counted from those signatures. The oracle of the key-pruned
    * form.
    */
  private def fullSignatureOracle(inputCells: DataFrame, lakeCells: DataFrame): Set[Int] = {
    val in = DuplicateDetection.rowSignatures(inputCells).select(
      col("rowid").as("in_row"), col("sig").as("in_sig"), col("sk_hi"), col("sk_lo"))
    val nInput = in.select(countDistinct(col("in_row")).as("n_input"))
    val lake = DuplicateDetection.rowSignatures(lakeCells)
    val sizes = lake.groupBy("tableid").agg(count(lit(1)).as("n_ext"))
    lake.join(in, Seq("sk_hi", "sk_lo"))
      .where(col("sig") === col("in_sig"))
      .groupBy("tableid")
      .agg(countDistinct(col("in_row")).as("in_cov"), countDistinct(col("rowid")).as("ext_cov"))
      .join(sizes, "tableid")
      .crossJoin(nInput)
      .where(col("in_cov") >= col("n_input") || col("ext_cov") >= col("n_ext"))
      .select("tableid").collect().map(_.getInt(0)).toSet
  }

  test("key-pruned duplicateTablesForInput equals the full-signature formulation") {
    val s = spark
    import s.implicits._
    def table(id: Int, rows: (String, String, String)*) = LakeTable(id, s"t$id",
      rows.zipWithIndex.map { case ((x, y, z), i) => (i.toLong, x, y, z) }.toDF("k", "x", "y", "z"),
      col("k"), Seq("x", "y", "z"))
    // input rows 1 and 2 repeat one tuple; row 0 shares its super key,
    // not its multiset, with the lake's ("a", "b", "b") rows
    val input = LakeIndexer.cells(Seq(table(0,
      ("a", "a", "b"), ("c", "d", "e"), ("c", "d", "e"), ("f", "g", "h"))))
    val lake = LakeIndexer.cells(Seq(
      // every input tuple but ("a", "a", "b"): qualifies only if the
      // super key alone, or distinct tuples instead of rows, were counted
      table(1, ("a", "b", "b"), ("c", "d", "e"), ("f", "g", "h")),
      // covers the input, not its own extent
      table(2, ("a", "a", "b"), ("c", "d", "e"), ("f", "g", "h"), ("z", "z", "z")),
      // covers its own extent, not the input
      table(3, ("c", "d", "e"), ("c", "d", "e")),
      table(4, ("q", "r", "s")),
      table(5, ("f", "g", "h"), ("a", "b", "b"))))
    val keyOf = (c: DataFrame, t: Int, r: Long) => c.where(col("tableid") === t &&
      col("rowid") === r).select("sk_hi", "sk_lo").distinct().collect().toSeq
    assert(keyOf(input, 0, 0L) == keyOf(lake, 1, 0L), "a a b and a b b must share a super key")
    val expected = fullSignatureOracle(input, lake)
    assert(expected == Set(2, 3))
    val got = DuplicateDetection.duplicateTablesForInput(input, lake).collect().map(_.getInt(0)).toSet
    assert(got == expected)
  }

  test("cells, cellsMerged and cellsStream emit exactly one colid-0 cell per row") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "x", null: String), (1L, "", "y"), (2L, null, null)).toDF("k", "a", "b")
    val indexes = Seq(
      ("cells", 6, LakeIndexer.cells(Seq(LakeTable(1, "t1", df, col("k")),
        LakeTable(2, "t2", df, col("k"), Seq("a", "b"))))),
      ("cellsMerged", 3, LakeIndexer.cellsMerged(Seq(MergedGroup(
        df.select(lit(3).as("tableid"), col("k").as("__rid"), col("a"), col("b")), Seq("a", "b"), Seq(3))))),
      ("cellsStream", 3, LakeIndexer.cellsStream(df, 4, col("k"), Seq("a", "b"))))
    for ((name, rows, cells) <- indexes) {
      assert(cells.select("tableid", "rowid").distinct().count() == rows, name)
      val perRow = cells.where(col("colid") === 0).groupBy("tableid", "rowid").count()
        .collect().map(_.getLong(2))
      assert(perRow.length == rows && perRow.forall(_ == 1L), name)
    }
  }
}
