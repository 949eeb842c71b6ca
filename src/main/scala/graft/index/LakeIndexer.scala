package graft.index

import graft.functions.TextFunctions
import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One table of the data lake.
  *
  * @param rowId expression yielding a stable dense 0-based row id. Using
  *              an existing dense key avoids the global sort/zipWithIndex
  *              a synthetic row id would need at 100 TB.
  */
case class LakeTable(tableId: Int, name: String, df: DataFrame, rowId: Column,
                     dataCols: Seq[String] = Nil) {
  /** Columns to index (all by default; readFolder excludes its synthetic row id). */
  def cols: Seq[String] = if (dataCols.nonEmpty) dataCols else df.columns.toSeq
}

/** Builds the four MaCO index relations as DataFrames
  * (reference: maco/data_handler.py — Postgres tables `main`,
  * `column_headers`, `table_info`; here parquet-friendly DataFrames).
  *
  * The whole build is one declarative transform per table, unioned:
  * clean → per-row super key → melt (posexplode) → cell rows. No
  * driver-side iteration over rows (the reference loops a Python cursor
  * per table; at 100 TB this must be a single distributed job).
  */
object LakeIndexer {
  val MaxTokenLength = 200 // maco/data_handler.py:32

  /** Cleaned cell token for column `c`: null → '' (deviation from the
    * reference's pandas `str(NaN)`→'nan'; documented SURVEY.md §3).
    */
  private def cleanCol(c: Column): Column =
    substring(TextFunctions.cleanedText(coalesce(c.cast("string"), lit(""))), 1, MaxTokenLength)

  /** Inverted cell index: (tokenized, tableid, colid, rowid,
    * table_col_id, sk_hi, sk_lo). Super key = `rowHash` folded over the
    * row's tokens (default XASH OR, maco/data_handler.py:281; Bloom via
    * `BloomHash.rowHashCol` mirrors the reference's pluggable
    * `hash_function`, maco/data_handler.py:89), carried as two longs.
    */
  def cells(tables: Seq[LakeTable],
            rowHash: Column => Column = graft.functions.XashKernel.superKeyCol): DataFrame =
    cellsMulti(tables, Seq("sk" -> rowHash))

  /** Cell index carrying SEVERAL row-hash families in one melt pass
    * (e.g. XASH and Bloom): the clean+explode work is shared, each
    * family adds two long columns `<name>_hi`/`<name>_lo`. One pass over
    * the lake however many hash variants are maintained.
    */
  def cellsMulti(tables: Seq[LakeTable],
                 hashes: Seq[(String, Column => Column)]): DataFrame =
    balancedUnion(tables.map(cellsOf(_, hashes)))

  /** Union a per-table plan list in grouped levels instead of one
    * linear `reduce` fold: a left-deep chain makes the analyzer walk a
    * tree as deep as the LAKE IS WIDE on every action — at 10^4-10^5
    * tables that turns first-build planning into the bottleneck
    * (driver time, not executor time) and risks analyzer stack depth.
    * Grouped folds keep every node ≤64 children and the tree
    * O(log_64 n) deep; the executed plan (one scan per table feeding a
    * single Union) is unchanged.
    */
  private[graft] def balancedUnion(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "balancedUnion of an empty plan list")
    var level = dfs
    while (level.size > 1)
      level = level.grouped(64).map(_.reduce(_ unionByName _)).toSeq
    level.head
  }

  private def cellsOf(tb: LakeTable, hashes: Seq[(String, Column => Column)]): DataFrame = {
    val cleaned = tb.cols.map(c => cleanCol(col(c))).toArray
    val hashCols = hashes.flatMap { case (name, fn) =>
      Seq(col(s"__$name")(0).as(s"${name}_hi"), col(s"__$name")(1).as(s"${name}_lo"))
    }
    tb.df
      .select(tb.rowId.cast("long").as("rowid"), array(cleaned: _*).as("toks"))
      .select(col("rowid") +: col("toks") +:
        hashes.map { case (name, fn) => fn(col("toks")).as(s"__$name") }: _*)
      .select(col("rowid") +: posexplode(col("toks")).as(Seq("colid", "tokenized")) +: hashCols: _*)
      .select(
        col("tokenized") +:
        lit(tb.tableId).as("tableid") +:
        col("colid") +:
        col("rowid") +:
        concat_ws("_", lit(tb.tableId), col("colid")).as("table_col_id") +:
        hashes.flatMap { case (name, _) => Seq(col(s"${name}_hi"), col(s"${name}_lo")) }: _*)
  }

  /** Cell index over a MERGED folder ingest
    * ([[graft.sources.LakeReader.readFolderMerged]]): the same clean →
    * super-key → melt pipeline as [[cellsMulti]], but `tableid` /
    * `table_col_id` come from a COLUMN instead of a per-table literal,
    * so one homogeneous group of any number of tables is one plan
    * branch and ONE generated-code unit. This is the index build that
    * scales to a 10^5-table lake: the per-table form compiles a
    * distinct codegen unit per table (inlined tableid literal) and
    * walks a union as wide as the lake on every action.
    */
  def cellsMerged(groups: Seq[graft.sources.LakeReader.MergedGroup],
                  hashes: Seq[(String, Column => Column)] =
                    Seq("sk" -> graft.functions.XashKernel.superKeyCol)): DataFrame =
    balancedUnion(groups.map { g =>
      val cleaned = g.cols.map(c => cleanCol(col(c))).toArray
      val hashCols = hashes.flatMap { case (name, _) =>
        Seq(col(s"__$name")(0).as(s"${name}_hi"), col(s"__$name")(1).as(s"${name}_lo"))
      }
      g.df
        .select(col("tableid"), col("__rid").cast("long").as("rowid"),
          array(cleaned: _*).as("toks"))
        .select(col("tableid") +: col("rowid") +: col("toks") +:
          hashes.map { case (name, fn) => fn(col("toks")).as(s"__$name") }: _*)
        .select(col("tableid") +: col("rowid") +:
          posexplode(col("toks")).as(Seq("colid", "tokenized")) +: hashCols: _*)
        .select(
          col("tokenized") +:
          col("tableid") +:
          col("colid") +:
          col("rowid") +:
          concat_ws("_", col("tableid"), col("colid")).as("table_col_id") +:
          hashes.flatMap { case (name, _) => Seq(col(s"${name}_hi"), col(s"${name}_lo")) }: _*)
    })

  /** `table_info` for a merged ingest: row counts from one grouped
    * aggregation per homogeneous group, names from the catalog.
    *
    * The CATALOG is the driving side: a zero-row table (header-only
    * csv) produces no group in the count aggregate, and an inner join
    * would silently drop it — the per-table [[tableInfo]] emits a
    * count=0 row, and both ingest paths must agree. The counts side is
    * bounded by the table count (one row per table), so broadcasting
    * it keeps the join exchange-free.
    */
  def tableInfoMerged(s: SparkSession,
                      groups: Seq[graft.sources.LakeReader.MergedGroup],
                      catalog: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    val widthById = groups.flatMap(g => g.tableIds.map(_ -> (g.cols.length - 1))).toMap
    val cat = catalog.map { case (id, name) => (id, name,
      widthById.getOrElse(id, sys.error(
        s"tableInfoMerged: catalog table $id ('$name') belongs to no group — " +
          "was a MergedGroup built without its tableIds membership list?"))) }
      .toDF("tableid", "dataset_name", "max_col_id")
    val counts = balancedUnion(groups.map { g =>
      g.df.groupBy(col("tableid")).agg(count(lit(1)).as("__cnt"))
    })
    cat.join(broadcast(counts), Seq("tableid"), "left")
      .select(col("tableid"), col("dataset_name"),
        coalesce(col("__cnt"), lit(0L)).as("max_row_id"), col("max_col_id"))
  }

  /** Cell index at any reference XASH width (64/128/256/512,
    * maco/util.py:173 segment_size_dict): the super key is carried as
    * hashSize/64 little-endian words in ONE array<long> column `sk`.
    * The 128-bit (hi, lo) fast path ([[cells]]) stays the default; this
    * is the reference-parity form for the other widths, consumed by
    * `Mate.joinSearchAt`.
    */
  def cellsWords(tables: Seq[LakeTable], hashSize: Int): DataFrame =
    balancedUnion(tables.map { tb =>
      val cleaned = tb.cols.map(c => cleanCol(col(c))).toArray
      tb.df
        .select(tb.rowId.cast("long").as("rowid"), array(cleaned: _*).as("toks"))
        .select(col("rowid"), col("toks"),
          graft.functions.XashKernel.superKeyWordsCol(col("toks"), hashSize).as("sk"))
        .select(col("rowid"), posexplode(col("toks")).as(Seq("colid", "tokenized")), col("sk"))
        .select(
          col("tokenized"),
          lit(tb.tableId).as("tableid"),
          col("colid"),
          col("rowid"),
          concat_ws("_", lit(tb.tableId), col("colid")).as("table_col_id"),
          col("sk"))
    })

  /** Posting lists for a token set (reference
    * get_concatinated_posting_list, maco/data_handler.py:802): one row
    * per matching cell, `pl = "{tableid}_{rowid};{colid}_{tokenized}"`.
    * The literal IN list pushes into the parquet scan (row-group
    * pruning on the sorted persisted layout); for a LARGE token set
    * join `cells` against a token frame instead — an IN literal of
    * millions of tokens belongs in a semi-join.
    */
  def postingList(cells: DataFrame, tokens: Seq[String]): DataFrame =
    cells.where(col("tokenized").isin(tokens: _*))
      .select(concat_ws("", col("tableid").cast("string"), lit("_"),
        col("rowid").cast("string"), lit(";"), col("colid").cast("string"),
        lit("_"), col("tokenized")).as("pl"))

  /** [[postingList]] + the row super key (reference
    * get_concatinated_posting_list_with_hash, maco/data_handler.py:825).
    */
  def postingListWithHash(cells: DataFrame, tokens: Seq[String]): DataFrame =
    cells.where(col("tokenized").isin(tokens: _*))
      .select(concat_ws("", col("tableid").cast("string"), lit("_"),
        col("rowid").cast("string"), lit(";"), col("colid").cast("string"),
        lit("_"), col("tokenized")).as("pl"),
        col("sk_hi"), col("sk_lo"))

  /** (tableid, colid, header, header_tokenized) — maco/data_handler.py:262. */
  def columnHeaders(spark: SparkSession, tables: Seq[LakeTable]): DataFrame = {
    import spark.implicits._
    tables.flatMap { tb =>
      tb.cols.zipWithIndex.map { case (h, i) =>
        (tb.tableId, i, h, TextFunctions.cleanedTextLocal(h))
      }
    }.toDF("tableid", "colid", "header", "header_tokenized")
  }

  /** Streaming index maintenance: the same melt+hash transform applied
    * to a STREAMING frame of new rows (stateless: no watermark needed).
    * Sink it into the persisted index with
    * `graft.streaming.DeltaStream.writeDelta(cellsStream(...), path,
    * checkpoint, appId)`: each micro-batch lands as one append commit
    * carrying a `txn` identifier, so a replayed batch lands once, and
    * [[readIndex]] sees every committed batch.
    */
  def cellsStream(newRows: DataFrame, tableId: Int, rowId: Column,
                  dataCols: Seq[String]): DataFrame =
    cellsOf(LakeTable(tableId, s"t$tableId", newRows, rowId, dataCols),
      Seq("sk" -> graft.functions.XashKernel.superKeyCol))

  /** The index layout: hash-partitioned by token and sorted within
    * partitions, so MATE's token-match join reads co-located files whose
    * min/max stats cover sorted token ranges. At lake scale this layout
    * IS the inverted index.
    */
  private def laidOut(cells: DataFrame, numPartitions: Int): DataFrame =
    cells.repartition(numPartitions, col("tokenized")).sortWithinPartitions("tokenized")

  /** Persist the cell index as a Delta table in [[laidOut]]'s layout,
    * committed by graft's own engine: version 0 in a fresh directory,
    * else a new version replacing every row (readers of older versions
    * keep them, and so does the disk until [[LakeWriter.vacuumDelta]]
    * runs). The table allows deletion vectors, which [[removeTable]]
    * writes. Every column is declared nullable (a CASE with no ELSE),
    * as [[readIndex]] reads it back, so [[compactIndex]] can commit a
    * rebuild read from the index itself.
    */
  def writeIndex(cells: DataFrame, path: String, numPartitions: Int = 32): Unit = {
    val laid = laidOut(cells, numPartitions)
    LakeWriter.writeOrOverwriteDelta(
      laid.select(laid.columns.map(c => when(col(c).isNotNull, col(c)).as(c)).toIndexedSeq: _*),
      path, configuration = Map("delta.enableDeletionVectors" -> "true"))
  }

  /** The persisted index at `path`: the memoized scan of its current
    * snapshot ([[DeltaReader.read]]), removed tables' rows filtered by
    * their deletion vectors. A repeat read of an unchanged index reads
    * no footer and submits no Spark job.
    */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    DeltaReader.read(spark, path)

  /** Append new tables' cells to a persisted index as one commit,
    * WITHOUT rewriting it (the reference's update_index adds tables to
    * the live Postgres index, maco/data_handler.py:205-258). The new
    * files carry [[writeIndex]]'s layout and token-range prunability. A
    * reader sees all of the append or none of it, and a
    * [[removeTable]]d id may be added again at once.
    */
  def addTables(newCells: DataFrame, path: String, numPartitions: Int = 32): Unit =
    LakeWriter.appendDelta(laidOut(newCells, numPartitions), path)

  /** Delete one table from the persisted index: a deletion vector on
    * each file holding its cells, no data file rewritten. The space
    * comes back in two steps: [[compactIndex]] writes a version
    * without the removed rows, then [[LakeWriter.vacuumDelta]] deletes
    * the files and sidecars no retained version references.
    */
  def removeTable(spark: SparkSession, path: String, tableId: Int): Unit =
    LakeWriter.deleteWhereDv(spark, path, s"tableid = $tableId")

  /** The offline maintenance job: rewrite the live index through
    * [[writeIndex]] as one new version, folding every append and
    * deletion vector back into [[laidOut]]'s `numPartitions` files.
    * Readers of the pre-compaction version keep reading it; its files
    * stay on disk until [[LakeWriter.vacuumDelta]].
    */
  def compactIndex(spark: SparkSession, path: String, numPartitions: Int = 32): Unit =
    writeIndex(readIndex(spark, path), path, numPartitions)

  /** Rebuild a table's cleaned content from the cell index
    * (maco/data_handler.py:656 get_table): pivot tokens by colid.
    * Output: (rowid, c0..c{nCols-1}).
    */
  def reconstructTable(cells: DataFrame, tableId: Int, nCols: Int): DataFrame =
    cells.where(col("tableid") === tableId)
      .groupBy("rowid")
      .pivot("colid", (0 until nCols).map(i => i: Integer))
      .agg(first(col("tokenized")))
      .toDF(("rowid" +: (0 until nCols).map(i => s"c$i")): _*)

  /** (tableid, dataset_name, max_row_id, max_col_id) —
    * maco/data_handler.py:357 (max_row_id = row count, max_col_id =
    * last column index).
    */
  def tableInfo(tables: Seq[LakeTable]): DataFrame =
    balancedUnion(tables.map { tb =>
      tb.df.agg(
        lit(tb.tableId).as("tableid"),
        lit(tb.name).as("dataset_name"),
        count(lit(1)).as("max_row_id"),
        lit(tb.cols.length - 1).as("max_col_id"))
    })
}
