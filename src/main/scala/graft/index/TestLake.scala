package graft.index

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The demo data lake over the driver testdata: five dimension tables,
  * each with a dense 0-based key reused as rowid. Used by the index /
  * MATE / COCOA / duplicate queries and their DuckDB oracles.
  */
object TestLake {
  /** (tableId, tableName, keyColumn, allColumns) — column order is the
    * parquet schema order; colid is the position in this list.
    */
  val spec: Seq[(Int, String, String, Seq[String])] = Seq(
    (1, "nation", "n_nationkey", Seq("n_nationkey", "n_name", "n_regionkey")),
    (2, "region", "r_regionkey", Seq("r_regionkey", "r_name")),
    (3, "supplier", "s_suppkey", Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),
    (4, "customer", "c_custkey", Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
    (5, "part", "p_partkey", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
  )

  def tables(s: SparkSession, dir: String): Seq[LakeTable] =
    spec.map { case (id, name, key, _) =>
      val raw = s.read.parquet(s"$dir/$name.parquet")
      val df = if (id >= 3 && scanSplits(s, raw) < 4) raw.repartition(8) else raw
      LakeTable(id, name, df, col(key))
    }

  /** Parallel scan splits of a parquet table: its row-group count, read
    * from the file footers on the driver. The driver testdata writes ONE
    * row group per file, so Spark scans each table as a single task and
    * the melt+hash of the largest table becomes the critical path;
    * [[tables]] spreads big tables before the (CPU-bound) index
    * transform when they have fewer than 4 splits. A table with many
    * row groups needs no such shuffle, whatever its file count. Footers
    * instead of `.rdd.getNumPartitions`: that probe forced a full
    * physical plan + RDD conversion per table, ~0.2 s of driver time
    * each on a cold session.
    */
  private[graft] def scanSplits(s: SparkSession, raw: DataFrame): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    graft.sources.ParquetFooter.rowGroups(conf, raw.inputFiles.toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p)
    })
  }

  /** Both hash families of the demo-lake cell index in ONE cached melt
    * pass (tokenize/clean/explode shared; XASH and Bloom each add two
    * long columns). [[cells]] / [[cellsBloom]] are projections of this.
    */
  private def cellsAll(s: SparkSession, dir: String): DataFrame =
    cellsAllCache.getOrElseUpdate((s, dir),
      LakeIndexer.cellsMulti(tables(s, dir), Seq(
        "sk" -> graft.functions.XashKernel.superKeyCol,
        "bk" -> graft.functions.XashKernel.bloomRowHashCol)).cache())

  private val cellsAllCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private val cellCols = Seq("tokenized", "tableid", "colid", "rowid", "table_col_id")

  /** Cell index, cached per (session, dir) — the real product persists
    * the index once and every discovery query reads it, so queries
    * within a session must not re-melt and re-hash the lake.
    */
  def cells(s: SparkSession, dir: String): DataFrame =
    cellsAll(s, dir).select(cellCols.map(col) :+ col("sk_hi") :+ col("sk_lo"): _*)

  /** Cell index with Bloom-filter row hashes instead of XASH
    * (reference's pluggable hash_function; used by `mate_bloom`).
    */
  def cellsBloom(s: SparkSession, dir: String): DataFrame =
    cellsAll(s, dir).select(
      cellCols.map(col) :+ col("bk_hi").as("sk_hi") :+ col("bk_lo").as("sk_lo"): _*)

  /** DuckDB SQL producing the same cell index (tokenized, tableid,
    * colid, rowid, table_col_id) — super keys are not SQL-expressible
    * and are checked separately.
    */
  def cellsSql: String = cellsSqlWithIds(spec.map(s => (s._1, s)))

  private def cellsSqlWithIds(entries: Seq[(Int, (Int, String, String, Seq[String]))]): String =
    entries.flatMap { case (id, (_, name, key, cols)) =>
      cols.zipWithIndex.map { case (c, i) =>
        val tok = s"substr(${TextFunctions.cleanedTextSql(s"coalesce(CAST($c AS VARCHAR), '')")}, 1, ${LakeIndexer.MaxTokenLength})"
        s"SELECT $tok AS tokenized, $id AS tableid, $i AS colid, CAST($key AS BIGINT) AS rowid, '${id}_$i' AS table_col_id FROM $name"
      }
    }.mkString("", " UNION ALL ", "")

  /** The demo lake as a FOLDER of single-file csvs — the fixture for
    * the merged wide-lake path (`readFolderMerged`+`cellsMerged`), the
    * ingestion design a 10^4-table lake actually uses. Each table is
    * ONE `<name>.csv` file with rows sorted by its dense 0-based key,
    * so the merged path's file-order `__rid` equals the key and the
    * same DuckDB oracle shape as [[cellsSql]] applies. Written once
    * per (session, dir); local-FS temp fixture by construction.
    */
  def corpusDir(s: SparkSession, dir: String): String =
    corpusCache.getOrElseUpdate((s, dir), {
      val out = java.nio.file.Files.createTempDirectory("graft_merged_corpus_")
      spec.foreach { case (_, name, key, _) =>
        val stage = out.resolve(s"_stage_$name")
        s.read.parquet(s"$dir/$name.parquet")
          .repartition(1).sortWithinPartitions(col(key))
          .write.option("header", "true").csv(stage.toString)
        val parts = stage.toFile.listFiles().filter(_.getName.endsWith(".csv"))
        require(parts.length == 1, s"expected one csv part for $name, got ${parts.length}")
        java.nio.file.Files.move(parts.head.toPath, out.resolve(s"$name.csv"))
        // scrub the staging dir (part markers, _SUCCESS) so the folder
        // walk sees exactly one file per table
        java.nio.file.Files.walk(stage).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      out.toString
    })

  private val corpusCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** Table ids the merged ingest assigns: file-listing (alphabetical
    * filename) order, 1-based — `customer.csv`=1 … `supplier.csv`=5.
    */
  def mergedSpec: Seq[(Int, (Int, String, String, Seq[String]))] =
    spec.sortBy(_._2).zipWithIndex.map { case (entry, i) => (i + 1, entry) }

  /** The merged ingest of [[corpusDir]] (groups + catalog), cached per
    * (session, dir) so its consumers share one folder probe.
    */
  def mergedIngest(s: SparkSession, dir: String):
      (Seq[graft.sources.LakeReader.MergedGroup], Seq[(Int, String)]) =
    mergedCache.getOrElseUpdate((s, dir), {
      val (groups, catalog, errors) =
        graft.sources.LakeReader.readFolderMerged(s, corpusDir(s, dir))
      require(errors == 0, s"merged demo corpus had $errors unreadable files")
      (groups, catalog)
    })

  /** Cell index built through the MERGED ingestion path over
    * [[corpusDir]] — one scan branch per homogeneous header group
    * instead of one per table. The data is small enough to re-scan
    * per action.
    */
  def cellsMergedDemo(s: SparkSession, dir: String): DataFrame =
    LakeIndexer.cellsMerged(mergedIngest(s, dir)._1)

  /** `table_info` through the merged path (catalog-driven left join —
    * the zero-row-table-safe form).
    */
  def tableInfoMergedDemo(s: SparkSession, dir: String): DataFrame = {
    val (groups, catalog) = mergedIngest(s, dir)
    LakeIndexer.tableInfoMerged(s, groups, catalog)
  }

  private val mergedCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
           (Seq[graft.sources.LakeReader.MergedGroup], Seq[(Int, String)])]

  /** DuckDB oracle for [[cellsMergedDemo]]: [[cellsSql]] with the
    * merged path's filename-order table ids.
    */
  def cellsMergedSql: String = cellsSqlWithIds(mergedSpec)
}
