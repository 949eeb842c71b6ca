package perfbench

import graft.cocoa.Cocoa
import graft.dup.DuplicateDetection
import graft.functions.XashKernel
import graft.index.{LakeIndexer, LakeTable}
import graft.ml.FeatureEval
import graft.sources.LakeReader
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `discover`: set-up writes a lake of tables cut from the generated
  * TPC-H tables (row slices, a denormalized join, planted duplicate
  * copies; csv, tsv, json and parquet). The first timed op builds its
  * index: `readFolderMerged` → `cellsMerged` (XASH + Bloom) →
  * `writeIndex`. Then come cycles of MATE, pipeline (MATE → COCOA
  * correlations → enrich → FeatureEval), duplicate-table and MATE
  * requests, each with seeded parameters and a fresh `readIndex`.
  */
final class Discover(s: SparkSession, work: Path, seed: Long, scale: Double) extends Workload {
  val K = 10
  val lakeDir: Path = work.resolve("lake")
  val idx: Path = work.resolve("index")
  val hashes: Seq[(String, Column => Column)] =
    Seq("sk" -> XashKernel.superKeyCol, "bf" -> XashKernel.bloomRowHashCol)
  var g: Gen = _
  /** Lake tables by table id. */
  val lake = mutable.LinkedHashMap.empty[Int, Tab]
  var lakeCells = 0L
  /** Requests whose answers are re-derived from the in-memory index at the end. */
  private val replay = mutable.ArrayBuffer.empty[(Int, DataFrame => String, String)]

  def setup(): Unit = {
    Seq(lakeDir, idx).foreach(Gen.deleteTree)
    Files.createDirectories(lakeDir)
    g = new Gen(seed, scale)
    val files = Discover.lakeTables(g).zipWithIndex.map { case (t, i) =>
      val f = f"t$i%03d_${t.name}.${Discover.formatOf(t.colNames)}"
      Gen.writeFile(s, t, lakeDir.resolve(f))
      f -> t
    }.toMap
    lake.clear()
    // readFolderMerged numbers the readable files from 1 in name order
    files.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((_, t), i) => lake(i + 1) = t }
    lakeCells = lake.values.map(t => t.rows.size.toLong * t.cols.size).sum
    replay.clear()
  }

  /** An index build and one request of each kind on small inputs, to
    * compile their code paths.
    */
  def warmup(): Unit = {
    build().run()()
    Seq("mate:0", "pipeline", "dup").zipWithIndex.foreach { case (k, i) =>
      request(k, -1 - i, small = true).run()() }
  }

  def atBoundary(done: Int): Boolean = done > 1 && (done - 1) % Discover.cycle.size == 0

  def op(i: Int, req: Int): Op =
    if (i == 0) build() else request(Discover.cycle((i - 1) % Discover.cycle.size), req, small = false)

  private def build(): Op = Op("build", () => {
    Gen.deleteTree(idx)
    val cells = ingest()
    Trace.span("index.write")(LakeIndexer.writeIndex(cells, idx.toString))
    sampleIndex()
    () => ()
  })

  private def tablesWith(cols: Seq[String]) =
    lake.toIndexedSeq.filter { case (_, t) => cols.forall(t.colNames.contains) }

  /** Ingest the lake and build its cells; traced, the ingest scan and the
    * clean and XASH kernels are forced and timed on their own.
    */
  private def ingest(): DataFrame = {
    val (groups, _, errors) = Trace.span("sources.ingest") {
      val r = LakeReader.readFolderMerged(s, lakeDir.toString)
      if (Trace.on) {
        r._1.foreach(gr => Trace.force(gr.df))
        Trace.sample("sources.ingest_files", Gen.dirFiles(lakeDir, "").toDouble)
        Trace.sample("sources.file_errors", r._3.toDouble)
      }
      r
    }
    require(errors == 0, s"$errors unreadable files in the lake")
    if (Trace.on) {
      val cleaned = groups.map(gr => gr.df.select(array(gr.cols.map(c =>
        Calls.cleanTok(col(c))): _*).as("toks")))
      Trace.span("functions.clean")(cleaned.foreach(Trace.force))
      Trace.span("functions.xash")(cleaned.foreach(c =>
        Trace.force(c.select(XashKernel.superKeyCol(col("toks"))))))
    }
    Trace.span("index.cells")(Trace.force(LakeIndexer.cellsMerged(groups, hashes)))
  }

  private def sampleIndex(): Unit = if (Trace.on) {
    Trace.sample("index.bytes", Gen.dirBytes(idx).toDouble)
    Trace.sample("index.files", Gen.dirFiles(idx, ".parquet").toDouble)
  }

  /** MATE request cut from table `t`: top-k and join maps. */
  private def mateOp(req: Int, t: (Int, Tab), qcols: Seq[String], len: Int, from: Int): Op = {
    val cut = t._2.slice(from, from + len)
    val n = Calls.distinctTuples(cut, qcols)
    val toks = Calls.firstTokens(cut, qcols.head)
    def run(cells: DataFrame) = {
      val (top, maps) = Calls.mate(s, Calls.requestFrame(s, cut), qcols, cells, K)
      (top, Check.digest(maps))
    }
    Op("mate", () => {
      val (top, maps) = run(Calls.readIndex(s, idx, toks))
      () => {
        Calls.checkMate(req, top, t._1, n, K)
        replay += ((req, c => { val (t2, m2) = run(c); Calls.topDigest(t2) + "|" + m2 },
          Calls.topDigest(top) + "|" + maps))
      }
    })
  }

  private def request(kind: String, req: Int, small: Boolean): Op = {
    val r = new scala.util.Random(seed * 1000003L + req)
    def sized(n: Int, lo: Int, spread: Int) = math.min(n, if (small) 10 else lo + r.nextInt(spread))
    kind.split(':') match {
      case Array("mate", q) =>
        val qcols = Discover.mateQueries(q.toInt)
        val c = tablesWith(qcols)
        val (tid, t) = c(r.nextInt(c.size))
        val len = sized(t.rows.size, 55, 10)
        mateOp(req, (tid, t), qcols, len, r.nextInt(t.rows.size - len + 1))

      case Array("dup") =>
        val (tid, t) = lake.toIndexedSeq(r.nextInt(lake.size))
        val len = sized(t.rows.size, math.max(1, t.rows.size / 3), math.max(1, t.rows.size / 2))
        val from = r.nextInt(t.rows.size - len + 1)
        val cut = t.slice(from, from + len)
        val copies = lake.filter(_._2.rows == t.rows).keySet.toSet
        Op("dup", () => {
          val cells = Calls.readIndex(s, idx, Nil)
          val ids = Trace.span("dup.lookup") {
            val in = LakeIndexer.cells(Seq(LakeTable(0, "input", Calls.requestFrame(s, cut),
              col(Calls.QueryId), cut.colNames)))
            DuplicateDetection.duplicateTablesForInput(in, cells).collect().map(_.getInt(0)).sorted
          }
          Trace.sample("dup.candidate_tables", ids.length)
          () => Check(req, "dup-finds-source-and-copies", copies.subsetOf(ids.toSet),
            s"source $tid copies ${copies.mkString(",")} got ${ids.mkString(",")}")
        })

      case Array("pipeline") =>
        val len = sized(g.customer.rows.size, 165, 10)
        val from = r.nextInt(g.customer.rows.size - len + 1)
        val cust = g.customer.slice(from, from + len)
        val full = lake.filter(_._2.rows == g.customer.rows).keys.min
        val n = Calls.distinctTuples(cust, Seq("c_custkey"))
        Op("pipeline", () => {
          val cells = Calls.readIndex(s, idx, Calls.firstTokens(cust, "c_custkey"))
          val (top, fe) = Discover.pipeline(s, cust, cells)
          () => {
            Calls.checkMate(req, top, full, n, 5)
            Check(req, "pipeline-feature-eval", fe.length == 2 &&
              fe.forall(x => !x.getDouble(1).isNaN), fe.mkString(","))
          }
        })
    }
  }

  /** Persisted-index answers must equal the answer over the same cells
    * kept in memory (never written) on a seeded one of the run's MATE
    * requests. (The per-table `LakeIndexer.cells` path costs tens of
    * seconds of cold compilation per run, more than the run budget has.)
    */
  override def finish(ops: Seq[Main.Done]): Unit = {
    val pick = new scala.util.Random(seed).shuffle(replay.toSeq).take(1)
    if (pick.nonEmpty) {
      val (groups, _, _) = LakeReader.readFolderMerged(s, lakeDir.toString)
      val mem = LakeIndexer.cellsMerged(groups, hashes).cache()
      pick.foreach { case (req, rerun, digest) =>
        val again = rerun(mem)
        Check(req, "persisted-index-equals-in-memory", again == digest, s"$digest vs $again")
      }
      mem.unpersist()
    }
  }

  override def sizes: Seq[(String, Double)] = Seq("lake_tables" -> lake.size.toDouble,
    "lake_cells" -> lakeCells.toDouble, "index_bytes" -> Gen.dirBytes(idx).toDouble)

  def metrics(ops: Seq[Main.Done]): Seq[(String, Double, String)] = {
    def p50(k: String) = Main.median(ops.filter(_.kind == k).map(_.seconds))
    Seq("mate", "dup", "pipeline").map(k => (s"${k}_p50_s", p50(k), "s")) ++ Seq(
      ("index_build_cells_per_s", lakeCells / ops.filter(_.kind == "build").map(_.seconds).sum, "cells/s"),
      ("stored_bytes_per_user_byte",
        Gen.dirBytes(idx).toDouble / lake.values.map(_.userBytes).sum, "ratio"))
  }
}

object Discover {
  /** The timed cycle after the build, the same for every seed so each run
    * measures the same mix; the seed only draws each request's source
    * table, slice and inputs. `mate:i` runs [[mateQueries]]`(i)`. MATE
    * requests are the majority, so a run's median op is a MATE request.
    */
  val cycle = Seq("mate:0", "pipeline", "mate:1", "dup", "mate:2", "mate:1")

  /** MATE query columns: first tokens of high frequency (nation key) and
    * rare ones (custkey), one to three columns. Extra columns are string
    * columns, so no row matches a query token in two columns.
    */
  val mateQueries = Seq(
    Seq("c_nationkey"), Seq("c_custkey", "c_name"), Seq("c_nationkey", "c_mktsegment", "c_name"))

  /** The discover lake: 16 tables in four header groups, one per file
    * format (`readFolderMerged` plans one branch per group).
    */
  def lakeTables(g: Gen): Seq[Tab] = {
    val r = g.rnd
    def slice(t: Tab, minFrac: Double): Tab = {
      val n = t.rows.size
      val len = math.max(8, (n * (minFrac + r.nextDouble() * (1 - minFrac) / 2)).toInt).min(n)
      val from = r.nextInt(n - len + 1)
      t.slice(from, from + len)
    }
    val out = mutable.ArrayBuffer[Tab](g.nation, g.customer, g.customer, g.orders, g.custNation)
    (0 until 4).foreach(_ => out += slice(g.customer, 0.1))
    (0 until 2).foreach(_ => out += slice(g.custNation, 0.2))
    (0 until 3).foreach(_ => out += slice(g.orders, 0.05))
    (0 until 2).foreach(_ => out += slice(g.nation, 0.3))
    out.toSeq
  }

  /** One file format per header, so tables sharing a header share a group
    * and all four formats occur.
    */
  def formatOf(cols: Seq[String]): String = cols.head match {
    case "n_nationkey" => "csv"
    case "o_orderkey"  => "tsv"
    case "c_custkey" if cols.contains("n_name") => "json"
    case _             => "parquet"
  }

  /** The paper's pipeline: MATE → COCOA correlations → enrich → FeatureEval. */
  def pipeline(s: SparkSession, cust: Tab, cells: DataFrame): (Array[Row], Array[Row]) = {
    val input = Calls.requestFrame(s, cust)
    val (top, maps) = Calls.mate(s, input, Seq("c_custkey"), cells, 5)
    val pairs = maps.select(col("tableid"), col("rowid").as("ext_row"), col("input_row"))
    val excluded = s.createDataFrame(s.sparkContext.parallelize(top.toSeq, 1), top.head.schema)
      .select(col("tableid"), explode(split(col("columns"), "_")).as("c"))
      .select(col("tableid"), col("c").cast("int").as("colid")).distinct()
    val base = input.select(col(Calls.QueryId).cast("long").as("input_row"),
      col("c_acctbal").as("target"), col("c_nationkey"))
    val ranked = Trace.span("cocoa.ranks")(Trace.force(Cocoa.targetRanks(base.select("input_row", "target"))))
    val corr = Trace.span("cocoa.correlations") {
      val c = Cocoa.correlations(ranked, pairs, cells, excluded).where(col("is_numeric"))
      if (Trace.on) Trace.sample("cocoa.columns_scored", c.collect().length)
      c
    }
    // the enriched training set is materialized once, as a pipeline would
    // before fitting; FeatureEval reads it several times
    val enriched = Trace.span("cocoa.enrich")(
      Cocoa.enrichJoin(base, corr, pairs, cells.join(excluded, Seq("tableid", "colid"), "left_anti"))
        .withColumn("ext", col("ext_value").cast("double")).localCheckpoint(true))
    val fe = Trace.span("ml.feature_eval")(
      FeatureEval.permutationImportance(enriched, Seq("ext", "c_nationkey"), "target").collect())
    (top, fe)
  }
}
