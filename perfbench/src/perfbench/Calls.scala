package perfbench

import graft.functions.TextFunctions
import graft.index.LakeIndexer
import graft.mate.Mate
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's calls into graft's discovery layers, shared by the
  * workloads. In the traced run each layer call sits in its own span and
  * its lazy output is forced at the boundary; untraced, the same calls
  * run as one user would chain them.
  */
object Calls {
  val QueryId = "__qid"

  /** A request table: `t`'s rows plus a dense `__qid` row id. */
  def requestFrame(s: SparkSession, t: Tab): DataFrame =
    Tab(t.name, (QueryId -> org.apache.spark.sql.types.IntegerType) +: t.cols,
      t.rows.zipWithIndex.map { case (r, i) => (i: Any) +: r }).df(s)

  def cleanTok(c: org.apache.spark.sql.Column) =
    TextFunctions.cleanedText(coalesce(c.cast("string"), lit("")))

  /** Reads the persisted index; traced, also forces a token-filtered scan
    * and samples the share of the index's bytes and files it read.
    */
  def readIndex(s: SparkSession, idx: Path, tokens: Seq[String]): DataFrame = {
    val cells = Trace.span("index.scan") {
      val cells = LakeIndexer.readIndex(s, idx.toString)
      if (Trace.on) Trace.force(cells.where(col("tokenized").isin(tokens: _*)))
      cells
    }
    if (Trace.on) {
      val sp = Trace.spans.reverseIterator.find(_.name == "index.scan").get
      Trace.sample("index.scan_bytes", sp.counters.getOrElse("input_bytes", 0.0))
      Trace.sample("index.scan_files", sp.counters.getOrElse("scan.data_files", 0.0))
      Trace.sample("index.total_bytes", Gen.dirBytes(idx).toDouble)
      Trace.sample("index.total_files", Gen.dirFiles(idx, ".parquet").toDouble)
    }
    cells
  }

  /** First-column tokens of a MATE request, cleaned like the index. */
  def firstTokens(t: Tab, q0: String): Seq[String] =
    t.rows.map(r => TextFunctions.cleanedTextLocal(String.valueOf(r(t.idx(q0))))).distinct

  /** MATE `searchAndMaps`: top-k plus join maps. Returns the collected
    * top-k rows and the maps frame (materialized by searchAndMaps).
    */
  def mate(s: SparkSession, input: DataFrame, qcols: Seq[String], cells: DataFrame,
           k: Int): (Array[Row], DataFrame) = {
    val rid = col(QueryId)
    if (!Trace.on) {
      val (top, maps) = Mate.searchAndMaps(input, rid, qcols, cells, k)
      (top.collect(), maps)
    } else {
      val prep = Trace.span("mate.prepare")(Trace.force(Mate.prepare(input, rid, qcols)))
      // the prefilter's input, probed outside every layer span: index cells
      // sharing a request row's first token (the join key Mate.matches uses)
      val q0 = broadcast(prep.select(col("tok_0")))
      Trace.sample("mate.token_matches", cells.join(q0, cells("tokenized") === q0("tok_0"))
        .agg(count(lit(1))).collect()(0).getLong(0).toDouble)
      val matched = Trace.span("mate.verify") {
        val m = Mate.matches(input, rid, qcols, cells).localCheckpoint(true)
        Trace.sample("mate.verified", m.agg(count(lit(1))).collect()(0).getLong(0).toDouble)
        m
      }
      // from the plans Mate.matches ran (a multi-column search runs its
      // candidate join as a plan of its own): rows out of the XASH
      // prefilter, from their SQL metrics, and runtime bloom filters
      val verify = Trace.spans.reverseIterator.find(_.name == "mate.verify").get.counters
      verify.get("prefilter_rows") match {
        case Some(n) => Trace.sample("mate.prefilter_pass", n)
        case None => System.out.println(s"layer note: request ${Trace.req}: no plan of " +
          "Mate.matches had a join on the first token; mate.prefilter_pass left out")
      }
      Trace.sample("mate.runtime_bloom_filters", verify.getOrElse("bloom_filters", 0.0))
      Trace.span("mate.topk_maps") {
        val (top, maps) = Mate.searchAndMapsOf(matched, k)
        (top.collect(), maps)
      }
    }
  }

  /** Distinct raw query tuples MATE keeps (no '', 'nan' or 'unknown' token). */
  def distinctTuples(t: Tab, qcols: Seq[String]): Int =
    t.rows.map(r => qcols.map(c => String.valueOf(r(t.idx(c))))).distinct
      .count(_.forall { v =>
        val tok = TextFunctions.cleanedTextLocal(v).take(LakeIndexer.MaxTokenLength)
        !Set("", "nan", "unknown").contains(tok)
      })

  /** A MATE input cut from table `tableId` must return it in the top-k
    * with joinability at least its distinct rows — or the top-k must be
    * full of tables scoring at least that much.
    */
  def checkMate(req: Int, top: Array[Row], tableId: Int, nDistinct: Int, k: Int): Unit = {
    val own = top.find(_.getAs[Int]("tableid") == tableId)
    val ok = own match {
      case Some(r) => r.getAs[Long]("joinability") >= nDistinct
      case None    => top.length == k && top.last.getAs[Long]("joinability") >= nDistinct
    }
    Check(req, "mate-source-table-in-topk", ok,
      s"table $tableId, $nDistinct distinct tuples, top=${top.map(_.mkString("(", ",", ")")).mkString}")
  }

  def topDigest(top: Array[Row]): String = top.map(_.mkString(",")).mkString(";")
}
