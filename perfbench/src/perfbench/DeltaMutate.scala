package perfbench

import graft.sources.{DeltaReader, LakeWriter}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The Delta half of `delta_curate`: a Delta table staged from generated
  * `orders` takes a seeded stream of appends, `mergeInto` upserts,
  * `deleteWhereDv` deletes, copy-on-write `updateWhere`, `overwriteWhere`,
  * and periodic `compactDelta` / `checkpointDelta`, interleaved with
  * snapshot reads: latest, key-range predicate (stats skipping) and time
  * travel.
  * Every batch a mutation consumes is staged as parquet first; at the
  * end a model is replayed from plain Spark reads of those staged files
  * and every read, and the final table, must equal it.
  */
final class DeltaMutate(s: SparkSession, work: Path, seed: Long, scale: Double) {
  val table: Path = work.resolve("delta")
  val staged: Path = work.resolve("staged")
  val dir: String = table.toString
  val schema = StructType(Seq(StructField("o_orderkey", IntegerType), StructField("o_custkey", IntegerType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType), StructField("o_rev", IntegerType)))
  var g: Gen = _
  /** Keys are multiples of four: the next key an append adds, and the
    * largest one added so far. Merges draw keys up to `maxKey` only, so an
    * append never adds a key the table already holds.
    */
  var nextKey = 0
  var maxKey = 0

  /** The mutation log the model is replayed from: (kind, staged batch, key range). */
  private val log = mutable.ArrayBuffer.empty[(String, Option[String], (Int, Int), Long)]
  /** Reads to check: (request, version read, key range or none, digest). */
  private val reads = mutable.ArrayBuffer.empty[(Int, Long, Option[(Int, Int)], String)]
  private val commitKinds = Set("append", "merge", "delete_dv", "update", "overwrite", "optimize", "checkpoint")
  private val readKinds = Set("read_latest", "read_predicate", "read_timetravel")
  private val seen = mutable.ArrayBuffer.empty[Long]
  /** Exact bytes of the final table's live values, from the model. */
  private var liveBytes = 0L

  private def stage(name: String, rows: Seq[Array[Any]]): String = {
    val p = staged.resolve(name).toString
    s.createDataFrame(s.sparkContext.parallelize(rows.map(r => Row.fromSeq(r.toSeq)), 1), schema)
      .write.mode("overwrite").parquet(p)
    p
  }

  private def order(k: Int, r: scala.util.Random, rev: Int): Array[Any] =
    Array[Any](k, 1 + r.nextInt(1500), Seq("f", "o", "p")(r.nextInt(3)), g.money(1000, 400000),
      g.priorities(r.nextInt(5)), rev)

  def latestVersion(): Long = {
    val all = Files.list(table.resolve("_delta_log"))
    try all.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).max
    finally all.close()
  }

  def setup(): Unit = {
    Seq(table, staged).foreach(Gen.deleteTree)
    Files.createDirectories(staged)
    g = new Gen(seed, scale)
    log.clear(); reads.clear(); seen.clear()
    val rows = g.orders.rows.map(o => Array[Any](o(0), o(1), o(2), o(3), o(4), 0))
    val p = stage("initial", rows)
    LakeWriter.writeDelta(s.read.parquet(p).repartitionByRange(8, col("o_orderkey")), dir)
    log += (("append", Some(p), (0, 0), 0L))
    seen += 0L
    maxKey = rows.map(_(0).asInstanceOf[Int]).max
    nextKey = maxKey + 4
  }

  /** One whole cycle, to compile the code paths: with one op of each kind
    * only, the timed cycle still ran ~15% slower and spread wider.
    */
  def warmup(): Unit = cycle.indices.foreach(i => op(i, -1 - i).run()())

  /** Nine of the sixteen ops are reads. Reads and the three light commits
    * (append, checkpoint, optimize) take about the same time, the other
    * four commits several times as long, so the median op of a cycle lies
    * well inside the cluster of light ops rather than at its edge.
    * Predicate reads follow an append and an overwrite: each adds a file
    * with a narrow key range that stats skipping can leave out (merge,
    * update and optimize rewrite files across the whole key range).
    */
  private val cycle = Seq("append", "read_predicate", "read_latest", "merge", "read_timetravel",
    "delete_dv", "read_latest", "update", "read_timetravel", "checkpoint", "overwrite",
    "read_predicate", "read_latest", "optimize", "read_timetravel", "read_latest")

  private def range(r: scala.util.Random, frac: Double): (Int, Int) = {
    val width = math.max(8, (maxKey * frac).toInt)
    val a = 4 * r.nextInt(math.max(1, (maxKey - width) / 4))
    (a, a + width)
  }

  private def pred(ab: (Int, Int)) = s"o_orderkey >= ${ab._1} AND o_orderkey < ${ab._2}"

  /** After a commit: record the version and, traced, the commit's operationMetrics. */
  private def committed(kind: String, batch: Option[String], ab: (Int, Int), userBytes: Long): Unit = {
    val v = latestVersion()
    log += ((kind, batch, ab, v))
    seen += v
    if (Trace.on && kind != "checkpoint") {
      val m = DeltaReader.history(s, dir).where(col("version") === v)
        .select("operationMetrics").collect().headOption.map(_.getMap[String, String](0))
        .getOrElse(Map.empty[String, String])
      Trace.sample("sources.delta_files_rewritten", m.getOrElse("numRemovedFiles", "0").toDouble)
      Trace.sample("sources.delta_bytes_written", m.getOrElse("numAddedBytes", "0").toDouble)
      Trace.sample("sources.delta_user_bytes", userBytes.toDouble)
    }
  }

  def cycleLength: Int = cycle.size

  def op(i: Int, req: Int): Op = {
    val r = new scala.util.Random(seed * 1000003L + req)
    val kind = cycle(i % cycle.size)
    val n = math.max(8, (200 * scale).toInt)
    kind match {
      case "append" =>
        val rows = (0 until n).map { _ => val k = nextKey; nextKey += 4; order(k, r, 0) }
        maxKey = nextKey - 4
        val p = stage(s"op$i", rows)
        val ub = Tab("b", Nil, rows).userBytes
        Op(kind, () => {
          Trace.span("sources.delta_append")(LakeWriter.appendDelta(s.read.parquet(p), dir))
          () => committed(kind, Some(p), (0, 0), ub)
        })
      case "merge" =>
        val keys = (0 until n).map(_ => 4 + 4 * r.nextInt(maxKey / 4)).distinct
        val rows = keys.map(k => order(k, r, 7))
        val p = stage(s"op$i", rows)
        val ub = Tab("b", Nil, rows).userBytes
        Op(kind, () => {
          Trace.span("sources.delta_merge")(LakeWriter.mergeInto(s, dir, s.read.parquet(p), Seq("o_orderkey")))
          () => committed(kind, Some(p), (0, 0), ub)
        })
      case "delete_dv" =>
        val ab = range(r, 0.01)
        Op(kind, () => {
          Trace.span("sources.delta_delete_dv")(LakeWriter.deleteWhereDv(s, dir, pred(ab)))
          () => committed(kind, None, ab, 0L)
        })
      case "update" =>
        val ab = range(r, 0.02)
        Op(kind, () => {
          Trace.span("sources.delta_update")(LakeWriter.updateWhere(s, dir, pred(ab),
            Map("o_rev" -> "o_rev + 1", "o_orderstatus" -> "'u'")))
          () => committed(kind, None, ab, 0L)
        })
      case "overwrite" =>
        val ab = range(r, 0.02)
        val rows = (ab._1 until ab._2 by 4).filter(k => k > 0 && r.nextInt(3) > 0).map(k => order(k, r, 20))
        val p = stage(s"op$i", rows)
        val ub = Tab("b", Nil, rows).userBytes
        Op(kind, () => {
          Trace.span("sources.delta_overwrite")(LakeWriter.overwriteWhere(s.read.parquet(p), dir, pred(ab)))
          () => committed(kind, Some(p), ab, ub)
        })
      case "optimize" =>
        Op(kind, () => {
          Trace.span("sources.delta_optimize")(LakeWriter.compactDelta(s, dir))
          () => committed(kind, None, (0, 0), 0L)
        })
      case "checkpoint" =>
        val v = latestVersion()
        Op(kind, () => {
          Trace.span("sources.delta_checkpoint")(LakeWriter.checkpointDelta(s, dir, v))
          () => committed(kind, None, (0, 0), 0L)
        })
      case _ =>
        // time travel goes a fixed distance back, so its cost does not vary with the seed
        val v = if (kind == "read_timetravel") seen(math.max(0, seen.size - 3)) else latestVersion()
        val ab = if (kind == "read_predicate") Some(range(r, 0.1)) else None
        Op(kind, () => {
          val df = Trace.span("sources.delta_snapshot")(ab match {
            case Some(x) => DeltaReader.readWhere(s, dir, pred(x))
            case None if kind == "read_timetravel" => DeltaReader.read(s, dir, Some(v))
            case None => DeltaReader.read(s, dir)
          })
          val d = Trace.span("sources.delta_scan")(Check.digest(df))
          if (Trace.on && ab.isDefined) {
            val total = DeltaReader.detail(s, dir).select("numFiles").collect()(0).getLong(0)
            val read = Trace.spans.reverseIterator.find(_.name == "sources.delta_scan").get
              .counters.getOrElse("scan.data_files", 0.0)
            Trace.sample("sources.delta_files_total", total.toDouble)
            Trace.sample("sources.delta_files_skipped", total - read)
          }
          () => reads += ((req, v, ab, d))
        })
    }
  }

  /** Replays the mutation log over plain Spark reads of the staged
    * batches: model state by version.
    */
  private def model(): Map[Long, Map[Int, Row]] = {
    var cur = Map.empty[Int, Row]
    val byVersion = mutable.LinkedHashMap.empty[Long, Map[Int, Row]]
    def rows(p: Option[String]) = s.read.parquet(p.get).collect().toSeq
    log.foreach { case (kind, batch, (a, b), v) =>
      def inRange(k: Int) = k >= a && k < b
      cur = kind match {
        case "append" | "merge" => cur ++ rows(batch).map(x => x.getInt(0) -> x)
        case "delete_dv" => cur.filter { case (k, _) => !inRange(k) }
        case "update" => cur.map { case (k, x) =>
          if (!inRange(k)) k -> x
          else k -> Row(x.get(0), x.get(1), "u", x.get(3), x.get(4), x.getInt(5) + 1) }
        case "overwrite" => cur.filter { case (k, _) => !inRange(k) } ++ rows(batch).map(x => x.getInt(0) -> x)
        case _ => cur
      }
      byVersion(v) = cur
    }
    byVersion.toMap
  }

  private def modelDigest(m: Map[Int, Row], ab: Option[(Int, Int)]): String = {
    val rows = ab.fold(m.values.toSeq) { case (a, b) => m.collect { case (k, x) if k >= a && k < b => x }.toSeq }
    Check.digest(s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema))
  }

  def finish(ops: Seq[Main.Done]): Unit = {
    val m = model()
    val memo = mutable.HashMap.empty[(Long, Option[(Int, Int)]), String]
    reads.foreach { case (req, v, ab, d) =>
      val want = memo.getOrElseUpdate((v, ab), modelDigest(m(v), ab))
      Check(req, "delta-read-equals-model", d == want, s"version $v range $ab: $d vs $want")
    }
    val last = ops.lastOption.map(_.req).getOrElse(0)
    val v = latestVersion()
    Check(last, "final-delta-table-equals-model",
      Check.digest(DeltaReader.read(s, dir)) == modelDigest(m(v), None), s"version $v")
    liveBytes = m(v).values.map(x => x.toSeq.map(Gen.valueBytes).sum).sum
  }

  def sizes: Seq[(String, Double)] = Seq("delta_initial_rows" -> g.orders.rows.size.toDouble,
    "delta_rows_per_batch" -> math.max(8, (200 * scale).toInt).toDouble,
    "delta_bytes" -> Gen.dirBytes(table).toDouble)

  def metrics(ops: Seq[Main.Done]): Seq[(String, Double, String)] = Seq(
    ("delta_commit_p50_s", Main.median(ops.filter(o => commitKinds(o.kind)).map(_.seconds)), "s"),
    ("delta_read_p50_s", Main.median(ops.filter(o => readKinds(o.kind)).map(_.seconds)), "s"),
    ("stored_bytes_per_user_byte", Gen.dirBytes(table).toDouble / liveBytes, "ratio"))
}
