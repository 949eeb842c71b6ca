package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One timed operation: its kind and the timed work, which returns the
  * untimed output check to run once the clock has stopped.
  */
final case class Op(kind: String, run: () => (() => Unit))

/** A workload: set-up (repeatable, the last repetition is used),
  * warm-up, its op stream, the checks that need the whole run, and its
  * workload-specific end-to-end metrics.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  /** The workload's `i`-th op; `req` is the run's request id for checks. */
  def op(i: Int, req: Int): Op
  /** Whether `done` ops end a cycle of the timed sequence; a run ends on one. */
  def atBoundary(done: Int): Boolean
  def finish(ops: Seq[Main.Done]): Unit = ()
  def metrics(ops: Seq[Main.Done]): Seq[(String, Double, String)]
  /** Input sizes, printed so the documented sizes are measured ones. */
  def sizes: Seq[(String, Double)] = Nil
}

/** Output checks: a failed check is recorded against the request that
  * ran it and printed by name; it counts in `failed`.
  */
object Check {
  /** Whether the checks now running belong to a traced run's traced pass,
    * which repeats the untraced pass's request ids.
    */
  var tracedPass = false
  /** Failed check names by (traced pass, request). */
  val failures = mutable.LinkedHashMap.empty[(Boolean, Int), mutable.ArrayBuffer[String]]
  def apply(req: Int, name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failures.getOrElseUpdate((tracedPass, req), mutable.ArrayBuffer.empty) += name
      System.out.println(s"check FAILED $name (request $req${if (tracedPass) ", traced" else ""}) $detail")
    }

  /** Order-independent digest of a frame: count plus sum of xxhash64 over
    * every column — forces every column, collects one row.
    */
  def digest(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0))).collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

object Main {
  final case class Done(req: Int, kind: String, seconds: Double, threw: Option[String], traced: Boolean)

  val Workloads = Seq("discover", "delta_curate")
  val SetupReps = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count); NaN with fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 11) (Double.NaN, Double.NaN, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val scale = a.getOrElse("scale", "1").toDouble
    val work = Paths.get(a("work")).toAbsolutePath
    val results = Paths.get(a("results")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(results)

    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.tuneLocal(SparkSession.builder())
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0

    val w: Workload = workload match {
      case "discover"       => new Discover(spark, work, seed, scale)
      case "delta_curate"   => new DeltaCurate(spark, work, seed, scale)
    }
    // set-up is repeated and its median reported, so set-up time reads
    // steadily. Warm-up runs on the first repetition's inputs (it may
    // write to them); the last repetition's fresh inputs are measured.
    def timed(body: => Unit) = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val first = timed(w.setup())
    val warmS = timed(w.warmup())
    val reps = first +: (2 to SetupReps).map(_ => timed(w.setup()))
    val setupS = sessionS + median(reps) + warmS

    val done = mutable.ArrayBuffer.empty[Done]
    def runOp(i: Int, req: Int, tracing: Boolean): Unit = {
      val op = w.op(i, req)
      Trace.req = req
      val t0 = System.nanoTime()
      val res = try Right(Trace.span("op." + op.kind)(op.run())) catch {
        case e: Throwable => Left(e)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      res match {
        case Right(check) =>
          try check() catch { case e: Throwable => Check(req, "check-threw", ok = false, e.toString) }
          done += Done(req, op.kind, secs, None, tracing)
        case Left(e) =>
          System.out.println(s"op FAILED ${op.kind} (request $req): $e")
          done += Done(req, op.kind, secs, Some(e.toString), tracing)
      }
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    // whole cycles only, so every run measures the same mix of op kinds
    while (System.nanoTime() < deadline || !w.atBoundary(n)) { runOp(n, n + 1, tracing = false); n += 1 }
    w.finish(done.toSeq)
    if (traced) {
      // the same ops again, traced, on fresh inputs from the same seed: the
      // difference to the untraced pass is the tracing overhead
      Check.tracedPass = true
      w.setup()
      Trace.install(spark)
      Trace.enable(true)
      (0 until n).foreach(i => runOp(i, i + 1, tracing = true))
      Trace.enable(false)
      w.finish(done.filter(_.traced).toSeq)
    }

    // end-to-end figures come from the untraced ops
    val untraced = done.filterNot(_.traced).toSeq
    val lat = untraced.map(_.seconds)
    val failed = done.count(d => d.threw.isDefined || Check.failures.contains((d.traced, d.req))) +
      Check.failures.keys.count { case (t, r) => !done.exists(d => d.traced == t && d.req == r) }
    val attempted = done.size
    val (tailV, tailP, tailN) = tail(lat)
    // op_tail_s is printed but not in the result line: a run of ops that
    // take seconds rarely has the 11 samples it needs
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    def line(n: String, v: Double, u: String, extra: String = "") =
      System.out.println(f"metric $n%-36s $v%.6f $u%s$extra")

    System.out.println(s"workload $workload seed $seed scale $scale seconds $seconds " +
      s"trace ${if (traced) 1 else 0} nproc $nproc")
    System.out.println(f"setup session_s=$sessionS%.3f reps_s=${reps.map(r => f"$r%.3f").mkString(",")} " +
      f"warmup_s=$warmS%.3f")
    e2e.foreach { case (n, v, u) => line(n, v, u) }
    if (tailV.isNaN) System.out.println(f"metric ${"op_tail_s"}%-36s unavailable: $tailN ops, " +
      "fewer than the 11 a percentile with ten samples beyond it needs")
    else line("op_tail_s", tailV, "s", f" (p$tailP%.1f of $tailN ops)")
    line("failed_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio",
      s" ($failed of $attempted)")
    w.metrics(untraced).foreach { case (n, v, u) => line(n, v, u) }
    (w.sizes :+ ("driver_heap_bytes" -> Runtime.getRuntime.maxMemory.toDouble)).foreach {
      case (n, v) => System.out.println(f"size $n%-34s $v%.0f") }
    untraced.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ds) =>
      System.out.println(f"ops $k%-16s n=${ds.size}%4d p50_s=${median(ds.map(_.seconds).toSeq)}%.4f")
    }
    Check.failures.foreach { case ((t, r), names) =>
      System.out.println(s"failed request $r${if (t) " (traced)" else ""}: ${names.distinct.mkString(", ")}") }

    val metricsJson = if (!traced) e2e.map { case (n, v, u) => n -> (v, u) } else {
      val layer = Layers.metrics()
      val pt = median(done.filter(_.traced).map(_.seconds).toSeq)
      System.out.println(f"tracing_overhead_s ${pt - median(lat)}%.6f (traced op_p50_s $pt%.6f minus " +
        f"untraced ${median(lat)}%.6f over the same $n ops, traced second, in this JVM)")
      val spansFile = results.resolve(s"spans-$workload-$seed.jsonl")
      Trace.write(spansFile)
      System.out.println(s"spans written to ${Paths.get("").toAbsolutePath.relativize(spansFile)}")
      layer
    }
    val ok = failed == 0 && metricsJson.forall { case (_, (v, _)) => !v.isNaN }
    metricsJson.filter(_._2._1.isNaN).foreach { case (n, _) =>
      System.out.println(s"metric $n could not be computed (too few samples)") }
    val body = metricsJson.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    System.out.println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
  }
}
