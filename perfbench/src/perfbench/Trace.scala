package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span: a benchmark call into one graft layer. `parent` is the
  * enclosing span (0 at top level), `req` the request it served.
  * Times are `System.nanoTime`; `wallStart`/`wallEnd` are epoch millis so
  * spans can be intersected with the listener's job times.
  */
final class Span(val id: Int, val name: String, val parent: Int, val req: Int,
                 val start: Long, val wallStart: Long) {
  var end = 0L
  var wallEnd = 0L
  /** Listener totals of the jobs this span ran itself (its job group). */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** The traced run's instrumentation, all of it outside the program: spans
  * around the benchmark's calls, a `SparkListener` tying jobs, stages and
  * tasks to spans by job group, and a `QueryExecutionListener` that reads
  * planning phases, scan metrics and runtime bloom filters off each
  * executed plan. Inactive (every call is a pass-through) unless `on`.
  */
object Trace extends AdaptiveSparkPlanHelper {
  @volatile var on = false
  var req = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  private val GroupPrefix = "pb-"
  private val lock = new Object
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val groupCounters = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private val groupJobs = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]

  private def gAdd(g: String, k: String, v: Double): Unit = if (g != null) {
    val m = groupCounters.getOrElseUpdate(g, mutable.HashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  def install(s: SparkSession): Unit = {
    sc = s.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) stageGroup(e.stageInfo.stageId) = g
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobStart(e.jobId) = (g, e.time)
        gAdd(g, "engine.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobStart.remove(e.jobId).foreach { case (g, t0) =>
          if (g != null) groupJobs.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t0, e.time))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val g = stageGroup.getOrElse(e.stageId, null)
        val m = e.taskMetrics
        gAdd(g, "engine.tasks", 1)
        if (m != null) {
          gAdd(g, "engine.executor_run_s", m.executorRunTime / 1000.0)
          gAdd(g, "engine.shuffle_bytes",
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          gAdd(g, "engine.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          gAdd(g, "input_bytes", m.inputMetrics.bytesRead)
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (on) lock.synchronized { plans += qe }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Turns tracing on or off between ops, once the listener bus has
    * delivered every event of the ops before, so none is counted on the
    * wrong side.
    */
  def enable(b: Boolean): Unit = {
    if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)
    lock.synchronized(plans.clear())
    on = b
  }

  /** Runs `body` inside a span named `name` (traced run only). */
  def span[T](name: String)(body: => T): T = if (!on) body else {
    stack.headOption.foreach { p =>
      org.apache.spark.PerfbenchBus.drain(sc)
      lock.synchronized(takePlans(p))
    }
    val sp = new Span(spans.length + 1, name, stack.headOption.map(_.id).getOrElse(0), req,
      System.nanoTime(), System.currentTimeMillis())
    spans += sp
    stack = sp :: stack
    sc.setJobGroup(GroupPrefix + sp.id, name)
    try body finally {
      sp.end = System.nanoTime()
      sp.wallEnd = System.currentTimeMillis()
      org.apache.spark.PerfbenchBus.drain(sc)
      settle(sp)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Moves the listener's totals for `sp`'s job group, and every plan
    * executed since the last settled span, onto `sp`.
    */
  private def settle(sp: Span): Unit = lock.synchronized {
    val g = GroupPrefix + sp.id
    groupCounters.remove(g).foreach(_.foreach { case (k, v) => sp.add(k, v) })
    groupJobs.remove(g).foreach(sp.jobs ++= _)
    takePlans(sp)
  }

  private def takePlans(sp: Span): Unit = {
    plans.foreach { qe =>
      val ph = qe.tracker.phases
      sp.add("plans.planning_s",
        Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum / 1000.0)
      val plan = qe.executedPlan
      sp.add("bloom_filters", bloomFilters(plan))
      prefilterRows(plan).foreach(n => sp.add("prefilter_rows", n.toDouble))
      // files read by scans of table data: parquet, outside any Delta log
      // (a deletion-vector read also scans its sidecar files, as binaryFile)
      collect(plan) { case f: FileSourceScanExec => f }.filter { f =>
        f.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
          !f.relation.location.rootPaths.exists(_.toString.contains("/_delta_log"))
      }.foreach(f => sp.add("scan.data_files", f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)))
    }
    plans.clear()
  }

  /** Runtime bloom-filter probes in an executed plan, subqueries included. */
  def bloomFilters(plan: SparkPlan): Double = collectWithSubqueries(plan) { case p: SparkPlan =>
    p.expressions.map(_.collect { case b: BloomFilterMightContain => b }.size).sum
  }.sum.toDouble

  /** Rows out of MATE's XASH prefilter in an executed plan: the join on
    * the first query token (`tokenized = tok_0`), when Catalyst moved the
    * prefilter into its condition, or else the filter right above that
    * join. None when the plan has no such join.
    */
  def prefilterRows(plan: SparkPlan): Option[Long] = {
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value)
    collect(plan) {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet ==
        Set("tokenized", "tok_0") => j
    }.headOption.flatMap { j =>
      if (j.condition.isDefined) rows(j)
      else collect(plan) { case f: FilterExec if f.child eq j => f }.headOption.flatMap(rows)
    }
  }

  /** One sample of a per-layer counter (traced run only). */
  def sample(name: String, v: Double): Unit =
    if (on) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Forces a lazy layer's output at its boundary — traced run only, so
    * the untraced run keeps Catalyst's cross-layer fusion.
    */
  def force(df: DataFrame): DataFrame = {
    if (on) df.write.format("noop").mode("overwrite").save()
    df
  }

  private def children(id: Int) = spans.filter(_.parent == id)

  /** Span time not covered by its child spans, in seconds. */
  def selfTime(sp: Span): Double = {
    val covered = union(children(sp.id).map(c => (c.start, c.end)).toSeq)
    (sp.end - sp.start - covered) / 1e9
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def subtree(sp: Span): Seq[Span] = sp +: children(sp.id).toSeq.flatMap(subtree)

  /** Listener totals of a top-level op span and everything under it, plus
    * its driver gap: wall time minus the union of its jobs' spans.
    */
  def opTotals(op: Span): Map[String, Double] = {
    val all = subtree(op)
    val keys = all.flatMap(_.counters.keys).distinct
    val sums = keys.map(k => k -> all.map(_.counters.getOrElse(k, 0.0)).sum).toMap
    val jobs = all.flatMap(_.jobs).map { case (s, e) =>
      (math.max(s, op.wallStart), math.min(e, op.wallEnd)) }.filter(x => x._2 > x._1)
    sums + ("engine.driver_gap_s" ->
      math.max(0.0, (op.wallEnd - op.wallStart - union(jobs)) / 1000.0))
  }

  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Spans as JSON lines: name, start, end, parent, request id, counters. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","start_s":${(s.start - t0) / 1e9},""" +
        s""""end_s":${(s.end - t0) / 1e9},"parent":${s.parent},"req":${s.req},""" +
        s""""self_s":${selfTime(s)},"counters":{$cs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
