package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** `delta_curate`: the training-data side of graft in one stream — one
  * cycle of the [[DeltaMutate]] op stream (Delta mutations, maintenance
  * and snapshot reads) with a [[Curate]] batch (unicode clean →
  * Gopher rules → exact dedup → MinHash LSH → clusters) placed inside it.
  * Together with `discover` it loads every layer while keeping the
  * benchmark to two workloads, each run paying the JVM's warm-up once.
  */
final class DeltaCurate(s: SparkSession, work: Path, seed: Long, scale: Double) extends Workload {
  val delta = new DeltaMutate(s, work.resolve("delta"), seed, scale)
  val curate = new Curate(s, seed, scale)
  /** Cycle positions that curate a batch; the others step the Delta stream. */
  private val curateAt = Seq(8)
  val cycleLength: Int = delta.cycleLength + curateAt.size
  def atBoundary(done: Int): Boolean = done > 0 && done % cycleLength == 0

  def setup(): Unit = delta.setup()
  def warmup(): Unit = { delta.warmup(); curate.warmup() }

  def op(i: Int, req: Int): Op = {
    val (c, pos) = (i / cycleLength, i % cycleLength)
    val before = curateAt.count(_ < pos)
    if (curateAt.contains(pos)) curate.op(c * curateAt.size + before, req)
    else delta.op(c * delta.cycleLength + pos - before, req)
  }

  override def finish(ops: Seq[Main.Done]): Unit = delta.finish(ops)
  override def sizes: Seq[(String, Double)] = delta.sizes ++ curate.sizes
  def metrics(ops: Seq[Main.Done]): Seq[(String, Double, String)] =
    delta.metrics(ops) ++ curate.metrics(ops)
}
