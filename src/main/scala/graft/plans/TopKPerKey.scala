package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Top-k rows per key as a first-class operator.
  *
  * The DataFrame idiom — `row_number() OVER (PARTITION BY k ORDER BY o)
  * <= n` — sorts every partition fully before discarding all but k
  * rows; at corpus scale that sort is the cost. This operator keeps a
  * bounded k-heap per key instead, in TWO phases like a partial
  * aggregate: a map-side pass selects each input partition's top-k per
  * key (no sort, O(rows·log k)), then one shuffle of those ≤ k·keys
  * survivors per partition (Catalyst inserts it via the final exec's
  * `requiredChildDistribution`) feeds the final heap pass. The shuffle
  * moves k·keys-bounded data however large the input — a
  * low-cardinality key never funnels the dataset onto keys-many
  * reducer tasks.
  *
  * Memory bound: the per-partition heap map holds keys·k rows with NO spill
  * path — correct sizing is keys/partition · k rows in executor memory
  * (our ANN uses: ~query-side cardinality · k, far below partition size).
  * For key cardinalities where keys·k approaches partition row count the
  * window+sort idiom (which spills) is the right plan; use this operator
  * when k·keys ≪ rows, which is exactly when the full sort is wasteful.
  *
  * Wired the idiomatic way: logical node → Strategy → physical exec,
  * activated per session via `TopKPerKey.install(spark)`
  * (spark.experimental.extraStrategies) or cluster-wide through
  * `graft.GraftExtensions`.
  */
case class TopKPerKeyNode(k: Int, partitionExprs: Seq[Expression],
                          order: Seq[SortOrder], child: LogicalPlan,
                          rank: Option[Attribute] = None) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ rank
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

private[plans] object TopKHeaps {
  /** One partition's bounded top-k-per-key heap pass. Shared by the
    * partial (map-side) and final execs — identical selection logic, so
    * partial∘final is provably the same multiset as one global pass:
    * any row in the global top-k of its key is in its input partition's
    * top-k (fewer competitors), so the partial never drops a winner.
    */
  def perPartition(it: Iterator[InternalRow], kLocal: Int,
                   partLocal: Seq[Expression], orderLocal: Seq[SortOrder],
                   childOutput: Seq[Attribute], maxEntries: Long):
      java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(partLocal, childOutput)
    // "best first" comparator; the heap keeps the WORST kept row on top
    val better = RowOrdering.create(orderLocal, childOutput)
    val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    val worstFirst = new java.util.Comparator[InternalRow] {
      def compare(a: InternalRow, b: InternalRow): Int = better.compare(b, a)
    }
    it.foreach { row =>
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](kLocal + 1, worstFirst)
        heaps.put(key.copy(), heap)
        if (heaps.size.toLong * kLocal > maxEntries)
          throw new IllegalStateException(
            s"TopKPerKey: ${heaps.size} keys x k=$kLocal exceeds " +
              s"spark.graft.topk.maxHeapEntries=$maxEntries in one partition — " +
              "the bounded-heap operator holds keys*k rows with no spill path. " +
              "For this key cardinality use the window plan " +
              "(spark.graft.topkRewrite.enabled=false) or raise the budget " +
              "with executor memory to match")
      }
      if (heap.size < kLocal) heap.add(row.copy())
      else if (better.compare(row, heap.peek()) < 0) {
        heap.poll()
        heap.add(row.copy())
      }
    }
    heaps
  }

  def maxEntriesConf: Long = org.apache.spark.sql.internal.SQLConf.get
    .getConfString("spark.graft.topk.maxHeapEntries", "16000000").toLong

  /** Map-side best-effort pass: per-key heaps with an ADAPTIVE bail-out.
    * Correctness never depends on what this pass keeps — any superset
    * of each key's in-partition top-k is a valid output (a dropped row
    * lost to ≥ k better rows of its key, so it cannot be in the global
    * top-k) — so when the filter is observed NOT to pay for itself
    * (keys·k approaching rows seen: the many-distinct-keys regime,
    * where per-row interpreted heap work would double for nothing) or
    * the heap map hits the memory budget, the pass emits what it holds
    * and streams the remainder through untouched instead of throwing.
    */
  def partialIterator(it: Iterator[InternalRow], kLocal: Int,
                      partLocal: Seq[Expression], orderLocal: Seq[SortOrder],
                      childOutput: Seq[Attribute], maxEntries: Long):
      Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(partLocal, childOutput)
    val better = RowOrdering.create(orderLocal, childOutput)
    val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    val worstFirst = new java.util.Comparator[InternalRow] {
      def compare(a: InternalRow, b: InternalRow): Int = better.compare(b, a)
    }
    var seen = 0L
    var kept = 0L
    // `kept` counts below-capacity adds, i.e. the CURRENT held-row
    // total — so the pay-for-itself test must be WINDOWED: cumulative
    // kept/seen is inevitably ~1 while the heaps are still filling
    // (first ~keys·k rows), which says nothing about the regime. The
    // recent keep RATE does: once heaps saturate it collapses for a
    // selective key set but stays high exactly when keys·k tracks the
    // rows (the many-distinct-keys regime where the pass is useless).
    var keptAtCheck = 0L
    var bail = false
    while (it.hasNext && !bail) {
      val row = it.next()
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](kLocal + 1, worstFirst)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < kLocal) { heap.add(row.copy()); kept += 1 }
      else if (better.compare(row, heap.peek()) < 0) {
        heap.poll()
        heap.add(row.copy())
      }
      seen += 1
      if ((seen & 4095L) == 0L) {
        bail = (seen >= 8192L && (kept - keptAtCheck) * 2 > 4096L) ||
          heaps.size.toLong * kLocal > maxEntries
        keptAtCheck = kept
      }
    }
    val held = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    heaps.values().forEach(h => h.forEach(r => held += r))
    if (bail) held.iterator ++ it else held.iterator
  }
}

/** Map-side phase: top-k per key WITHIN each input partition, no
  * distribution requirement. Bounds what the exchange above moves to
  * k·keys rows per input partition — without it the final exec's
  * ClusteredDistribution would shuffle EVERY input row onto keys-many
  * reducers (for a low-cardinality key that is the whole dataset onto
  * a handful of straggler tasks, strictly worse than the window plan
  * Spark builds with WindowGroupLimit). Adaptive: when keys·k is
  * observed to approach the rows seen — the many-distinct-keys regime
  * where this pass would keep nearly everything and just double the
  * per-row work — it degrades to pass-through (see
  * [[TopKHeaps.partialIterator]]); the final exec is exact either way.
  */
case class TopKPerKeyPartialExec(k: Int, partitionExprs: Seq[Expression],
                                 order: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val orderLocal = order
    val partLocal = partitionExprs
    val childOutput = child.output
    val maxEntries = TopKHeaps.maxEntriesConf
    child.execute().mapPartitions({ it =>
      TopKHeaps.partialIterator(
        it, kLocal, partLocal, orderLocal, childOutput, maxEntries)
    }, preservesPartitioning = true)
  }
}

case class TopKPerKeyExec(k: Int, partitionExprs: Seq[Expression],
                          order: Seq[SortOrder], child: SparkPlan,
                          rank: Option[Attribute] = None) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ rank

  // ask Catalyst for co-located keys; EnsureRequirements adds the shuffle
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionExprs) :: Nil

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val orderLocal = order
    val partLocal = partitionExprs
    val childOutput = child.output
    val emitRank = rank.isDefined
    val outAttrs = output
    // The heap map has NO spill path: its bound is keys-per-partition·k,
    // and the KEYS dimension is unbounded by any plan-time check. Turn
    // the would-be executor OOM into an actionable failure at a
    // configurable entry budget — the error names the fix (window plan
    // spills; disable the rewrite or raise the budget with memory to
    // match).
    val maxEntries = TopKHeaps.maxEntriesConf
    child.execute().mapPartitions({ it =>
      val better = RowOrdering.create(orderLocal, childOutput)
      val heaps = TopKHeaps.perPartition(
        it, kLocal, partLocal, orderLocal, childOutput, maxEntries)
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      if (!emitRank) heaps.values().forEach(h => h.forEach(r => out += r))
      else {
        // rank demanded: order the <= k survivors of each key (a sort
        // of k rows, not of the partition) and append the 1-based
        // position — exactly the row_number() the window would emit.
        // Emitted as UnsafeRow (identity projection over the joined
        // row): parents — including a direct collect — require it.
        val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        heaps.values().forEach { h =>
          val arr = h.toArray(new Array[InternalRow](h.size))
          java.util.Arrays.sort(arr, better)
          var i = 0
          while (i < arr.length) {
            rankRow.update(0, i + 1)
            out += toUnsafe(joined(arr(i), rankRow)).copy()
            i += 1
          }
        }
      }
      out.iterator
    }, preservesPartitioning = true)
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, parts, order, child, rank) =>
      // partial (map-side, no distribution) under final (clustered):
      // EnsureRequirements puts the exchange BETWEEN them, so it moves
      // at most k·keys rows per input partition instead of everything
      TopKPerKeyExec(k, parts, order,
        TopKPerKeyPartialExec(k, parts, order, planLater(child)), rank) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Register the strategy in a live session. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy

  /** Top-k rows per key, ordered best-first by `orderBy` columns
    * ((name, descending) pairs; tie-breakers allowed). Columns are
    * resolved directly against the child's analyzed output — the
    * operator plugs in below the analyzer. Output order is unspecified,
    * like any aggregate.
    */
  def perKey(df: DataFrame, partitionCols: Seq[String],
             orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val plan = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(s"column $name not in ${plan.output.map(_.name)}"))
    val parts = partitionCols.map(attr)
    val order = orderBy.map { case (name, desc) =>
      SortOrder(attr(name),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    GraftColumnBridge.ofRows(spark, TopKPerKeyNode(k, parts, order, plan))
  }
}
