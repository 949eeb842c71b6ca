package perfbench

/** The per-layer metrics of the traced run and how each is derived from
  * the spans and samples [[Trace]] recorded. A metric whose layer the
  * workload does not load reads 0 and is printed as unavailable with the
  * reason.
  */
object Layers {
  sealed trait How
  /** Median self time of the spans with this name. */
  final case class Self(span: String) extends How
  /** Median of a counter's samples. */
  final case class Med(sample: String) extends How
  /** Last sample of a gauge. */
  final case class Last(sample: String) extends How
  /** Sum of one counter's samples over the sum of another's. */
  final case class Ratio(num: String, den: String) extends How
  /** Median over timed ops of a listener total of the op's span tree. */
  final case class PerOp(key: String) extends How

  val all: Seq[(String, String, How)] = Seq(
    ("sources.ingest_s", "s", Self("sources.ingest")),
    ("sources.ingest_files", "count", Med("sources.ingest_files")),
    ("sources.file_errors", "count", Med("sources.file_errors")),
    ("functions.clean_s", "s", Self("functions.clean")),
    ("functions.xash_s", "s", Self("functions.xash")),
    ("index.cells_s", "s", Self("index.cells")),
    ("index.write_s", "s", Self("index.write")),
    ("index.append_s", "s", Self("index.append")),
    ("index.remove_s", "s", Self("index.remove")),
    ("index.compact_s", "s", Self("index.compact")),
    ("index.bytes", "B", Last("index.bytes")),
    ("index.files", "count", Last("index.files")),
    ("index.scan_s", "s", Self("index.scan")),
    ("index.scan_bytes_ratio", "ratio", Ratio("index.scan_bytes", "index.total_bytes")),
    ("index.scan_files_ratio", "ratio", Ratio("index.scan_files", "index.total_files")),
    ("mate.prepare_s", "s", Self("mate.prepare")),
    ("mate.candidates_s", "s", Self("mate.candidates")),
    ("mate.verify_s", "s", Self("mate.verify")),
    ("mate.topk_maps_s", "s", Self("mate.topk_maps")),
    ("mate.token_matches", "count", Med("mate.token_matches")),
    ("mate.prefilter_pass", "count", Med("mate.prefilter_pass")),
    ("mate.verified", "count", Med("mate.verified")),
    ("mate.prefilter_pass_ratio", "ratio", Ratio("mate.prefilter_pass", "mate.token_matches")),
    ("mate.verify_yield", "ratio", Ratio("mate.verified", "mate.prefilter_pass")),
    ("mate.runtime_bloom_filters", "count", Med("mate.runtime_bloom_filters")),
    ("cocoa.ranks_s", "s", Self("cocoa.ranks")),
    ("cocoa.pairs_s", "s", Self("cocoa.pairs")),
    ("cocoa.correlations_s", "s", Self("cocoa.correlations")),
    ("cocoa.enrich_s", "s", Self("cocoa.enrich")),
    ("cocoa.columns_scored", "count", Med("cocoa.columns_scored")),
    ("dup.lookup_s", "s", Self("dup.lookup")),
    ("dup.candidate_tables", "count", Med("dup.candidate_tables")),
    ("ml.feature_eval_s", "s", Self("ml.feature_eval")),
    ("sources.delta_append_s", "s", Self("sources.delta_append")),
    ("sources.delta_merge_s", "s", Self("sources.delta_merge")),
    ("sources.delta_update_s", "s", Self("sources.delta_update")),
    ("sources.delta_delete_dv_s", "s", Self("sources.delta_delete_dv")),
    ("sources.delta_overwrite_s", "s", Self("sources.delta_overwrite")),
    ("sources.delta_optimize_s", "s", Self("sources.delta_optimize")),
    ("sources.delta_checkpoint_s", "s", Self("sources.delta_checkpoint")),
    ("sources.delta_snapshot_s", "s", Self("sources.delta_snapshot")),
    ("sources.delta_scan_s", "s", Self("sources.delta_scan")),
    ("sources.delta_files_skipped_ratio", "ratio",
      Ratio("sources.delta_files_skipped", "sources.delta_files_total")),
    ("sources.delta_files_rewritten", "count", Med("sources.delta_files_rewritten")),
    ("sources.delta_bytes_written_per_user_byte", "ratio",
      Ratio("sources.delta_bytes_written", "sources.delta_user_bytes")),
    ("text.clean_s", "s", Self("text.clean")),
    ("text.quality_s", "s", Self("text.quality")),
    ("dedup.exact_s", "s", Self("dedup.exact")),
    ("dedup.minhash_s", "s", Self("dedup.minhash")),
    ("dedup.clusters_s", "s", Self("dedup.clusters")),
    ("dedup.lsh_pair_yield", "ratio", Ratio("dedup.verified_pairs", "dedup.candidate_pairs")),
    ("dedup.planted_recall", "ratio", Ratio("dedup.planted_found", "dedup.planted")),
    ("plans.planning_s", "s", PerOp("plans.planning_s")),
    ("engine.jobs", "count", PerOp("engine.jobs")),
    ("engine.tasks", "count", PerOp("engine.tasks")),
    ("engine.executor_run_s", "s", PerOp("engine.executor_run_s")),
    ("engine.driver_gap_s", "s", PerOp("engine.driver_gap_s")),
    ("engine.shuffle_bytes", "B", PerOp("engine.shuffle_bytes")),
    ("engine.spill_bytes", "B", PerOp("engine.spill_bytes")))

  private val cutFromMix = "no workload makes this call (the index_maintain workload and " +
    "standalone COCOA requests were cut to fit the run budget)"

  /** Metrics that cannot be measured, and why: printed as unavailable,
    * left out of the result line (and of BENCHMARK.json), where they could
    * only read 0.
    */
  private val unmeasured = Map(
    "index.append_s" -> cutFromMix,
    "index.remove_s" -> cutFromMix,
    "index.compact_s" -> cutFromMix,
    "cocoa.pairs_s" -> cutFromMix,
    "mate.candidates_s" -> ("Mate.matches runs the token join, the XASH prefilter and the " +
      "verification as one plan, and no public call returns the candidates alone, so their " +
      "time cannot be taken apart from mate.verify_s without copying the prefilter"))

  /** Computes every per-layer metric, printing each (and why one is
    * unavailable); returns those that go in the result line.
    */
  def metrics(): Seq[(String, (Double, String))] = {
    val opSpans = Trace.spans.filter(sp => sp.parent == 0 && sp.name.startsWith("op.")).toSeq
    lazy val totals = opSpans.map(Trace.opTotals)
    all.map { case (name, unit, how) =>
      val v: Option[Double] = how match {
        case Self(sp) =>
          val xs = Trace.spans.filter(_.name == sp).map(Trace.selfTime).toSeq
          if (xs.isEmpty) None else Some(Main.median(xs))
        case Med(k) => val xs = Trace.samplesOf(k); if (xs.isEmpty) None else Some(Main.median(xs))
        case Last(k) => Trace.samplesOf(k).lastOption
        case Ratio(n, d) =>
          val den = Trace.samplesOf(d).sum
          if (Trace.samplesOf(d).isEmpty || den == 0) None else Some(Trace.samplesOf(n).sum / den)
        case PerOp(k) => if (totals.isEmpty) None else Some(Main.median(totals.map(_.getOrElse(k, 0.0))))
      }
      v match {
        case Some(x) => System.out.println(f"layer $name%-44s $x%.6f $unit")
        case None if unmeasured.contains(name) =>
          System.out.println(f"layer $name%-44s unavailable: ${unmeasured(name)}")
        case None => System.out.println(f"layer $name%-44s unavailable: this workload does " +
          "not call the layer, so no span or counter was recorded")
      }
      name -> (v.getOrElse(0.0), unit)
    }.filterNot { case (name, _) => unmeasured.contains(name) }
  }
}
