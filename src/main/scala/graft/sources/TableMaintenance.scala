package graft.sources

import org.apache.spark.sql.SparkSession

/** The nightly housekeeping pass a Delta table operator schedules —
  * one call that applies the maintenance ops in their correct order
  * and REPORTS what it did instead of doing it silently:
  *
  *   1. OPTIMIZE when any partition holds ≥ `compactMinFiles` files
  *      (also the physical-cleanup path for accumulated DV debt) —
  *      SKIPPED with the reason compactDelta's gate would refuse with
  *      (`LakeWriter.rewriteRefusal`: a writer version or feature this
  *      writer cannot honor, or row tracking without the preserved
  *      profile), so the checkpoint and vacuum steps still run;
  *   2. CHECKPOINT when ≥ `checkpointEvery` commits accumulated since
  *      the newest checkpoint (bounds every future replay);
  *   3. VACUUM below a `retainVersions` horizon (time travel above the
  *      horizon intact; physical space reclaimed below).
  *
  * Every step delegates to the corresponding audited operation; this
  * wrapper adds ONLY the decision policy, so its unit of testing is
  * "did it decide correctly", not re-proving the ops. Idempotent: a
  * second immediate call reports all-skipped.
  */
object TableMaintenance {

  final case class Report(compacted: Boolean, compactSkipReason: Option[String],
                          checkpointed: Option[Long], vacuumed: Int) {
    override def toString: String =
      s"Report(compacted=$compacted${compactSkipReason.map(r => s" [skip: $r]").getOrElse("")}, " +
        s"checkpointed=$checkpointed, vacuumedFiles=$vacuumed)"
  }

  /** `vacuumLite = true` runs the O(retained-log) reclaim instead of
    * the filesystem listing — the nightly cadence for huge tables
    * (pair with a periodic FULL pass for failed-writer debris).
    */
  def maintainTable(spark: SparkSession, dir: String,
                    compactMinFiles: Int = 8,
                    targetFileBytes: Long = 1L << 30,
                    checkpointEvery: Int = 10,
                    retainVersions: Int = 20,
                    vacuumLite: Boolean = false): Report = {
    require(compactMinFiles >= 2 && checkpointEvery >= 1 && retainVersions >= 1,
      s"maintainTable: bad policy ($compactMinFiles, $checkpointEvery, $retainVersions)")
    val snap0 = DeltaReader.snapshot(spark, dir, None)

    // 1. compaction — policy here, contract gates in compactDelta
    val wantsCompact =
      snap0.active.groupBy(_.partitionValues).exists(_._2.size >= compactMinFiles)
    val (compacted, skipReason) =
      if (!wantsCompact) (false, None)
      else LakeWriter.rewriteRefusal(snap0, "compactDelta") match {
        case Some(reason) => (false, Some(reason))
        case None =>
          LakeWriter.compactDelta(spark, dir, compactMinFiles, targetFileBytes)
          (true, None)
      }

    // 2. checkpoint cadence: commits since the newest checkpoint
    val snap1 = DeltaReader.snapshot(spark, dir, None)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val lastCp =
      if (!fs.exists(log)) -1L
      else fs.listStatus(log).map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.checkpoint(\\..*)?\\.?(parquet|json)?"))
        .flatMap(n => scala.util.Try(n.take(20).toLong).toOption)
        .sorted.lastOption.getOrElse(-1L)
    val checkpointed =
      if (snap1.version - lastCp >= checkpointEvery) {
        LakeWriter.checkpointDelta(spark, dir, snap1.version)
        Some(snap1.version)
      } else None

    // 3. vacuum below the retention horizon
    val horizon = snap1.version - retainVersions
    val vacuumed =
      if (horizon > 0)
        LakeWriter.vacuumDelta(spark, dir, horizon, lite = vacuumLite).size
      else 0

    Report(compacted, skipReason, checkpointed, vacuumed)
  }
}
