package graft.streaming

import graft.sources.DeltaReader
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Streaming SOURCE from the Delta table format — the read-side twin
  * of [[DeltaStream]]'s sink: tail the `_delta_log` incrementally, one
  * micro-batch per poll, each batch the distributed parquet scan of
  * the `add` files committed since the checkpointed watermark.
  *
  * Change semantics (append-only tailing, no CDF):
  *  - only `dataChange = true` adds are delivered — a compaction
  *    commit (dataChange=false adds + removes) is pure layout movement
  *    and contributes NOTHING to the stream, which is exactly why the
  *    sink's compaction marks itself dataChange=false;
  *  - a `dataChange = true` remove means rows were DELETED or
  *    rewritten, which an append-only tail cannot represent — refused
  *    loudly instead of silently streaming a wrong delta, unless the
  *    caller opted into `ignoreDeletes` (skip delete-only versions —
  *    the partition-boundary retention case) or `skipChangeCommits`
  *    (skip every changing version), delta-spark's mutation-tolerance
  *    options;
  *  - versions whose commit JSON was retention-cleaned are refused
  *    (checkpoints are snapshots, not change lists) — size the log
  *    retention to the maximum expected consumer lag, exactly as real
  *    Delta's `logRetentionDuration` contract demands.
  *
  * Delivery is at-least-once from this source's point of view (the
  * watermark advances AFTER `process` returns) and exactly-once
  * END-TO-END when the sink dedups on the batch version — e.g.
  * [[DeltaStream.commitBatch]] with this source's version as the txn
  * version, giving a Delta→Delta pipeline the same idempotence
  * discipline on both ends.
  *
  * Scale: each poll's driver work is O(new versions) KB-scale JSON
  * parses + one snapshot replay (bounded by checkpointInterval); the
  * data path is the same distributed scan as the batch reader
  * (column-mapping remap included). The initial batch is the full
  * current snapshot — the same "initial snapshot then tail" shape as
  * delta-spark's streaming source.
  */
object DeltaTail {

  /** New rows committed in versions (fromVersion, toVersion]:
    * dataChange=true adds only, scanned under `toVersion`'s metadata —
    * or per-version under each version's OWN metadata, projected to
    * `toVersion`'s columns by column identity (a renamed column keeps
    * its values), when the window crosses a column-mapping
    * transition (whose re-keyed files the single scan would
    * null-misread) — the rule [[DeltaReader.acrossTransitions]] shares
    * with the split change feed.
    * Refuses dataChange=true removes (deletes need CDF, not a tail)
    * and DV-carrying new adds (a file BORN with deleted rows is a
    * rewrite product, not an append) — unless the caller opted into
    * delta-spark's mutation tolerance:
    *  - `ignoreDeletes` skips DELETE-ONLY versions (removes, no adds —
    *    the retention/GDPR case: rows leave the table but nothing is
    *    rewritten, so the tail's append semantics stay exact for the
    *    surviving data);
    *  - `skipChangeCommits` skips ENTIRE versions that remove data
    *    (updates/merges/rewrites too) — the stream delivers only
    *    pure-append commits, the documented contract for tailing a
    *    table that mutates.
    */
  def changes(s: SparkSession, dir: String, fromVersion: Long, toVersion: Long,
              ignoreDeletes: Boolean = false,
              skipChangeCommits: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val snap = DeltaReader.snapshot(s, dir, Some(toVersion))
    val perVersion = ((fromVersion + 1) to toVersion).flatMap { v =>
      val ch = DeltaReader.versionChanges(s, dir, v, DeltaReader.TailLost)
      if (ch.removes.nonEmpty && (skipChangeCommits || (ignoreDeletes && ch.adds.isEmpty))) Nil
      else {
        require(ch.removes.isEmpty,
          s"version $v of $dir removes ${ch.removes.size} files with dataChange=true " +
            "(a delete/rewrite) — an append-only tail cannot represent it; " +
            "refusing to stream a wrong delta (option ignoreDeletes skips " +
            "delete-only versions; skipChangeCommits skips every changing version)")
        if (ch.adds.isEmpty) Nil else Seq(v -> ch.adds)
      }
    }
    perVersion.flatMap(_._2).foreach { a =>
      require(a.dv.isEmpty,
        s"version range ($fromVersion, $toVersion] adds ${a.path} carrying a deletion " +
          "vector — a rewrite product, not an append; refusing to stream it")
    }
    val addsOf = perVersion.toMap
    DeltaReader.acrossTransitions(s, dir, fromVersion, toVersion, snap,
      perVersion.map(_._1),
      DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]) { (versions, sn) =>
      DeltaReader.scanFiles(s, dir, sn, versions.flatMap(addsOf))
    }
  }

  /** One micro-batch poll: deliver everything committed since the
    * watermark in `checkpoint` to `process(batch, version)`, then
    * advance the watermark. The FIRST poll delivers the full current
    * snapshot (initial load), later polls the incremental changes;
    * returns the delivered version, or None when there was nothing
    * new. A poll that crashes inside `process` redelivers on retry —
    * pair with a version-deduping sink for exactly-once.
    *
    * `maxVersionsPerTrigger` caps how many log versions one poll
    * delivers — a tail starting far behind a hot table catches up in
    * bounded batches instead of one giant one. This poll API keeps the
    * initial snapshot as ONE batch (one consistent version); the
    * registered streaming source ([[GraftDeltaSource]]) additionally
    * splits it by maxFilesPerTrigger/maxBytesPerTrigger with
    * restart-safe offsets — prefer readStream for huge tables.
    */
  def pollOnce(s: SparkSession, dir: String, checkpoint: String,
               process: (DataFrame, Long) => Unit,
               maxVersionsPerTrigger: Option[Int] = None): Option[Long] = {
    maxVersionsPerTrigger.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger $m must be positive"))
    val wm = new Watermark(s, checkpoint, "delta_tail_version")
    val snap = DeltaReader.snapshot(s, dir, None)
    val batch = wm.read() match {
      case None =>
        // initial load: the whole current snapshot as batch one
        Some(DeltaReader.read(s, dir, Some(snap.version)) -> snap.version)
      case Some(w) if snap.version > w =>
        val to = maxVersionsPerTrigger.map(m => math.min(snap.version, w + m))
          .getOrElse(snap.version)
        Some(changes(s, dir, w, to) -> to)
      case _ => None
    }
    batch.map { case (df, version) =>
      process(df, version)
      wm.write(version)
      version
    }
  }

  /** Drain every pending version: poll until quiescent. Returns the
    * number of batches delivered — the Trigger.AvailableNow shape for
    * tests and catch-up runs.
    */
  def drain(s: SparkSession, dir: String, checkpoint: String,
            process: (DataFrame, Long) => Unit,
            maxVersionsPerTrigger: Option[Int] = None): Int = {
    var n = 0
    while (pollOnce(s, dir, checkpoint, process, maxVersionsPerTrigger).isDefined) n += 1
    n
  }

  /** One poller's watermark file under `checkpoint`: the last
    * delivered version, advanced after `process` returns.
    */
  private final class Watermark(s: SparkSession, checkpoint: String, name: String) {
    private val cpDir = new Path(checkpoint)
    private val fs = cpDir.getFileSystem(s.sessionState.newHadoopConf())
    private val file = new Path(cpDir, name)

    // an unparseable watermark is OPERATOR-REPAIR territory, not a
    // silent restart-from-scratch (which would redeliver the whole
    // table into a sink that may not dedup the initial snapshot)
    def read(): Option[Long] =
      if (!fs.exists(file)) None
      else {
        val in = fs.open(file)
        val t = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        require(t.nonEmpty && t.forall(_.isDigit),
          s"corrupt delta-tail watermark $file (content: '$t') — repair or remove " +
            "the file; removing restarts the tail from its starting position")
        Some(t.toLong)
      }

    // write-then-rename: fs.create(file, true) truncates in place, so a
    // crash mid-write would leave an empty/partial watermark and wedge
    // the stream instead of redelivering
    def write(version: Long): Unit = {
      fs.mkdirs(cpDir)
      val tmp = new Path(cpDir,
        s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      if (fs.exists(file)) fs.delete(file, false)
      require(fs.rename(tmp, file),
        s"rename $tmp -> $file failed; the tail will redeliver version $version")
    }
  }

  /** One CHANGE-FEED micro-batch poll — the streaming form of
    * [[graft.sources.DeltaReader.readChanges]]: deliver the row-level
    * changes of every version committed since the watermark (schema =
    * table columns + `_change_type` + `_commit_version`), then advance
    * the watermark with the same atomic write-then-rename discipline
    * as [[pollOnce]]. Where the append-only tail REFUSES
    * delete/update/merge versions, this tail streams them — the CDC
    * consumer shape (sync a downstream store, invalidate caches,
    * retrain on deltas).
    *
    * `startingVersion`: Some(v) makes the first poll deliver changes
    * from version v (0 = the table's whole history as changes, the
    * initial inserts included); None starts tailing AFTER the current
    * version — the first poll just records the position and delivers
    * nothing, delta-spark's default for a new CDF stream.
    *
    * At-least-once per poll, exactly-once end-to-end with a
    * version-deduping sink — `_commit_version` rides IN the rows, so
    * the sink can dedup without extra plumbing. Underivable commits
    * (non-CDF rewrites) refuse loudly via readChanges; commits below
    * log retention refuse via the commit-not-present gate. Uses its
    * own watermark file, so a change tail and an append tail can share
    * a checkpoint directory without clobbering each other.
    */
  def pollChangesOnce(s: SparkSession, dir: String, checkpoint: String,
                      process: (DataFrame, Long) => Unit,
                      startingVersion: Option[Long] = None,
                      maxVersionsPerTrigger: Option[Int] = None): Option[Long] = {
    maxVersionsPerTrigger.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger $m must be positive"))
    val wm = new Watermark(s, checkpoint, "delta_tail_cdf_version")
    val snap = DeltaReader.snapshot(s, dir, None)
    val from: Long = wm.read().map(_ + 1).orElse(startingVersion).getOrElse {
      // start-from-now: record the position, deliver nothing
      wm.write(snap.version)
      return None
    }
    if (from > snap.version) return None
    val to = maxVersionsPerTrigger.map(m => math.min(snap.version, from + m - 1))
      .getOrElse(snap.version)
    // the SPLIT form: this poller's consumer takes the logical CDF
    // shape, so a window crossing a column-mapping removal delivers
    // per-version instead of wedging the watermark behind the batch
    // refusal forever (the poller cannot split its own window)
    val batch = DeltaReader.readChangesSplit(s, dir, from, to)
    process(batch, to)
    wm.write(to)
    Some(to)
  }

  /** Drain the change feed until quiescent; returns batches delivered. */
  def drainChanges(s: SparkSession, dir: String, checkpoint: String,
                   process: (DataFrame, Long) => Unit,
                   startingVersion: Option[Long] = None,
                   maxVersionsPerTrigger: Option[Int] = None): Int = {
    var n = 0
    while (pollChangesOnce(s, dir, checkpoint, process, startingVersion,
      maxVersionsPerTrigger).isDefined) n += 1
    n
  }
}
