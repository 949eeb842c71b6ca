package graft.streaming

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sink INTO the Delta table format with the protocol's own
  * exactly-once discipline: every micro-batch commits its data files
  * and a `txn` transaction identifier (appId, version = micro-batch
  * id) in ONE atomic log commit (delta-io/delta PROTOCOL.md
  * "Transaction Identifiers" — the same mechanism the real delta-spark
  * streaming sink uses). On restart or micro-batch retry the sink
  * consults the replayed watermark and SKIPS any batch at or below it,
  * so a batch that crashed after committing but before the query
  * checkpoint advanced lands exactly once instead of twice.
  *
  * The txn identity is SCOPED BY THE QUERY CHECKPOINT (the caller's
  * appId + a checkpoint-derived suffix), because batch ids only mean
  * anything within one checkpoint's offset log: delta-spark scopes by
  * the checkpoint-stored query id for the same reason. A new
  * checkpoint restarts batch ids at 0 over possibly NEW data — under
  * an unscoped appId those batches would sit below the old watermark
  * and be dropped as "replays", silently losing data.
  *
  * The first batch creates the table (schema + optional partitioning
  * from the stream); an EMPTY `_delta_log` left by a crash between
  * directory creation and the version-0 commit also takes the create
  * path ([[DeltaReader.hasLogEntries]]) — treating it as an existing
  * table would make every retry throw on the empty log, wedging the
  * stream forever. Later batches append through the snapshot-gated
  * append path, with ONE log replay per batch shared between the
  * watermark check and the append gate. A concurrent writer racing
  * the sink surfaces as the create-if-absent commit failure, never a
  * silent overwrite. Batch-scale work stays distributed (the staged
  * parquet write); only the KB-scale log commit is driver-side, which
  * is the format's own design.
  */
object DeltaStream {

  def writeDelta(stream: DataFrame, dir: String, checkpoint: String,
                 appId: String, checkpointInterval: Int = 0,
                 partitionBy: Seq[String] = Nil): StreamingQuery = {
    val scoped = scopedAppId(appId, checkpoint)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        commitBatch(batch.toDF(), dir, scoped, batchId,
          checkpointInterval, partitionBy)
      }
      .start()
  }

  /** appId + checkpoint-identity suffix. */
  private[graft] def scopedAppId(appId: String, checkpoint: String): String =
    s"$appId-${checkpointScope(checkpoint)}"

  /** The checkpoint's identity: the first 4 bytes of its path's MD5 as
    * 8 hex digits. Txn ids here and DedupStream's `batch=<scope>-<id>`
    * directories both carry it, so it must never change form.
    */
  private[graft] def checkpointScope(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Streaming UPSERT sink: each micro-batch MERGEs into the table on
    * `keyCols` (matched target rows replaced by the batch row,
    * unmatched batch rows inserted) under the SAME txn exactly-once
    * discipline as [[writeDelta]] — the CDC-apply shape: a change
    * stream keyed by primary key lands as a continuously-upserted
    * table instead of an append log. The batch must carry ONE row per
    * key ([[graft.sources.LakeWriter.mergeInto]]'s ambiguity refusal)
    * — aggregate to last-event-per-key upstream (e.g. a
    * max_by/window), exactly as real MERGE demands. The first batch
    * creates the table.
    */
  def upsertDelta(stream: DataFrame, dir: String, checkpoint: String,
                  appId: String, keyCols: Seq[String],
                  partitionBy: Seq[String] = Nil): StreamingQuery = {
    val scoped = scopedAppId(appId, checkpoint)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        upsertBatch(batch.toDF(), dir, scoped, batchId, keyCols, partitionBy)
      }
      .start()
  }

  /** One micro-batch's exactly-once MERGE — [[commitBatch]]'s
    * arbitration with the append swapped for [[LakeWriter.mergeInto]].
    */
  private[graft] def upsertBatch(batch: DataFrame, dir: String, appId: String,
                                 batchId: Long, keyCols: Seq[String],
                                 partitionBy: Seq[String] = Nil): Unit = {
    val s = batch.sparkSession
    val hconf = s.sessionState.newHadoopConf()
    val live = DeltaReader.isDeltaTable(dir, hconf) &&
      DeltaReader.hasLogEntries(dir, hconf)
    if (!live) {
      LakeWriter.writeDelta(batch, dir, checkpointInterval = 0,
        partitionBy, Some(appId -> batchId))
    } else {
      val snap = DeltaReader.snapshot(s, dir, None)
      if (batchId > snap.txns.getOrElse(appId, -1L))
        LakeWriter.mergeInto(s, dir, batch, keyCols, Some(appId -> batchId))
      // else: replay of an already-committed batch — exactly-once skip
    }
  }

  /** One micro-batch's exactly-once CDC APPLY — the Delta→Delta
    * replication fold: the batch is a CHANGE-FEED slice (the rows
    * `readStream.format("graft-delta").option("readChangeFeed","true")`
    * delivers, `_change_type` + `_commit_version` riding along), and
    * the target applies it as one clause merge per batch:
    *
    *  1. preimages drop (the postimage carries the row's new value);
    *  2. per key, the LAST change governs — max by (`_commit_version`,
    *     liveness), so a delete-then-reinsert within the batch lands
    *     as the reinsert and an update-then-delete as the delete (a
    *     key must be change-unique WITHIN one source commit, which
    *     key-unique tables guarantee);
    *  3. `WHEN MATCHED AND s._change_type = 'delete' THEN DELETE;
    *     WHEN MATCHED THEN UPDATE SET *; WHEN NOT MATCHED AND
    *     s._change_type != 'delete' THEN INSERT *` — a delete for an
    *     absent key is a no-op, exactly the idempotence replication
    *     needs when the feed starts mid-history.
    *
    * The first batch CREATES the target from its surviving rows
    * (meta columns stripped); the txn watermark gives the same
    * exactly-once restart discipline as the other batch modes. Work
    * per batch ∝ changed keys' files, not target size — the same
    * cost shape as [[graft.streaming.ViewMaintain]], applied to a
    * full-fidelity table copy instead of an aggregate.
    */
  private[graft] def applyCdcBatch(batch: DataFrame, dir: String, appId: String,
                                   batchId: Long, keyCols: Seq[String],
                                   partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max_by, struct, when}
    // _commit_timestamp is CDF bookkeeping too (never replica data),
    // but only the first two are required — the fold keys on them
    val meta = DeltaReader.CdfColumns.map(_.name)
    val missing = meta.take(2).filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"cdcApply expects a change-feed stream (readChangeFeed=true) — the batch " +
        s"lacks ${missing.mkString(", ")}")
    val s = batch.sparkSession
    val dataCols = batch.columns.filterNot(c => meta.contains(c)).toSeq
    val changes = batch.where(col("_change_type") =!= "update_preimage")
    val latest = changes.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct((dataCols :+ "_change_type").map(col).toIndexedSeq: _*),
        struct(col("_commit_version"),
          when(col("_change_type") === "delete", lit(0)).otherwise(lit(1))))
        .as("__last"))
      .select("__last.*")
    val hconf = s.sessionState.newHadoopConf()
    val live = DeltaReader.isDeltaTable(dir, hconf) &&
      DeltaReader.hasLogEntries(dir, hconf)
    if (!live) {
      LakeWriter.writeDelta(
        latest.where(col("_change_type") =!= "delete")
          .select(dataCols.map(col): _*),
        dir, checkpointInterval = 0, partitionBy, Some(appId -> batchId))
    } else {
      val snap = DeltaReader.snapshot(s, dir, None)
      if (batchId > snap.txns.getOrElse(appId, -1L)) {
        // a target declaring enableDeletionVectors folds MERGE-ON-READ:
        // matched rows DV'd in place, only the changed rows staged —
        // replication batches never rewrite target files (row-tracked
        // targets compose: ids carried on DV'd files, fresh for staged)
        val mor = snap.configuration.get("delta.enableDeletionVectors")
          .contains("true")
        if (mor)
          LakeWriter.applyCdcDv(s, dir, latest, keyCols,
            txn = Some(appId -> batchId))
        else
          LakeWriter.mergeIntoClauses(s, dir, latest, keyCols,
            matched = Seq(
              graft.sources.MergeClause(Some("s._change_type = 'delete'"),
                graft.sources.MergeDelete),
              graft.sources.MergeClause(None, graft.sources.MergeUpdateAll)),
            notMatched = Seq(
              graft.sources.MergeClause(Some("s._change_type != 'delete'"),
                graft.sources.MergeInsertAll)),
            notMatchedBySource = Nil, txn = Some(appId -> batchId))
      }
      // else: replay of an already-committed batch — exactly-once skip
    }
  }

  /** One micro-batch's exactly-once commit — factored out of the
    * foreachBatch closure so the skip/append/create arbitration is
    * directly testable.
    */
  private[graft] def commitBatch(batch: DataFrame, dir: String, appId: String,
                                 batchId: Long, checkpointInterval: Int = 0,
                                 partitionBy: Seq[String] = Nil,
                                 mergeSchema: Boolean = false): Unit = {
    val s = batch.sparkSession
    val hconf = s.sessionState.newHadoopConf()
    val live = DeltaReader.isDeltaTable(dir, hconf) &&
      DeltaReader.hasLogEntries(dir, hconf)
    if (!live) {
      LakeWriter.writeDelta(batch, dir, checkpointInterval,
        partitionBy, Some(appId -> batchId))
    } else {
      val snap = DeltaReader.snapshot(s, dir, None)
      if (batchId > snap.txns.getOrElse(appId, -1L)) {
        // mergeSchema: a RESTARTED query whose stream gained columns
        // evolves the table instead of hitting the append gate (a
        // stream's schema is fixed within one query — evolution is the
        // across-restart story, exactly delta-spark's sink option)
        if (mergeSchema)
          LakeWriter.appendDeltaEvolve(batch, dir, checkpointInterval,
            Some(appId -> batchId))
        else
          LakeWriter.appendDeltaWithSnapshot(batch, dir, checkpointInterval,
            Some(appId -> batchId), snap)
      }
      // else: replay of an already-committed batch — exactly-once skip
    }
  }
}
