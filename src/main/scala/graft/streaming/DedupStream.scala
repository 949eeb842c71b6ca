package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus dedup over a persisted MinHash signature index:
  * each arriving micro-batch is near-dup-checked against everything
  * seen so far ([[Dedup.minhashLshIncremental]] — probe cost scales
  * with the batch, old×old pairs are never re-generated), then its
  * pairs and signatures are appended. `foreachBatch` is the right
  * Structured Streaming shape here because the signature index must
  * outlive the query and stay shareable with batch jobs —
  * `flatMapGroupsWithState` state is per-key and query-private.
  *
  * Retries are idempotent: each batch writes checkpoint-scoped
  * `batch=<scope>-<id>` directories with overwrite, so a replayed
  * micro-batch replaces its own output instead of duplicating it
  * (the checkpoint keeps batch ids stable), and a NEW query with a
  * fresh checkpoint over the same long-lived index cannot clobber an
  * earlier run's batch directories. A compact band-key table
  * ([[Dedup.minhashBandKeys]]) is maintained at `<sigDir>-keys` so
  * each probe reads corpus band keys instead of re-deriving them
  * from every signature.
  */
object DedupStream {

  def incrementalMinhash(docs: DataFrame, sigDir: String, pairsDir: String,
                         checkpoint: String, tau: Double): StreamingQuery = {
    // batch directories are scoped by the checkpoint identity (as
    // DeltaStream scopes its txn ids): batchId restarts at 0 under a NEW
    // checkpoint against the same long-lived index, and an unscoped
    // batch=0 would silently overwrite the original batch-0 signatures
    val scope = DeltaStream.checkpointScope(checkpoint)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        // Hadoop FS existence, not java.io.File — the index lives on
        // the lake's filesystem, and a local-disk check would silently
        // dedupe every batch only against itself
        val sigPath = new org.apache.hadoop.fs.Path(sigDir)
        val fs = sigPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val haveSigs = fs.exists(sigPath) && fs.listStatus(sigPath).nonEmpty
        val keysDir = s"$sigDir-keys"
        val existing =
          if (haveSigs) s.read.parquet(sigDir).select("did", "sig", "sh")
          else Dedup.minhashSignatures(batch.limit(0))
        // the persisted band-key table makes each probe read compact
        // keys instead of re-hashing every corpus signature per batch;
        // it may legitimately be ABSENT (index written before the key
        // table existed, or a crash between the sigs and keys writes) —
        // fall back to deriving from the signatures rather than wedging
        // the stream on PATH_NOT_FOUND forever
        val keysPath = new org.apache.hadoop.fs.Path(keysDir)
        val existingKeys =
          if (haveSigs && fs.exists(keysPath)) Some(s.read.parquet(keysDir)) else None
        val b = batch.cache()
        // ONE signature computation per batch: the pairs probe, the
        // signature write and the key write all consume this frame
        val sigs = Dedup.minhashSignatures(b).cache()
        Dedup.minhashLshIncremental(b, existing, tau,
          existingKeys = existingKeys, newSigs0 = Some(sigs))
          .write.mode("overwrite").parquet(s"$pairsDir/batch=$scope-$batchId")
        sigs.write.mode("overwrite").parquet(s"$sigDir/batch=$scope-$batchId")
        Dedup.minhashBandKeys(sigs)
          .write.mode("overwrite").parquet(s"$keysDir/batch=$scope-$batchId")
        sigs.unpersist()
        b.unpersist()
        ()
      }
      .start()
  }
}
