package graft.streaming

import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of a persisted ANN index
  * ([[Similarity.writeAnnIndex]]): each arriving micro-batch of
  * vectors is encoded with the index's PERSISTED model — codebooks
  * never retrain mid-stream, the standard IVF discipline (retraining
  * would silently re-key every previously indexed vector) — and
  * appended to the Delta code table by [[DeltaStream.writeDelta]].
  * Each batch commits with a `txn` identifier scoped by the query
  * checkpoint, so a replayed micro-batch lands once and the maintained
  * index is exactly the union of arrived batches; searches through
  * [[Similarity.readAnnIndex]] / `ivfPqSearch` see every committed
  * batch and still prune unprobed cells.
  */
object AnnStream {

  def incrementalAnnIndex(vecs: DataFrame, indexPath: String, checkpoint: String,
                          id: String = "vec_id", vec: String = "embedding"): StreamingQuery = {
    // the model is immutable by contract — read it ONCE per query, not
    // per micro-batch
    val model = Similarity.readAnnIndex(vecs.sparkSession, indexPath)._1
    DeltaStream.writeDelta(Similarity.encodePq(vecs, model, id, vec),
      s"$indexPath/codes", checkpoint, appId = "graft-ann")
  }
}
