package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-shuffle join pruning with a Bloom filter: build a filter over
  * the small side's join keys and drop big-side rows that cannot
  * match BEFORE the big side shuffles. With a selective join this
  * removes most of the shuffle I/O for the cost of one broadcast
  * bitset; false positives only survive to the exact join, never
  * false negatives. (Spark's runtime bloom-filter rewrite covers some
  * shapes automatically; this is the explicit plan-level form for when
  * the optimizer cannot prove it, e.g. across cached stages.)
  */
object BloomPrune {

  /** `big` filtered to rows whose `bigKey` might appear in `small`'s
    * `smallKey`. Follow with the real join — this is a prefilter, not a
    * join. Both sides are hashed with the SAME xxhash64 before
    * build/probe, so any key type works and the no-false-negatives
    * guarantee holds; the key dataTypes must match (xxhash64 hashes the
    * physical representation), enforced loudly rather than silently
    * dropping rows.
    */
  def semiFilter(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
                 expectedKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    semiFilterMulti(big, small, Seq(bigKey), Seq(smallKey), expectedKeys, fpp)

  /** Composite-key form: the filter is built over
    * `xxhash64(smallKeys*)` and probed with `xxhash64(bigKeys*)` —
    * e.g. a (tableid, rowid) row-key set. Building the filter is an
    * eager aggregate job and embeds the serialized bits as a literal in
    * the plan; where the small side is a cheap broadcast, an in-plan
    * broadcast semi-join prunes lazily instead (MATE's verification).
    */
  def semiFilterMulti(big: DataFrame, small: DataFrame,
                      bigKeys: Seq[String], smallKeys: Seq[String],
                      expectedKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    require(bigKeys.nonEmpty && bigKeys.length == smallKeys.length,
      s"semiFilter needs matching non-empty key lists, got $bigKeys vs $smallKeys")
    bigKeys.zip(smallKeys).foreach { case (b, sm) =>
      val (bt, st) = (big.schema(b).dataType, small.schema(sm).dataType)
      require(bt == st,
        s"semiFilter key types must match: $b is $bt, $sm is $st " +
          "(xxhash64 hashes the physical representation)")
    }
    val bf = small.select(xxhash64(smallKeys.map(col): _*).as("__h"))
      .stat.bloomFilter("__h", expectedKeys, fpp)
    // probe with Spark's native BloomFilterMightContain (the expression
    // behind the runtime bloom-join rewrite): the serialized filter is
    // a binary literal deserialized once per task, and the per-row
    // probe stays inside whole-stage codegen — no boxed-Long UDF on
    // the big side's hot path
    val ser = new java.io.ByteArrayOutputStream()
    bf.writeTo(ser)
    val probe = org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(ser.toByteArray,
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.GraftColumnBridge.expression(
        xxhash64(bigKeys.map(col): _*)))
    big.where(bigKeys.map(col(_).isNotNull).reduce(_ && _) &&
      org.apache.spark.sql.GraftColumnBridge.column(probe))
  }
}
