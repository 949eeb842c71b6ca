package perfbench

import graft.dedup.Dedup
import graft.text.{TextAnalysis, WebCuration}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The curation half of `delta_curate`: batches of a generated document
  * corpus, with planted exact duplicates, near duplicates, unicode
  * variants (decomposed accents and control characters) and low-quality
  * documents, run through
  * `unicodeClean` → `gopherRules` → `Dedup.exact` → `minhashLsh` →
  * `clusters`. Each op curates one batch and collects the surviving ids.
  */
final class Curate(s: SparkSession, seed: Long, scale: Double) {
  val batchDocs: Int = math.max(40, (300 * scale).toInt)
  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** One batch: (docs, planted exact copies, planted near pairs, low-quality ids). */
  final case class Batch(docs: Seq[(Long, String)], copies: Set[Long], near: Seq[(Long, Long)],
                         bad: Set[Long])

  def batch(i: Int): Batch = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val gen = new Gen(seed * 31 + i, 1.0)
    val base = i.toLong * 1000000L
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var copies = Set.empty[Long]
    var near = Seq.empty[(Long, Long)]
    var bad = Set.empty[Long]
    def id = base + docs.size
    (0 until batchDocs).foreach { _ =>
      val roll = r.nextInt(100)
      if (roll < 8 && docs.nonEmpty) {              // exact copy of an earlier doc
        val (oid, t) = docs(r.nextInt(docs.size))
        if (bad(oid)) bad += id else copies += id
        docs += ((id, t))
      } else if (roll < 14 && docs.nonEmpty) {      // near duplicate: ~3% of words replaced
        val (oid, t) = docs(r.nextInt(docs.size))
        val ws = t.split(" ")
        val changed = ws.map(w => if (r.nextInt(100) < 3) gen.word() else w).mkString(" ")
        if (bad(oid)) bad += id else near :+= ((oid, id))
        docs += ((id, changed))
      } else if (roll < 18) {                       // low quality: too short
        bad += id
        docs += ((id, gen.phrase(10)))
      } else if (roll < 22) {                       // unicode damage, cleaned away
        docs += ((id, "cafe\u0301 \u0007" + gen.document(60 + r.nextInt(100))))
      } else docs += ((id, gen.document(60 + r.nextInt(100))))
    }
    Batch(docs.toSeq, copies, near, bad)
  }

  def warmup(): Unit = op(-1, -1).run()()

  def op(i: Int, req: Int): Op = {
    val b = batch(i)
    Op("curate", () => {
      val docs = s.createDataFrame(s.sparkContext.parallelize(b.docs.map(Row.fromTuple), 4), schema)
      val cleaned = Trace.span("text.clean")(Trace.force(
        WebCuration.unicodeClean(docs).select(col("doc_id"), col("clean_text").as("text"))))
      val quality = Trace.span("text.quality")(Trace.force(TextAnalysis.gopherRules(cleaned)))
      val kept = cleaned.join(quality.where(col("passes") === 1).select("doc_id"), "doc_id")
      val exact = Trace.span("dedup.exact")(Trace.force(Dedup.exact(kept)))
      val survivors = kept.join(exact.where(col("keep")).select("doc_id"), "doc_id")
      val pairs = Trace.span("dedup.minhash")(Trace.force(Dedup.minhashLsh(survivors, 0.7)))
      val finalIds = Trace.span("dedup.clusters")(Dedup.clusters(survivors, pairs)
        .where(col("doc_id") === col("cluster")).select("doc_id").collect().map(_.getLong(0)).toSet)
      if (Trace.on) layerSamples(b, survivors, pairs)
      () => {
        val distinct = kept.agg(countDistinct(col("text"))).collect()(0).getLong(0)
        val nExact = exact.where(col("keep")).select("doc_id").collect().length
        Check(req, "curate-exact-copies-removed", b.copies.forall(c => !finalIds(c)),
          s"${b.copies.count(finalIds)} planted copies survived")
        Check(req, "curate-distinct-text-count", nExact == distinct,
          s"exact survivors $nExact vs distinct texts $distinct")
        Check(req, "curate-low-quality-dropped", b.bad.forall(x => !finalIds(x)))
      }
    })
  }

  /** LSH candidate pairs from the band keys, verified pairs, planted recall. */
  private def layerSamples(b: Batch, survivors: DataFrame, pairs: DataFrame): Unit = {
    val keys = Dedup.minhashBandKeys(Dedup.minhashSignatures(survivors))
    val cand = keys.as("x").join(keys.as("y"), Seq("band", "bkey"))
      .where(col("x.did") < col("y.did")).select(col("x.did"), col("y.did")).distinct()
      .agg(count(lit(1))).collect()(0).getLong(0)
    val found = pairs.select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Trace.sample("dedup.candidate_pairs", cand.toDouble)
    Trace.sample("dedup.verified_pairs", found.size.toDouble)
    val surv = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = b.near.filter { case (a, c) => surv(a) && surv(c) }
    Trace.sample("dedup.planted", planted.size.toDouble)
    Trace.sample("dedup.planted_found", planted.count(found).toDouble)
  }

  def sizes: Seq[(String, Double)] = Seq("docs_per_batch" -> batchDocs.toDouble)

  def metrics(ops: Seq[Main.Done]): Seq[(String, Double, String)] = {
    val batches = ops.filter(_.kind == "curate")
    Seq(("curate_docs_per_s", batchDocs * batches.size / batches.map(_.seconds).sum, "docs/s"))
  }
}
