package graft.queries

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.ml.FeatureEval
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.{TextAnalysis, WebCuration}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators — SURVEY.md §2.4. */
object PipelineQueries {
  import Q._

  private def dec6(c: org.apache.spark.sql.Column) = round(c, 6).cast("decimal(10,6)")

  /** Near-dup pairs of the documents table at τ=0.5, built once per
    * (session, dir): the pair set is a product both `dedup_jaccard` and
    * `dedup_clusters` consume, so it must not be recomputed per query
    * (the shingle self-join is the expensive pass).
    */
  private def jacPairs(s: SparkSession, dir: String): DataFrame =
    jacPairsCache.getOrElseUpdate((s, dir),
      Dedup.ngramJaccard(t(s, dir, "documents"), 0.5).cache())

  private val jacPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Duplicate word spans of the documents table (gram 5, minWords 8),
    * shared by `dedup_spans` (the inventory) and `dedup_spans_clean`
    * (the removal) — the positional-gram join is the expensive pass.
    */
  private def docSpans(s: SparkSession, dir: String): DataFrame =
    spansCache.getOrElseUpdate((s, dir),
      Dedup.duplicateSpans(t(s, dir, "documents"), 5, 8).cache())

  private val spansCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** DSIR importance weights of the documents table against its
    * English subset, fit once per (session, dir) — consumed by BOTH
    * `dsir_weights` and `dsir_sample`.
    */
  private def dsirW(s: SparkSession, dir: String): DataFrame =
    dsirCache.getOrElseUpdate((s, dir), {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.importanceWeights(docs,
        docs.where(org.apache.spark.sql.functions.col("lang") === "en")).cache()
    })

  private val dsirCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Cell assignment of the embeddings table (nCells=16, seed=42) —
    * the coarse-quantizer index `knn_ivf` and `dedup_semantic` both
    * search; one KMeans fit + one assignment pass, shared like `cells`.
    */
  private def embCells(s: SparkSession, dir: String): DataFrame =
    cellCache.getOrElseUpdate((s, dir),
      Similarity.assignCells(t(s, dir, "embeddings"), 16, 42L).cache())

  private val cellCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Eval-set contamination spans (gram 5, minWords 8, doc_id%50 split),
    * shared by `contamination_spans` (the location report) and
    * `contamination_clean` (the excision) — the cross-corpus positional
    * gram join is the expensive pass.
    */
  private def contamSpans(s: SparkSession, dir: String): DataFrame =
    contamCache.getOrElseUpdate((s, dir), {
      val docs = t(s, dir, "documents")
      Dedup.duplicateSpansAcross(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), 5, 8).cache()
    })

  private val contamCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Trained BPE artifacts over the documents corpus (64 merges,
    * vocabulary cap 2^16): the merge table `bpe_merges` inventories,
    * `bpe_encode` applies, and the id table `bpe_encode_ids` ships —
    * trained once per (session, dir) like every other shared product.
    */
  private def bpeArtifacts(s: SparkSession, dir: String): (Seq[(String, String)], Map[String, Int]) =
    bpeCache.getOrElseUpdate((s, dir),
      graft.text.Bpe.trainWithVocab(graft.text.Bpe.wordCounts(t(s, dir, "documents")), 64))

  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeArtifacts(s, dir)._1

  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[(String, String)], Map[String, Int])]

  /** Materialize the shared caches (timed as Bench's `cache_build`). */
  def warmCaches(s: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future(jacPairs(s, dir).count()),
      Future(docSpans(s, dir).count()),
      Future(embCells(s, dir).count()),
      Future(contamSpans(s, dir).count()),
      Future(dsirW(s, dir).count()),
      Future(bpeMerges(s, dir)))), Duration.Inf)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("doc_id")),

    "dedup_jaccard" -> ((s, dir) =>
      jacPairs(s, dir)
        .select(col("id_1"), col("id_2"), dec6(col("jac")).as("jac"))
        .orderBy("id_1", "id_2")),

    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(t(s, dir, "documents"), jacPairs(s, dir)).orderBy("doc_id")),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), 0.5)
        .select(col("id_1"), col("id_2"), dec6(col("jac")).as("jac"))
        .orderBy("id_1", "id_2")),

    // Incremental arrival: the second half of the corpus deduped
    // against the first half's signature index — pairs must be exactly
    // the full run's pairs that touch the new half (old×old skipped).
    "dedup_minhash_inc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cut = 250
      val sigs = Dedup.minhashSignatures(d.where(col("doc_id") <= cut))
      Dedup.minhashLshIncremental(d.where(col("doc_id") > cut), sigs, 0.5)
        .select(col("id_1"), col("id_2"), dec6(col("jac")).as("jac"))
        .orderBy("id_1", "id_2")
    }),

    // Substring-level dedup: maximal shared word spans (>= 8 words at
    // gram 5) between doc pairs — the span inventory a surgical
    // span-removal pass would consume.
    "dedup_spans" -> ((s, dir) =>
      docSpans(s, dir).orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // The removal action: covered words dropped from the later doc,
    // earlier occurrence survives; fully-duplicated docs become "".
    "dedup_spans_clean" -> ((s, dir) =>
      Dedup.removeSpans(t(s, dir, "documents"), docSpans(s, dir))
        .orderBy("doc_id")),

    // Banded SimHash near-dup, oracle-checked against an all-pairs SQL
    // recompute (banding is exact at hamming <= 3 — see oracles)
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDup(t(s, dir, "documents")).orderBy("doc_id")),

    // SemDeDup: within-KMeans-cell cosine threshold graph → canonical
    // per connected component. Rows-only (the quantizer has no SQL
    // twin); RowsOnlySpec pins cell-local grouping ≡ ground truth on
    // separated clusters.
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semantic(t(s, dir, "embeddings"), 0.85,
        preAssigned = Some(embCells(s, dir)))
        .orderBy("vec_id")),

    "dedup_embed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceKnnBlocked(emb, emb, 1)
        .select(col("vec_id"), col("neighbor_id").as("best_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id")
    }),

    "knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceKnnBlocked(emb.where(col("vec_id") < 100), emb, 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id", "rank")
    }),

    "knn_ivf" -> ((s, dir) =>
      Similarity.ivfKnn(t(s, dir, "embeddings"), 3,
        preAssigned = Some(embCells(s, dir)))
        .select(col("vec_id"), col("rank"), col("neighbor_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id", "rank")),

    // PQ-compressed ANN: codes are ~21× smaller than the raw floats —
    // the memory-bound scale path. Rows-only (approximate by design);
    // RowsOnlySpec pins recall vs brute force on separated clusters.
    "knn_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqKnn(emb.where(col("vec_id") < 100), emb, 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id", "rank")
    }),

    // IVFADC: distributed cell-partitioned code table, probed-cell
    // join, per-query LUT scan — the nothing-corpus-sized-on-one-node
    // ANN. Rows-only; RowsOnlySpec pins cluster recall.
    "knn_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqKnn(emb.where(col("vec_id") < 100), emb, 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id", "rank")
    }),

    "knn_lsh" -> ((s, dir) =>
      Similarity.lshKnn(t(s, dir, "embeddings"), 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"), dec6(col("cos")).as("cos"))
        .orderBy("vec_id", "rank")),

    // Published recall@3 of each approximate ANN variant vs knn_brute
    // on the same query set (vec_id < 100). The .where(recall >= bound)
    // gate turns a silent recall collapse into ZERO rows — a red
    // driver gate, not a green "it ran". Bounds are COLLAPSE detectors
    // pinned below the measured sf0.01/sf0.1 values (lsh .020/.017 →
    // .01; ivf .353/.200 → .15; pq .190/.120 → .08; ivfpq ~.44 at the
    // rerank=32 default → .35); the full recall-vs-params curve, a
    // dated measurement, is recorded in SURVEY §4c.
    "knn_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.bruteForceKnnBlocked(emb.where(col("vec_id") < 100), emb, 3)
      val approx = Similarity.lshKnn(emb, 3).where(col("vec_id") < 100)
      Similarity.recallAtK(approx, exact).where(col("recall") >= 0.01)
    }),

    "knn_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.bruteForceKnnBlocked(emb.where(col("vec_id") < 100), emb, 3)
      val approx = Similarity.ivfKnn(emb, 3, preAssigned = Some(embCells(s, dir)))
        .where(col("vec_id") < 100)
      Similarity.recallAtK(approx, exact).where(col("recall") >= 0.15)
    }),

    "knn_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 100)
      val exact = Similarity.bruteForceKnnBlocked(q, emb, 3)
      Similarity.recallAtK(Similarity.pqKnn(q, emb, 3), exact)
        .where(col("recall") >= 0.08)
    }),

    // rerank now defaults ON in ivfPqKnn (32-candidate exact re-rank:
    // measured 0.107 → ~0.44 recall@3 at sf0.01) — the gate rises with
    // it; still a collapse detector below the measured value, not a
    // quality target.
    "knn_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 100)
      val exact = Similarity.bruteForceKnnBlocked(q, emb, 3)
      Similarity.recallAtK(Similarity.ivfPqKnn(q, emb, 3), exact)
        .where(col("recall") >= 0.35)
    }),

    // Corpus-level n-gram statistics (LM-style frequency table).
    "ngram_freq" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(explode(Dedup.shingles(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("g").asc)
        .limit(20)
    }),

    "lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents")).orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents")).orderBy("doc_id")),

    // Per-source adaptive quality gate: docs at or above their source's
    // median word count survive.
    "quality_filter" -> ((s, dir) =>
      TextAnalysis.perSourceLengthFilter(t(s, dir, "documents"), 0.5)
        .select(col("doc_id"), col("source"), col("n_words"), dec6(col("thr")).as("thr"))
        .orderBy("doc_id")),

    // Composite Gopher rule battery. minStopHits=1: the synthetic
    // vocabulary hits at most one Gopher stopword, and the harness
    // wants a verdict that actually SPLITS the corpus (the word-count
    // floor does, 277/500 at sf0.01).
    "quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), minStopHits = 1)
        .orderBy("doc_id")),

    // DSIR importance weights of every doc against the English subset
    // as the target distribution.
    "dsir_weights" -> ((s, dir) => dsirW(s, dir).orderBy("doc_id")),

    // Gumbel-top-k importance resample: the 100 most target-like docs
    // (the draw rides the CACHED weight fit — the expensive pass runs
    // once per (session, dir), like jacPairs/docSpans).
    "dsir_sample" -> ((s, dir) =>
      graft.text.Dsir.resampleFromWeights(dsirW(s, dir), k = 100)),

    "token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents")).orderBy("doc_id")),

    "text_scrub" -> ((s, dir) =>
      TextAnalysis.scrubPatterns(t(s, dir, "documents")).orderBy("doc_id")),

    "pii_signals" -> ((s, dir) =>
      TextAnalysis.piiSignals(t(s, dir, "documents")).orderBy("doc_id")),

    // web-curation battery (WebCuration): the harness wraps the corpus
    // in deterministically-constructed HTML / damaged unicode / messy
    // URLs (both engines build the IDENTICAL input expression — the
    // delta_* throwaway-table discipline applied to strings), then runs
    // the production extractor; the oracle recomputes extraction from
    // scratch via each operator's published SQL twin.
    "html_extract" -> ((s, dir) => {
      val d = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title> Doc "), col("source"), lit(" #"), d,
        lit(" </title><style>p { color: red }</style></head><body>"),
        lit("<!-- hidden --><script>var x = 1 < 2;</script><h1>"), col("source"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>&lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;lt; A&nbsp;B</p>"),
        lit("<a href=\"l1\">x</a>"),
        when(col("doc_id") % 2 === 0, lit("<A HREF='l2'>y</A>")).otherwise(lit("")),
        lit("</body></html>"))
      WebCuration.htmlExtract(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")))
        .orderBy("doc_id")
    }),

    "unicode_clean" -> ((s, dir) => {
      // damage injected per doc: a DECOMPOSED e+U+0301 (NFC composes
      // it), a mojibake digraph (U+00C3 U+00A9), a control char U+0001,
      // a replacement char U+FFFD -- escape-authored here and
      // chr()-authored in the oracle so no raw invisible byte rides in
      // either source file
      val damaged = concat(col("text"),
        lit(" e\u0301clair"),
        when(col("doc_id") % 3 === 0, lit(" caf\u00c3\u00a9")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\u0001")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\ufffd")).otherwise(lit("")))
      WebCuration.unicodeClean(
        t(s, dir, "documents").select(col("doc_id"), damaged.as("text")))
        .orderBy("doc_id")
    }),

    "url_normalize" -> ((s, dir) => {
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 3).cast("string"),
        lit(".COM:443/Path/"), (col("doc_id") % 10).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
          .otherwise(lit("?b=2&utm_campaign=x&a=1#frag")))
      WebCuration.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), url.as("url")))
        .orderBy("doc_id")
    }),

    "weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id", col("n_chars"), 100)),

    "corpus_report" -> ((s, dir) =>
      TextAnalysis.corpusReport(t(s, dir, "documents")).orderBy("source")),

    // Theta-sketch distinct-set algebra: pairwise vocabulary overlap
    // across all sources from ONE scan. At harness vocabulary size the
    // sketches stay in exact mode, so the DuckDB oracle can recompute
    // the same matrix with exact distinct joins — the estimates must
    // MATCH, proving the sketch path end-to-end.
    "source_overlap" -> ((s, dir) =>
      graft.ops.Sketches.distinctOverlap(
        t(s, dir, "documents").select(col("source"),
          explode(split(col("text"), " ")).as("w")),
        "source", col("w"))
        .orderBy("src_a", "src_b")),

    // KLL quantile profile per source. k=1024 keeps every per-source
    // sketch in EXACT mode at the correctness scale factors (25 and
    // 250 docs/source), where the inclusive KLL quantile IS the
    // ceil(q*n)-th order statistic — exactly DuckDB's quantile_disc —
    // so the row is oracle-checked; the randomized estimation regime
    // past k stays spec-bounded (SketchesSpec)
    "quantile_sketch" -> ((s, dir) =>
      graft.ops.Sketches.groupQuantiles(t(s, dir, "documents"),
        Seq("source"), col("n_chars"), Seq(0.1, 0.5, 0.9), k = 1024)
        .orderBy("source")),

    // C4-style corpus-wide exact line dedup (single-line docs here, so
    // it degenerates to whole-doc exact dedup keeping first occurrence
    // — the oracle proves the positional machinery either way)
    "line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(t(s, dir, "documents")).orderBy("doc_id")),

    "gopher_repetition" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents")).orderBy("doc_id")),

    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.bagFingerprint(t(s, dir, "documents")).orderBy("doc_id")),

    // Order-sensitive rolling fingerprint, oracle-checked against a
    // from-scratch SQL fold (see oracles)
    "doc_fingerprint_roll" -> ((s, dir) =>
      TextAnalysis.rollingFingerprint(t(s, dir, "documents")).orderBy("doc_id")),

    "multimodal_meta" -> ((s, dir) =>
      Multimodal.meta(t(s, dir, "documents")).orderBy("doc_id")),

    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(s, t(s, dir, "documents").where(col("doc_id") < 100)).toDF()
        .orderBy("doc_id", "frame_idx")),

    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeStub(s, t(s, dir, "documents")).toDF()
        .orderBy("doc_id")),

    "multimodal_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(s, t(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("n_bytes"),
          dec6(element_at(col("feature"), 2)).as("mean_byte"),
          element_at(col("feature"), 3).cast("long").as("n_spaces"))
        .orderBy("doc_id")),

    // End-to-end corpus cleaning: quality gate → exact dedup → near-dup
    // clustering → keep cluster canonicals. The survivors are what a
    // training run would actually consume.
    "pipeline_clean_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis.qualityScore(docs)
        .where(col("n_words") >= 10 && col("stop_ratio") < lit(0.5))
        .select("doc_id")
      val kept = docs.join(quality, "doc_id")
      val exactKeep = Dedup.exact(kept).where(col("keep")).select("doc_id")
      // survivors feeds shingle candidates AND the label seed — cache the
      // quality+dedup gate result instead of re-running its self-joins.
      val survivors = kept.join(exactKeep, "doc_id").cache()
      // Jaccard of a doc pair depends only on the two shingle sets, so the
      // survivor pair set IS the corpus pair set restricted to survivors —
      // reuse the shared cached pairs instead of a second shingle self-join.
      val sids = survivors.select("doc_id")
      val pairs = jacPairs(s, dir)
        .join(sids.withColumnRenamed("doc_id", "id_1"), Seq("id_1"), "left_semi")
        .join(sids.withColumnRenamed("doc_id", "id_2"), Seq("id_2"), "left_semi")
      val clusters = Dedup.clusters(survivors, pairs)
      clusters.where(col("doc_id") === col("cluster"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    "feature_eval" -> ((s, dir) =>
      FeatureEval.permutationImportance(
        t(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0),
        Seq("l_quantity", "l_discount"), "l_extendedprice")
        .select(col("feature"), col("importance"))
        .orderBy("feature")),

    // Benchmark decontamination: docs with doc_id % 50 = 0 act as the
    // held-out eval set; every other doc reports its shared-shingle rate.
    "contamination_check" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Contamination.ngramOverlap(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), 0.2)
        .orderBy("doc_id")
    }),

    // Span-level decontamination: exact positions of eval-set passages
    // inside the training corpus (same split as contamination_check).
    "contamination_spans" -> ((s, dir) =>
      contamSpans(s, dir).orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // ...and the cleaning action: the corpus with those passages excised
    "contamination_clean" -> ((s, dir) =>
      Dedup.removeContamination(
        t(s, dir, "documents").where(col("doc_id") % 50 =!= 0),
        contamSpans(s, dir))
        .orderBy("doc_id")),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionRatio(t(s, dir, "documents")).orderBy("doc_id")),

    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateShare(t(s, dir, "documents"), 3, 5).orderBy("doc_id")),

    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkWords(t(s, dir, "documents"), 20, 10)
        .orderBy("doc_id", "chunk_id")),

    // Deterministic per-source mixing sample: the N docs per source with
    // the smallest md5(doc_id) — reproducible across engines and runs,
    // one shuffle, the data-mixing "take N from each source" step.
    "corpus_mix" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 100)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    }),

    "seq_pack" -> ((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), 2048L, "source", "doc_id")
        .select("doc_id", "source", "n_tokens", "bin")
        .orderBy("doc_id")),

    "tfidf_topk" -> ((s, dir) =>
      graft.text.Search.tfidfTopK(t(s, dir, "documents"), 3)
        .orderBy("doc_id", "word")),

    // LM-quality proxy: mean corpus-unigram log-prob per doc
    "text_logprob" -> ((s, dir) =>
      graft.text.Search.unigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), dec6(col("logprob")).as("logprob"))
        .orderBy("doc_id")),

    // ...and the bigram upgrade: transition-level fluency
    "text_logprob2" -> ((s, dir) =>
      graft.text.Search.bigramLogProb(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"), dec6(col("logprob")).as("logprob"))
        .orderBy("doc_id")),

    // ...and the trigram stupid-backoff gate: candidate docs scored
    // under an LM fit on the ENGLISH subset (backoff paths live for
    // the other languages)
    "text_logprob3" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Search.trigramLogProb(docs, docs.where(col("lang") === "en"))
        .select(col("doc_id"), col("n_trigrams"), dec6(col("logprob")).as("logprob"))
        .orderBy("doc_id")
    }),

    "bm25_search" -> ((s, dir) =>
      graft.text.Search.bm25(t(s, dir, "documents"), Seq("data", "spark", "index"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)),

    // content-defined chunking: shift-robust chunk boundaries, oracle-
    // checked against a from-scratch recursive-CTE recompute
    "cdc_chunks" -> ((s, dir) =>
      TextAnalysis.cdcChunks(s, t(s, dir, "documents")).toDF()
        .orderBy("doc_id", "chunk_idx")),

    // ...and the shifted-duplicate pairs those chunks exist to catch
    // (oracle-checked end to end over the same recompute)
    "cdc_dedup" -> ((s, dir) =>
      Dedup.cdcNearDup(t(s, dir, "documents"), 0.5)
        .select(col("id_1"), col("id_2"), col("common"), col("sz_1"), col("sz_2"),
          dec6(col("containment")).as("containment"))
        .orderBy("id_1", "id_2")),

    // temperature-flattened language mixing (α=0.3 over the skewed
    // lang distribution — en is 44% of the corpus, ~26% of the sample)
    "corpus_mix_temperature" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMix(t(s, dir, "documents"), "lang", 300L, 0.3)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")),

    // weak-label quality classifier scoring the whole corpus
    "quality_classifier" -> ((s, dir) =>
      graft.ml.QualityClassifier.weakLabelScore(
        t(s, dir, "documents"), col("lang") === "en", numFeatures = 1 << 15)
        .orderBy("doc_id")),

    // cluster-balanced sample off the shared coarse-quantizer cells
    "diversity_sample" -> ((s, dir) =>
      Similarity.diversitySample(t(s, dir, "embeddings"), 20,
        preAssigned = Some(embCells(s, dir)))
        .select("vec_id", "cell", "pick")
        .orderBy("vec_id")),

    // exact heavy hitters: frequent-items sketch prunes the shuffle,
    // exact verify pass keeps the result oracle-checkable
    "heavy_tokens" -> ((s, dir) =>
      graft.ops.HeavyHitters.frequentTokens(t(s, dir, "documents"), 100L)
        .orderBy("word")),

    // BPE tokenizer: the trained merge table itself...
    "bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir).zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
    }),

    // ...and the corpus encoded with it (greedy-by-rank segmentation;
    // `segmented` spells the token boundaries)
    "bpe_encode" -> ((s, dir) =>
      graft.text.Bpe.encode(s, t(s, dir, "documents"), bpeMerges(s, dir)).toDF()
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          concat_ws("|", col("tokens")).as("segmented"))
        .orderBy("doc_id")),

    // ...and as token IDS through the vocab table — what actually ships
    // to a trainer
    "bpe_encode_ids" -> ((s, dir) => {
      val (merges, ids) = bpeArtifacts(s, dir)
      // The driver's compare sorts/hashes result columns, which an
      // array<int> column breaks — ship the id stream stringified,
      // exactly like bpe_encode.segmented.
      graft.text.Bpe.encodeIds(s, t(s, dir, "documents"), merges, ids).toDF()
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("ids").cast("array<string>"), "|").as("ids_str"))
        .orderBy("doc_id")
    })
  )

  // -------------------------------------------------------------------

  /** Positional-gram CTEs (gram 5): `w` (doc_id, ws) and `g`
    * (doc_id, pos, gram).
    */
  private val gramCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (SELECT doc_id, ws, CAST(unnest(range(1, greatest(len(ws) - 5 + 1, 0) + 1)) AS BIGINT) AS pos FROM w),
      |g AS (SELECT doc_id, pos, array_to_string(list_slice(ws, pos, pos + 4), ' ') AS gram FROM g0)""".stripMargin

  /** Diagonal run-merge over a pair CTE `p(doc_a, doc_b, p1, p2)` →
    * `spans` (minWords 8).
    */
  private val runMergeCtes =
    """r AS (SELECT doc_a, doc_b, p1, p2, p1 - p2 AS d,
      |        p1 - row_number() OVER (PARTITION BY doc_a, doc_b, p1 - p2 ORDER BY p1) AS run
      |      FROM p),
      |spans AS (SELECT doc_a, doc_b, min(p1) AS start_a, min(p2) AS start_b,
      |    CAST(count(*) + 4 AS BIGINT) AS span_words
      |  FROM r GROUP BY doc_a, doc_b, d, run
      |  HAVING count(*) + 4 >= 8)""".stripMargin

  /** Duplicate-span CTEs (gram 5, minWords 8) ending in `spans`;
    * also defines `w` (doc_id, ws) for downstream word-level CTEs.
    */
  private val spanCtes =
    s"""$gramCtes,
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS p1, b.pos AS p2
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |$runMergeCtes""".stripMargin

  private def shingleCtes: String = shingleCtesOf("documents")

  private def shingleCtesOf(src: String) =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws)-2, 0)+1),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
      |inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
      |p AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS common,
      |        any_value(a.sz) AS sz_1, any_value(b.sz) AS sz_2
      |      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  private val cosCtes =
    """n AS (SELECT vec_id, embedding,
      |        sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
      |      FROM embeddings),
      |pc AS (SELECT a.vec_id AS vec_id, b.vec_id AS nid,
      |        list_sum(list_transform(range(1, len(a.embedding)+1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / a.nrm / b.nrm AS cos
      |       FROM n a, n b WHERE a.vec_id <> b.vec_id)""".stripMargin

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** From-scratch SQL recompute of BPE TRAINING and ENCODING — the
    * rows-only-by-assumption family turned oracle-checked. The merge
    * loop unrolls into 64 generated CTE steps (pair counts → argmax
    * with the count-desc/left/right tie-break → one left-to-right
    * merge pass); the merge pass itself is a `list_reduce` string fold
    * whose accumulator carries the output segmentation joined by an
    * out-of-alphabet separator (folding against the OUTPUT's last
    * symbol resolves overlap runs exactly like the left-to-right
    * scan: "aaa" + (a,a) → [aa, a]). Encoding unrolls the
    * lowest-rank-first fixpoint to `bpeEncodeIters` steps (≥ max word
    * length − 1, corpus words are ≤ 8 chars). Every CTE is
    * MATERIALIZED — DuckDB inlines CTEs by default and each step
    * references its predecessor twice, which would make the expansion
    * exponential in merge count.
    */
  private val bpeMergeSteps = 64
  private val bpeEncodeIters = 12
  private val bpeSep = "chr(30)"

  private def bpeOraclePrefix: String = {
    val ctes = Seq.newBuilder[String]
    ctes += """wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      | WHERE length(word) > 0 GROUP BY word)""".stripMargin
    ctes += """seg0 AS MATERIALIZED (SELECT word, cnt,
      |  list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      | FROM (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 65536))""".stripMargin
    (0 until bpeMergeSteps).foreach { k =>
      ctes += s"""p$k AS MATERIALIZED (SELECT syms[j] AS l, syms[j+1] AS r, sum(cnt) AS pc
        | FROM seg$k, unnest(range(1, len(syms))) AS t(j) GROUP BY 1, 2)""".stripMargin
      ctes += s"""m$k AS MATERIALIZED (SELECT l, r FROM p$k ORDER BY pc DESC, l, r LIMIT 1)"""
      ctes += s"""seg${k + 1} AS MATERIALIZED (SELECT word, cnt,
        |  string_split(list_reduce(syms, (acc, x) -> CASE
        |    WHEN x = m$k.r AND (acc = m$k.l OR ends_with(acc, $bpeSep || m$k.l))
        |    THEN acc[1:length(acc)-length(m$k.l)] || m$k.l || m$k.r
        |    ELSE acc || $bpeSep || x END), $bpeSep) AS syms
        | FROM seg$k, m$k)""".stripMargin
    }
    ctes += "mg AS MATERIALIZED (" +
      (0 until bpeMergeSteps).map(k => s"SELECT $k AS rank, l, r FROM m$k")
        .mkString(" UNION ALL ") + ")"
    ctes.result().mkString(",\n")
  }

  /** The encode continuation: per distinct word, `bpeEncodeIters`
    * unrolled iterations of "merge the lowest-rank adjacent pair".
    */
  private def bpeEncodeCtes: String = {
    val ctes = Seq.newBuilder[String]
    ctes += """w0 AS MATERIALIZED (SELECT word,
      |  list_transform(range(1, length(word) + 1), i -> word[i]) AS syms FROM wc)""".stripMargin
    (0 until bpeEncodeIters).foreach { k =>
      ctes += s"""c$k AS MATERIALIZED (SELECT word, l, r, rank,
        |   row_number() OVER (PARTITION BY word ORDER BY rank) AS rn
        | FROM (SELECT w.word, w.syms, s.a, s.b FROM w$k w,
        |         unnest(range(1, len(syms))) AS t(j),
        |         LATERAL (SELECT w.syms[j] AS a, w.syms[j+1] AS b) s) q
        | JOIN mg ON mg.l = q.a AND mg.r = q.b)""".stripMargin
      ctes += s"""w${k + 1} AS MATERIALIZED (SELECT w.word,
        |  CASE WHEN b.word IS NULL THEN w.syms ELSE
        |    string_split(list_reduce(w.syms, (acc, x) -> CASE
        |      WHEN x = b.r AND (acc = b.l OR ends_with(acc, $bpeSep || b.l))
        |      THEN acc[1:length(acc)-length(b.l)] || b.l || b.r
        |      ELSE acc || $bpeSep || x END), $bpeSep) END AS syms
        | FROM w$k w LEFT JOIN (SELECT word, l, r FROM c$k WHERE rn = 1) b USING (word))""".stripMargin
    }
    ctes += s"enc AS MATERIALIZED (SELECT word, syms FROM w$bpeEncodeIters)"
    ctes += """dw AS MATERIALIZED (SELECT doc_id, i, ws[i] AS word FROM (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
      |  FROM documents), unnest(range(1, len(ws) + 1)) AS t(i))""".stripMargin
    ctes.result().mkString(",\n")
  }

  /** Shared DSIR recompute: hashed unigram+bigram buckets (md5 first 8
    * hex digits mod 8192 — the exact hash `Dsir.bucketOf` uses), add-one
    * smoothed target (lang='en') and raw bucket models, per-doc
    * log-ratio sum. Ends with the `w` CTE open for the consumer query.
    */
  private val dsirWeightsSql =
    """WITH ws AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
      |feats AS (SELECT doc_id, lang,
      |  unnest(list_concat(w,
      |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))) AS f
      |FROM ws),
      |fb AS (SELECT doc_id, lang, ('0x'||substr(md5(f), 1, 8))::BIGINT % 8192 AS b FROM feats),
      |tc AS (SELECT b, count(*) AS cnt FROM fb WHERE lang = 'en' GROUP BY b),
      |rc AS (SELECT b, count(*) AS cnt FROM fb GROUP BY b),
      |ratio AS (SELECT coalesce(tc.b, rc.b) AS b,
      |  ln((coalesce(tc.cnt, 0) + 1.0) / ((SELECT sum(cnt) FROM tc) + 8192.0)) -
      |  ln((coalesce(rc.cnt, 0) + 1.0) / ((SELECT sum(cnt) FROM rc) + 8192.0)) AS logratio
      |FROM tc FULL OUTER JOIN rc ON tc.b = rc.b),
      |w AS (SELECT doc_id, count(*) AS n_feats, round(sum(logratio), 6) AS logweight
      |FROM fb JOIN ratio USING (b) GROUP BY doc_id)""".stripMargin

  private val qualityWords = "string_split(lower(text), ' ')"

  /** CDC chunking recomputed from scratch for the oracle, at the
    * harness defaults (window 3, avgSize 16, minSize 4, maxSize 64).
    * The window hash at a position is state-FREE (an FNV fold of the
    * last 3 word hashes), so candidate cut positions precompute as
    * `bpos`; only cut SELECTION is sequential (a candidate within
    * minSize of the previous cut is skipped, shifting later chunks),
    * and that chain is the recursive CTE: each step extends to the
    * next candidate past minSize, clamped by maxSize and end-of-doc.
    * Yields `chunks(doc, idx, s, e)` + `wh(doc, whs, n)`.
    */
  private def cdcCtes: String = {
    def fnvStep(acc: String, word: String) =
      s"((xor($acc, $word) * 1099511628211) % $M64)"
    val winHash = Seq(2, 1, 0).foldLeft("CAST(14695981039346656037 AS HUGEINT)") {
      (acc, off) =>
        fnvStep(acc, if (off == 0) "whs[CAST(i AS INT)]" else s"whs[CAST(i AS INT)-$off]")
    }
    s"""docs0 AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc,
       |         [w FOR w IN string_split(lower(text), ' ') IF w <> ''] AS ws
       |  FROM documents
       |),
       |wh AS (SELECT doc, [${fnvSql("w")} FOR w IN ws] AS whs, len(ws) AS n FROM docs0),
       |bpos AS (
       |  SELECT doc, i - 1 AS i
       |  FROM wh, LATERAL (SELECT unnest(generate_series(3, CAST(n AS BIGINT))) AS i) g
       |  WHERE ($winHash) % 16 = 0
       |),
       |chunks AS (
       |  SELECT doc, 0 AS idx, CAST(0 AS BIGINT) AS s,
       |    LEAST(coalesce((SELECT min(b.i) FROM bpos b WHERE b.doc = w.doc AND b.i >= 3), 1000000000),
       |          63, n - 1) AS e
       |  FROM wh w WHERE n > 0
       |  UNION ALL
       |  SELECT c.doc, idx + 1, e + 1,
       |    LEAST(coalesce((SELECT min(b.i) FROM bpos b WHERE b.doc = c.doc AND b.i >= e + 1 + 3), 1000000000),
       |          e + 64, w.n - 1)
       |  FROM chunks c JOIN wh w USING (doc) WHERE e < w.n - 1
       |)""".stripMargin
  }

  /** ×31-FNV fold of one chunk's word hashes (`s`..`e`, 0-based). */
  private def cdcChunkFold: String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT), whs[CAST(s AS INT)+1:CAST(e AS INT)+1]),
       |              (a, f) -> (a * 31 + f) % $M64)""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS h,
        | doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH $shingleCtes
         |SELECT id_1, id_2, CAST(round(common::DOUBLE / (sz_1 + sz_2 - common), 6) AS DECIMAL(10,6)) AS jac
         |FROM p WHERE common::DOUBLE / (sz_1 + sz_2 - common) >= 0.5 ORDER BY id_1, id_2""".stripMargin,

    // LSH is an exact-result accelerator on this corpus: every true
    // pair sits at jac >= 0.8, where the 8-band/4-row catch probability
    // is ~1 and the seeded signatures are deterministic — so the exact
    // Jaccard SQL IS the minhash oracle (verified identical at sf0.01
    // and sf0.1).
    "dedup_minhash" ->
      s"""WITH $shingleCtes
         |SELECT id_1, id_2, CAST(round(common::DOUBLE / (sz_1 + sz_2 - common), 6) AS DECIMAL(10,6)) AS jac
         |FROM p WHERE common::DOUBLE / (sz_1 + sz_2 - common) >= 0.5 ORDER BY id_1, id_2""".stripMargin,

    "dedup_minhash_inc" ->
      s"""WITH $shingleCtes
         |SELECT id_1, id_2, CAST(round(common::DOUBLE / (sz_1 + sz_2 - common), 6) AS DECIMAL(10,6)) AS jac
         |FROM p WHERE common::DOUBLE / (sz_1 + sz_2 - common) >= 0.5
         |  AND (id_1 > 250 OR id_2 > 250) ORDER BY id_1, id_2""".stripMargin,

    "dedup_spans" ->
      s"""WITH $spanCtes
         |SELECT doc_a, doc_b, start_a, start_b, span_words FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,

    "dedup_spans_clean" ->
      s"""WITH $spanCtes,
         |cov AS (SELECT DISTINCT doc_b AS did,
         |          CAST(unnest(range(start_b, start_b + span_words)) AS BIGINT) AS pos FROM spans),
         |wp AS (SELECT doc_id AS did, CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos, ws FROM w),
         |wp2 AS (SELECT did, pos, ws[pos] AS word FROM wp),
         |kept AS (SELECT wp2.did, wp2.pos, wp2.word FROM wp2
         |         LEFT JOIN cov ON cov.did = wp2.did AND cov.pos = wp2.pos
         |         WHERE cov.did IS NULL),
         |reasm AS (SELECT did, string_agg(word, ' ' ORDER BY pos) AS text FROM kept GROUP BY did)
         |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(reasm.text, '') END AS text
         |FROM documents d LEFT JOIN reasm ON reasm.did = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCtes,
         |dpairs AS (SELECT id_1, id_2 FROM p WHERE common::DOUBLE / (sz_1 + sz_2 - common) >= 0.5),
         |edges AS (SELECT id_1 AS a, id_2 AS b FROM dpairs UNION SELECT id_2, id_1 FROM dpairs),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "pipeline_clean_corpus" ->
      s"""WITH RECURSIVE q AS (SELECT doc_id FROM (
         |    SELECT doc_id, len($qualityWords) AS n_words,
         |      CAST(round(len(list_filter($qualityWords, x -> list_contains(${sqlList(TextFunctions.Stopwords)}, x)))::DOUBLE / len($qualityWords)::DOUBLE, 6) AS DECIMAL(10,6)) AS stop_ratio
         |    FROM documents) WHERE n_words >= 10 AND stop_ratio < 0.5),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)),
         |ek AS (SELECT doc_id FROM (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM kept) WHERE keep),
         |surv AS (SELECT k.doc_id, k.text FROM kept k JOIN ek USING (doc_id)),
         |${shingleCtesOf("surv")},
         |dpairs AS (SELECT id_1, id_2 FROM p WHERE common::DOUBLE / (sz_1 + sz_2 - common) >= 0.5),
         |edges AS (SELECT id_1 AS a, id_2 AS b FROM dpairs UNION SELECT id_2, id_1 FROM dpairs),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM surv
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id FROM (SELECT a, min(b) AS cluster FROM reach GROUP BY a)
         |WHERE a = cluster ORDER BY doc_id""".stripMargin,

    "dedup_embed" ->
      s"""WITH $cosCtes,
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC) AS rk FROM pc)
         |SELECT vec_id, nid AS best_id, CAST(round(cos, 6) AS DECIMAL(10,6)) AS cos
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "knn_brute" ->
      s"""WITH $cosCtes,
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC) AS rk
         |      FROM pc WHERE vec_id < 100)
         |SELECT vec_id, rk AS rank, nid AS neighbor_id, CAST(round(cos, 6) AS DECIMAL(10,6)) AS cos
         |FROM r WHERE rk <= 3 ORDER BY vec_id, rank""".stripMargin,

    "ngram_freq" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws)-1, 0)+1),
        |         i -> ws[i] || ' ' || ws[i+1])) AS s FROM w),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh)
        |SELECT g, count(*) AS cnt FROM inv GROUP BY g
        |ORDER BY cnt DESC, g ASC LIMIT 20""".stripMargin,

    "lang_id" -> {
      val hits = TextAnalysis.LangProfiles.map { case (l, prof) =>
        s"len(list_filter($qualityWords, x -> list_contains(${sqlList(prof)}, x))) AS hits_$l"
      }.mkString(", ")
      val langs = TextAnalysis.LangProfiles.map(_._1)
      val cases = langs.map(l => s"WHEN hits_$l = g AND g > 0 THEN '$l'").mkString(" ")
      s"""WITH s AS (SELECT doc_id, $hits FROM documents),
         |g AS (SELECT *, greatest(${langs.map("hits_" + _).mkString(", ")}) AS g FROM s)
         |SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang, g AS best_hits
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars, len($qualityWords) AS n_words,
         | CAST(round(len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE / length(text)::DOUBLE, 6) AS DECIMAL(10,6)) AS punct_ratio,
         | CAST(round(len(list_filter($qualityWords, x -> list_contains(${sqlList(TextFunctions.Stopwords)}, x)))::DOUBLE / len($qualityWords)::DOUBLE, 6) AS DECIMAL(10,6)) AS stop_ratio,
         | CAST(round((length(text) - len($qualityWords) + 1)::DOUBLE / len($qualityWords)::DOUBLE, 6) AS DECIMAL(10,6)) AS mean_word_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "quality_filter" ->
      """WITH n AS (SELECT doc_id, source,
        |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words FROM documents),
        |t AS (SELECT source, quantile_cont(n_words, 0.5) AS thr FROM n GROUP BY source)
        |SELECT doc_id, source, n_words, CAST(round(thr, 6) AS DECIMAL(10,6)) AS thr
        |FROM n JOIN t USING (source) WHERE n_words >= thr ORDER BY doc_id""".stripMargin,

    "quality_gopher" -> {
      val stops = sqlList(Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      s"""WITH s AS (SELECT doc_id, text, $qualityWords AS ws,
         |  string_split(text, chr(10)) AS ls FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  (length(text) - len(ws) + 1)::DOUBLE / len(ws)::DOUBLE AS mwl,
         |  len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(ws)::DOUBLE AS ar,
         |  len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE / len(ws)::DOUBLE AS sr,
         |  len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE / len(ls)::DOUBLE AS br,
         |  len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.\\s*$$')))::DOUBLE / len(ls)::DOUBLE AS er,
         |  CAST(len(list_filter($stops, s -> list_contains(ws, s))) AS BIGINT) AS stop_hits
         |FROM s)
         |SELECT doc_id, n_words,
         |  CAST(round(mwl, 6) AS DECIMAL(10,6)) AS mean_word_len,
         |  CAST(round(ar, 6) AS DECIMAL(10,6)) AS alpha_ratio,
         |  CAST(round(sr, 6) AS DECIMAL(10,6)) AS symbol_ratio,
         |  CAST(round(br, 6) AS DECIMAL(10,6)) AS bullet_ratio,
         |  CAST(round(er, 6) AS DECIMAL(10,6)) AS ellipsis_ratio,
         |  stop_hits,
         |  CASE WHEN n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
         |    AND ar > 0.8 AND sr < 0.1 AND br <= 0.9 AND er <= 0.3
         |    AND stop_hits >= 1 THEN 1 ELSE 0 END AS passes
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "dsir_weights" -> (dsirWeightsSql + "\nSELECT doc_id, n_feats, logweight FROM w ORDER BY doc_id"),

    "dsir_sample" -> (dsirWeightsSql +
      """,
        |g AS (SELECT doc_id, logweight,
        |  round(logweight + -ln(-ln(((('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0))), 6) AS key
        |FROM w)
        |SELECT doc_id, logweight, key FROM g ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),

    "token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^ a-zA-Z0-9]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_scrub" ->
      """SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pii_signals" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_digit_runs,
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g'),
        |   'https?://[^ ]+', '<URL>', 'g'),
        |   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "html_extract" -> (
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title> Doc ' || source || ' #' || CAST(doc_id AS VARCHAR) ||
        |  ' </title><style>p { color: red }</style></head><body>' ||
        |  '<!-- hidden --><script>var x = 1 < 2;</script><h1>' || source ||
        |  '</h1><p>' || text ||
        |  '</p><p>&lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;lt; A&nbsp;B</p>' ||
        |  '<a href="l1">x</a>' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '<A HREF=''l2''>y</A>' ELSE '' END ||
        |  '</body></html>' AS html
        |FROM documents)
        |""".stripMargin +
      graft.text.WebCuration.htmlExtractSql("h") + "\nORDER BY doc_id"),

    "unicode_clean" -> (
      """WITH u AS (SELECT doc_id,
        |  text || ' e' || chr(769) || 'clair' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' caf' || chr(195) || chr(169) ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(1) ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END AS text
        |FROM documents)
        |""".stripMargin +
      graft.text.WebCuration.unicodeCleanSql("u") + "\nORDER BY doc_id"),

    "url_normalize" -> (
      s"""WITH u AS (SELECT doc_id,
         |  'HTTPS://WWW.Example' || CAST(doc_id % 3 AS VARCHAR) ||
         |  '.COM:443/Path/' || CAST(doc_id % 10 AS VARCHAR) ||
         |  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
         |       ELSE '?b=2&utm_campaign=x&a=1#frag' END AS url
         |FROM documents),
         |c AS (SELECT doc_id, url, ${graft.text.WebCuration.urlNormalizeSql("url")} AS canon FROM u)
         |SELECT doc_id, url, canon,
         |  doc_id = min(doc_id) OVER (PARTITION BY canon) AS keep
         |FROM c ORDER BY doc_id""".stripMargin),

    "source_overlap" ->
      """WITH tok AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
        |pair AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |         FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
        |         GROUP BY a.source, b.source)
        |SELECT ca.source AS src_a, cb.source AS src_b, ca.n AS n_a, cb.n AS n_b,
        |  COALESCE(p.inter, 0) AS inter,
        |  ca.n + cb.n - COALESCE(p.inter, 0) AS uni,
        |  CAST(round(CAST(COALESCE(p.inter, 0) AS DOUBLE) /
        |    (ca.n + cb.n - COALESCE(p.inter, 0)), 6) AS DECIMAL(10,6)) AS jaccard
        |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
        |LEFT JOIN pair p ON p.src_a = ca.source AND p.src_b = cb.source
        |ORDER BY src_a, src_b""".stripMargin,

    "quantile_sketch" ->
      """SELECT source, COUNT(*) AS n,
        | CAST(quantile_disc(n_chars, 0.1) AS DOUBLE) AS q_10,
        | CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS q_50,
        | CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) AS q_90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "corpus_report" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
        | CAST(round(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(10,6)) AS avg_words,
        | COUNT(DISTINCT lang) AS n_langs,
        | MIN(length(text)) AS min_chars, MAX(length(text)) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |  round(ln(CAST(n_chars AS DOUBLE)) + -ln(-ln(((('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0))), 6) AS key
        |FROM documents WHERE n_chars > 0
        |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    "bpe_merges" -> (s"WITH $bpeOraclePrefix\n" +
      (0 until bpeMergeSteps).map(k =>
        s"""SELECT $k AS rank, l AS "left", r AS "right" FROM m$k""")
        .mkString(" UNION ALL ") + "\nORDER BY rank"),

    "bpe_encode" -> (s"WITH $bpeOraclePrefix,\n$bpeEncodeCtes\n" +
      """SELECT d.doc_id,
        |  CAST(coalesce(j.n_words, 0) AS INT) AS n_words,
        |  CAST(coalesce(j.n_tokens, 0) AS INT) AS n_tokens,
        |  coalesce(j.segmented, '') AS segmented
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_words, sum(len(e.syms)) AS n_tokens,
        |    string_agg(array_to_string(e.syms, '|'), '|' ORDER BY i) AS segmented
        |  FROM dw JOIN enc e USING (word) GROUP BY doc_id) j USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "bpe_encode_ids" -> (s"WITH $bpeOraclePrefix,\n$bpeEncodeCtes,\n" +
      """alpha AS MATERIALIZED (SELECT c, row_number() OVER (ORDER BY c) - 1 AS tid FROM (
        |  SELECT DISTINCT unnest(list_transform(range(1, length(word) + 1), i -> word[i])) AS c
        |  FROM seg0)),
        |voc AS MATERIALIZED (
        |  SELECT c AS tok, tid FROM alpha
        |  UNION ALL
        |  SELECT l || r AS tok, (SELECT count(*) FROM alpha) + rank AS tid FROM mg),
        |toks AS MATERIALIZED (SELECT dw.doc_id, dw.i, t.k, e.syms[t.k] AS tok
        | FROM dw JOIN enc e USING (word), unnest(range(1, len(e.syms) + 1)) AS t(k))
        |SELECT d.doc_id, CAST(coalesce(j.n_tokens, 0) AS INT) AS n_tokens,
        |  coalesce(j.ids_str, '') AS ids_str
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    string_agg(CAST(coalesce(v.tid, -1) AS VARCHAR), '|' ORDER BY i, k) AS ids_str
        |  FROM toks LEFT JOIN voc v ON v.tok = toks.tok GROUP BY doc_id) j USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "gopher_repetition" -> {
      // one gram CTE pair per n, generated — the SAME formulas as the
      // Spark plan, recomputed from scratch
      val gramCtes = (2 to 10).map { n =>
        s"""g$n AS (SELECT doc_id, chars, g, count(*) AS c FROM (
           |  SELECT doc_id, chars,
           |    array_to_string(list_slice(ws, i, i + $n - 1), ' ') AS g
           |  FROM (SELECT doc_id, chars, ws,
           |          CAST(unnest(range(1, greatest(len(ws) - $n + 1, 0) + 1)) AS BIGINT) AS i
           |        FROM b)) GROUP BY doc_id, chars, g),
           |gn$n AS (SELECT doc_id,
           |  max(c * length(g))::DOUBLE / any_value(chars) AS top,
           |  sum(CASE WHEN c > 1 THEN (c - 1) * length(g) ELSE 0 END)::DOUBLE / any_value(chars) AS dup
           |FROM g$n GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      val topSel = (2 to 4).map(n =>
        s"CAST(round(coalesce(gn$n.top, 0), 6) AS DECIMAL(10,6)) AS top_${n}gram_char_frac")
      val dupSel = (5 to 10).map(n =>
        s"CAST(round(coalesce(gn$n.dup, 0), 6) AS DECIMAL(10,6)) AS dup_${n}gram_char_frac")
      val joins = (2 to 10).map(n => s"LEFT JOIN gn$n ON gn$n.doc_id = d.doc_id")
        .mkString("\n")
      s"""WITH b AS (SELECT doc_id, text, length(text)::DOUBLE AS chars,
         |           string_split(lower(text), ' ') AS ws FROM documents),
         |lines0 AS (SELECT doc_id, chars, trim(lower(l)) AS norm, length(l)::DOUBLE AS llen
         |           FROM (SELECT doc_id, chars,
         |                   unnest(string_split(text, chr(10))) AS l FROM b)),
         |lg AS (SELECT doc_id, chars, norm, count(*) AS c, sum(llen) AS sl, min(llen) AS ml
         |       FROM lines0 WHERE norm <> '' GROUP BY doc_id, chars, norm),
         |lf AS (SELECT doc_id,
         |  CAST(round(sum(c - 1)::DOUBLE / sum(c)::DOUBLE, 6) AS DECIMAL(10,6)) AS dup_line_frac,
         |  CAST(round(sum(sl - ml) / any_value(chars), 6) AS DECIMAL(10,6)) AS dup_line_char_frac
         |FROM lg GROUP BY doc_id),
         |$gramCtes
         |SELECT d.doc_id,
         |  coalesce(lf.dup_line_frac, CAST(0 AS DECIMAL(10,6))) AS dup_line_frac,
         |  coalesce(lf.dup_line_char_frac, CAST(0 AS DECIMAL(10,6))) AS dup_line_char_frac,
         |  ${(topSel ++ dupSel).mkString(",\n  ")}
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN lf ON lf.doc_id = d.doc_id
         |$joins
         |ORDER BY d.doc_id""".stripMargin
    },

    "line_dedup" ->
      """WITH l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        |l AS (SELECT doc_id, ls, CAST(unnest(range(1, len(ls) + 1)) AS BIGINT) AS i FROM l0),
        |e AS (SELECT doc_id, i - 1 AS pos, ls[i] AS line, trim(lower(ls[i])) AS norm,
        |             doc_id * 1000000000 + (i - 1) AS ord FROM l),
        |k AS (SELECT *, (norm = '' OR ord = min(ord) OVER (PARTITION BY norm)) AS keep FROM e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  array_to_string(list_transform(
        |    list_sort(list({'pos': pos, 'line': line}) FILTER (WHERE keep)),
        |    x -> x.line), chr(10)) AS text_clean
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id,
         | md5(array_to_string(list_sort(list_distinct(string_split(${TextFunctions.cleanedTextSql("text")}, ' '))), ' ')) AS bag_fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Rolling ×31-FNV word fold recomputed from scratch (nested
    // list_reduce: FNV per word, then acc*31+fnv mod 2^64). Word
    // splitting mirrors Java split(" "): trailing empties dropped
    // (rtrim), an all-space string yields NO words, the empty string
    // yields one empty word.
    "doc_fingerprint_roll" ->
      s"""WITH cleaned AS (SELECT doc_id, ${TextFunctions.cleanedTextSql("text")} AS t FROM documents),
         |words AS (
         |  SELECT doc_id,
         |    CASE WHEN t = '' THEN ['']
         |         WHEN rtrim(t, ' ') = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(rtrim(t, ' '), ' ') END AS ws
         |  FROM cleaned
         |),
         |rolled AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT), [${fnvSql("w")} FOR w IN ws]),
         |                (a, f) -> (a * 31 + f) % $M64) AS r_u
         |  FROM words
         |)
         |SELECT doc_id, ${toSigned64("r_u")} AS roll_fp
         |FROM rolled ORDER BY doc_id""".stripMargin,

    // Content-defined chunking recomputed from scratch (see cdcCtes:
    // state-free candidate positions + a recursive CTE for the
    // sequential cut selection), chunk hashes signed to the Spark longs.
    "cdc_chunks" ->
      s"""WITH RECURSIVE
         |$cdcCtes
         |SELECT c.doc AS doc_id, CAST(idx AS INT) AS chunk_idx, CAST(s + 1 AS INT) AS start_word,
         |  CAST(e - s + 1 AS INT) AS n_words,
         |  ${toSigned64(cdcChunkFold)} AS chunk_hash
         |FROM chunks c JOIN wh USING (doc)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // ...and the shifted-duplicate pairs over those chunks: distinct
    // (doc, chunk-hash) sets, the df>65536 hot-chunk guard mirrored
    // (vacuous at oracle scale, kept for faithfulness), containment =
    // common / min(size) at tau 0.5.
    "cdc_dedup" ->
      s"""WITH RECURSIVE
         |$cdcCtes,
         |inv AS (
         |  SELECT DISTINCT c.doc AS did, ${toSigned64(cdcChunkFold)} AS g
         |  FROM chunks c JOIN wh USING (doc)
         |),
         |guarded AS (
         |  SELECT * FROM inv WHERE g NOT IN (
         |    SELECT g FROM inv GROUP BY g HAVING count(*) > 65536)
         |),
         |sizes AS (SELECT did, count(*) AS sz FROM guarded GROUP BY did),
         |pairs AS (
         |  SELECT a.did AS id_1, b.did AS id_2, count(*) AS common
         |  FROM guarded a JOIN guarded b USING (g)
         |  WHERE a.did < b.did GROUP BY 1, 2
         |)
         |SELECT id_1, id_2, common, s1.sz AS sz_1, s2.sz AS sz_2,
         |  CAST(round(common::DOUBLE / least(s1.sz, s2.sz), 6) AS DECIMAL(10,6)) AS containment
         |FROM pairs
         |JOIN sizes s1 ON s1.did = id_1
         |JOIN sizes s2 ON s2.did = id_2
         |WHERE common::DOUBLE / least(s1.sz, s2.sz) >= 0.5
         |ORDER BY id_1, id_2""".stripMargin,

    // SimHash near-dup canon recomputed by BRUTE FORCE: the Spark
    // side's 4×16-bit banding is exact for hamming ≤ 3 (pigeonhole:
    // three differing bits cannot touch all four bands), so the banded
    // result must equal all-pairs bit_count(xor) <= 3 with the same
    // min-neighbor canonicalization.
    "dedup_simhash" ->
      s"""WITH ${Q.simhash64Ctes},
         |pairs AS (
         |  SELECT a.did AS id1, b.did AS id2
         |  FROM sh a JOIN sh b ON a.did < b.did
         |  WHERE bit_count(xor(a.sh_u, b.sh_u)) <= 3
         |),
         |nbr AS (SELECT id1 AS did, id2 AS mid FROM pairs UNION ALL SELECT id2 AS did, id1 AS mid FROM pairs)
         |SELECT s.did AS doc_id, coalesce(least(s.did, min(mid)), s.did) AS canon
         |FROM sh s LEFT JOIN nbr USING (did)
         |GROUP BY s.did ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | octet_length(encode(text)) % 640 AS width,
        | octet_length(encode(text)) % 480 AS height,
        | octet_length(encode(text)) // 1000 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, n, CAST(unnest(range(0, n // 1000 + 1)) AS INT) AS frame_idx FROM b)
        |SELECT doc_id, frame_idx, CAST(frame_idx AS BIGINT) * 1000 AS frame_off,
        |  CAST(least(1000, n - frame_idx * 1000) AS INT) AS frame_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_resize" ->
      """SELECT doc_id, octet_length(encode(text)) % 640 AS width,
        | octet_length(encode(text)) % 480 AS height,
        | 224 AS out_w, 224 AS out_h, CAST(224*224*3 AS BIGINT) AS out_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the stub features are deterministic per-row byte arithmetic, so
    // they ARE SQL-expressible: byte values recovered from the blob's
    // hex expansion (strpos is the portable hex-digit → int), spaces
    // counted as U+0020 chars (a 0x20 byte occurs ONLY as the space
    // character in UTF-8 — continuation/lead bytes all have the high
    // bit set)
    "multimodal_features" ->
      """WITH b AS (SELECT doc_id, text, lower(hex(encode(text))) AS hx,
        |             octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, n AS n_bytes,
        | CAST(round(coalesce(list_sum(
        |     [(strpos('0123456789abcdef', substr(hx, 2*i-1, 1))-1)*16
        |      + (strpos('0123456789abcdef', substr(hx, 2*i, 1))-1)
        |      FOR i IN range(1, n+1)])::DOUBLE / nullif(n, 0), 0), 6)
        |   AS DECIMAL(10,6)) AS mean_byte,
        | CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |FROM b ORDER BY doc_id""".stripMargin,

    "contamination_check" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws)-2, 0)+1),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM corp),
        |shared AS (SELECT i.doc_id, count(*) AS n_shared FROM inv i JOIN bench b USING (g) GROUP BY 1),
        |r AS (SELECT c.doc_id, CAST(len(c.s) AS INT) AS n_shingles,
        |        coalesce(sh2.n_shared, 0) AS n_shared,
        |        CASE WHEN len(c.s) = 0 THEN 0.0
        |             ELSE round(coalesce(sh2.n_shared, 0)::DOUBLE / len(c.s), 6) END AS share
        |      FROM corp c LEFT JOIN shared sh2 USING (doc_id))
        |SELECT doc_id, n_shingles, n_shared, share, share >= 0.2 AS contaminated
        |FROM r ORDER BY doc_id""".stripMargin,

    "contamination_spans" ->
      s"""WITH $gramCtes,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS p1, b.pos AS p2
         |      FROM g a JOIN g b ON a.gram = b.gram
         |      WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
         |$runMergeCtes
         |SELECT doc_a, doc_b, start_a, start_b, span_words FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,

    "contamination_clean" ->
      s"""WITH $gramCtes,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS p1, b.pos AS p2
         |      FROM g a JOIN g b ON a.gram = b.gram
         |      WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
         |$runMergeCtes,
         |cov AS (SELECT DISTINCT doc_a AS did,
         |          CAST(unnest(range(start_a, start_a + span_words)) AS BIGINT) AS pos FROM spans),
         |wp AS (SELECT doc_id AS did, CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos, ws
         |       FROM w WHERE doc_id % 50 <> 0),
         |wp2 AS (SELECT did, pos, ws[pos] AS word FROM wp),
         |kept AS (SELECT wp2.did, wp2.pos, wp2.word FROM wp2
         |         LEFT JOIN cov ON cov.did = wp2.did AND cov.pos = wp2.pos
         |         WHERE cov.did IS NULL),
         |reasm AS (SELECT did, string_agg(word, ' ' ORDER BY pos) AS text FROM kept GROUP BY did)
         |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(reasm.text, '') END AS text
         |FROM documents d LEFT JOIN reasm ON reasm.did = d.doc_id
         |WHERE d.doc_id % 50 <> 0
         |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |        count(*) AS n_distinct, max(cnt) AS top_cnt FROM c GROUP BY 1)
        |SELECT doc_id, n_words, n_distinct,
        | round(n_distinct::DOUBLE / n_words, 6) AS distinct_ratio,
        | round(top_cnt::DOUBLE / n_words, 6) AS top_share
        |FROM a ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws)-2, 0)+1),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM inv GROUP BY g) WHERE df > 5),
        |shared AS (SELECT i.doc_id, count(*) AS n_hot FROM inv i JOIN hot h USING (g) GROUP BY 1)
        |SELECT s.doc_id, CAST(len(s.s) AS INT) AS n_shingles,
        |  coalesce(sh2.n_hot, 0) AS n_hot,
        |  CASE WHEN len(s.s) = 0 THEN 0.0
        |       ELSE round(coalesce(sh2.n_hot, 0)::DOUBLE / len(s.s), 6) END AS hot_share
        |FROM sh s LEFT JOIN shared sh2 USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    "doc_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws)-1, 0)+1, 10)) AS start,
        |        CAST(unnest(range(0, greatest((len(ws)-1)//10, 0)+1)) AS INT) AS chunk_id
        |       FROM w)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(ws, start+1, start+20), ' ') AS chunk_text,
        |  CAST(len(list_slice(ws, start+1, start+20)) AS INT) AS n_words
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "corpus_mix" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 100 ORDER BY source, rk""".stripMargin,

    "seq_pack" ->
      """SELECT doc_id, source, n_tokens,
        | CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin
        |FROM (SELECT doc_id, source, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_logprob" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |c AS (SELECT word, CAST(count(*) AS DOUBLE) AS cnt FROM w GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total FROM c)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(round(avg(ln(cnt / total)), 6) AS DECIMAL(10,6)) AS logprob
        |FROM w JOIN c USING (word), t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_logprob3" ->
      """WITH lmw AS (SELECT string_split(lower(text), ' ') AS ws FROM documents WHERE lang = 'en'),
        |lmt AS (SELECT ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
        |        FROM lmw, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |n3 AS (SELECT a, b, c, CAST(count(*) AS DOUBLE) AS n3 FROM lmt GROUP BY 1, 2, 3),
        |n2ab AS (SELECT a, b, sum(n3) AS n2ab FROM n3 GROUP BY 1, 2),
        |n2bc AS (SELECT b AS b2, c AS c2, sum(n3) AS n2bc FROM n3 GROUP BY 1, 2),
        |n1 AS (SELECT w, CAST(count(*) AS DOUBLE) AS n1 FROM (
        |  SELECT unnest(ws) AS w FROM lmw) GROUP BY 1),
        |ntot AS (SELECT CAST(sum(n1) AS DOUBLE) AS ntot FROM n1),
        |dw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |dt AS (SELECT doc_id, ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
        |       FROM dw, unnest(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |sc AS (SELECT doc_id,
        |  CASE WHEN n3.n3 IS NOT NULL THEN ln(n3.n3 / n2ab.n2ab)
        |       WHEN n2bc.n2bc IS NOT NULL THEN ln(0.4 * n2bc.n2bc / nb.n1)
        |       WHEN nc.n1 IS NOT NULL THEN ln(0.16 * nc.n1 / ntot.ntot)
        |       ELSE ln(0.16 / ntot.ntot) END AS s
        |FROM dt
        |LEFT JOIN n3 USING (a, b, c)
        |LEFT JOIN n2ab USING (a, b)
        |LEFT JOIN n2bc ON n2bc.b2 = dt.b AND n2bc.c2 = dt.c
        |LEFT JOIN n1 nb ON nb.w = dt.b
        |LEFT JOIN n1 nc ON nc.w = dt.c
        |CROSS JOIN ntot)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  CAST(round(avg(s), 6) AS DECIMAL(10,6)) AS logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_logprob2" ->
      """WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |bi AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS w
        |       FROM wl, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
        |c2 AS (SELECT prev, w, CAST(count(*) AS DOUBLE) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
        |      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(round(avg(ln((c2 + 1.0) / (c1 + v))), 6) AS DECIMAL(10,6)) AS logprob
        |FROM bi JOIN c2 USING (prev, w) JOIN c1 USING (prev), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tfidf_topk" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT doc_id, tf.word AS word, round(tf * ln(n / df), 6) AS score
        |      FROM tf JOIN df USING (word), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rk FROM s)
        |SELECT doc_id, word, score FROM r WHERE rk <= 3 ORDER BY doc_id, word""".stripMargin,

    "bm25_search" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w
        |       WHERE word IN ('data', 'spark', 'index') GROUP BY 1, 2),
        |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        avg(CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) AS avgdl FROM documents),
        |s AS (SELECT tf.doc_id AS doc_id,
        |        ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |          (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS sc
        |      FROM tf JOIN df USING (word) JOIN lens ON lens.doc_id = tf.doc_id, st),
        |a AS (SELECT doc_id, round(sum(sc), 6) AS score FROM s GROUP BY 1)
        |SELECT * FROM a ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,

    "heavy_tokens" ->
      """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |SELECT word, count(*) AS cnt FROM w WHERE length(word) > 0
        |GROUP BY word HAVING count(*) >= 100 ORDER BY word""".stripMargin,

    "corpus_mix_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        |z AS (SELECT sum(pow(n, 0.3)) AS z FROM c),
        |q AS (SELECT lang, CAST(least(n, floor(300 * round(pow(n, 0.3) / z, 9))) AS BIGINT) AS quota FROM c, z),
        |r AS (SELECT doc_id, d.lang AS lang, quota, row_number() OVER (
        |        PARTITION BY d.lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents d JOIN q USING (lang))
        |SELECT doc_id, lang, rk FROM r WHERE rk <= quota ORDER BY lang, rk""".stripMargin
  )
}
