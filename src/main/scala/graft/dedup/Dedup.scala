package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication family for large-scale training-data
  * pipelines (SURVEY.md §2.4 #29-33).
  *
  * Candidate generation is always index-based (shingle inverted index,
  * LSH band buckets, simhash bands) — never an n² cross join — so each
  * operator is one shuffle per stage and survives corpus-scale inputs.
  */
object Dedup {

  /** Word n-gram shingle set of a text column (distinct, first-occurrence
    * order; empty when the text has fewer than n words).
    *
    * Compiled StaticInvoke kernel ([[graft.functions.DedupKernel]]): the
    * equivalent transform/sequence/element_at chain is interpreted per
    * element (higher-order functions don't codegen) and measured ~10s
    * for 260k shingles; the earlier Scala-UDF form boxed a row per call
    * and broke whole-stage codegen on every dedup candidate projection.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.DedupKernel.shinglesCol(text, n)

  /** 64-bit hashes of the distinct word n-gram shingles, WITHOUT
    * materializing the shingle strings: per-word FNV once, then an
    * FNV-fold per window. Candidate generation joins on the hash only,
    * so skipping the string build removes the dominant allocation in
    * the inverted-index pass (measured ~2× at 200k docs). Collisions
    * (~n²/2⁶⁴ per pair) are the same risk the hashed-string join
    * already carried. Codegen'd StaticInvoke kernel.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.DedupKernel.shingleHashesCol(text, n)

  /** Positional word n-gram hashes: element i is the FNV fold of words
    * [i, i+n). Unlike [[shingleHashes]] every occurrence keeps its
    * position — duplicate-SPAN detection needs (gram, position), not
    * the distinct set. Codegen'd StaticInvoke kernel.
    */
  def positionalGramHashes(text: Column, n: Int): Column =
    graft.functions.DedupKernel.posGramHashesCol(text, n)

  /** Maximal duplicate word spans across document pairs — substring-
    * level exact dedup at word granularity (the span analysis of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, as relational algebra: gram hits on the same diagonal
    * instead of a suffix array, which has no distributed form). A span
    * is ≥ `minWords` consecutive words shared verbatim by two docs;
    * overlapping gram hits with equal p1−p2 merge into one maximal span.
    *
    * Plan: positional gram hashes (compiled kernel, gram strings never
    * built) → inverted-index join on the 64-bit hash — candidates only,
    * never all pairs; `maxGramDf` caps boilerplate grams that would do
    * df² work — → run-merge as ONE window + one aggregation, both
    * clustered by (doc_a, doc_b, diagonal) so the aggregation reuses
    * the window's exchange. Output: (doc_a, doc_b, start_a, start_b,
    * span_words), positions 1-based.
    *
    * `minWords > gram` is required: an isolated single-gram hit (the
    * shape a 64-bit hash collision produces) then yields
    * span_words = gram < minWords and cannot reach the output — a
    * collision would have to land adjacent to a REAL span on its exact
    * diagonal to matter.
    */
  def duplicateSpans(docs: DataFrame, gram: Int = 5, minWords: Int = 8,
                     maxGramDf: Long = 65536,
                     id: String = "doc_id", text: String = "text"): DataFrame = {
    require(minWords > gram,
      s"minWords ($minWords) must exceed gram ($gram) so an isolated gram hit never becomes a span")
    val g = docs
      .select(col(id).cast("long").as("did"), positionalGramHashes(col(text), gram).as("gh"))
      .select(col("did"), posexplode(col("gh")).as(Seq("pos0", "g")))
      .select(col("did"), (col("pos0") + 1).cast("long").as("pos"), col("g"))
    // The df cap is ON by default (matching ngramJaccardPairs): a
    // boilerplate gram in 10^5 docs would put 10^10 position pairs in
    // one join key. A capped gram can only shorten/split a span that
    // ALSO contains rarer grams — real duplicated passages always do.
    val guarded0 = if (maxGramDf == Long.MaxValue) g else frequentShingleFilter(g, maxGramDf)
    // the self-join consumes the guarded gram table on BOTH sides with
    // different projections, so the exchanges differ and Spark cannot
    // reuse them — without materialization the explode+hash+df-cap
    // subplan (the expensive pass over the corpus) executes twice.
    // localCheckpoint computes it once; blocks are GC-freed with the
    // plan.
    val guarded = guarded0.localCheckpoint(true)
    val hits = guarded.select(col("did").as("doc_a"), col("pos").as("p1"), col("g"))
      .join(guarded.select(col("did").as("doc_b"), col("pos").as("p2"), col("g")), "g")
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "p1", "p2")
    mergeRuns(hits, gram, minWords)
  }

  /** Duplicate spans ACROSS two corpora — span-level decontamination
    * (the GPT-3/Pile n-gram-overlap discipline, localized to exact
    * positions): `left` is the training corpus, `right` the held-out
    * eval set; candidates pair left grams with right grams only, never
    * left×left or right×right. Per-gram join work is df_left×df_right,
    * so the df cap applies to each side. Output as [[duplicateSpans]]
    * with doc_a from `left`, doc_b from `right` (ids may overlap —
    * no doc_a < doc_b constraint).
    */
  def duplicateSpansAcross(left: DataFrame, right: DataFrame,
                           gram: Int = 5, minWords: Int = 8,
                           maxGramDf: Long = 65536,
                           id: String = "doc_id", text: String = "text"): DataFrame = {
    require(minWords > gram,
      s"minWords ($minWords) must exceed gram ($gram) so an isolated gram hit never becomes a span")
    def grams(docs: DataFrame) = {
      val g = docs
        .select(col(id).cast("long").as("did"), positionalGramHashes(col(text), gram).as("gh"))
        .select(col("did"), posexplode(col("gh")).as(Seq("pos0", "g")))
        .select(col("did"), (col("pos0") + 1).cast("long").as("pos"), col("g"))
      if (maxGramDf == Long.MaxValue) g else frequentShingleFilter(g, maxGramDf)
    }
    val hits = grams(left).select(col("did").as("doc_a"), col("pos").as("p1"), col("g"))
      .join(grams(right).select(col("did").as("doc_b"), col("pos").as("p2"), col("g")), "g")
      .select("doc_a", "doc_b", "p1", "p2")
    mergeRuns(hits, gram, minWords)
  }

  /** Merge positional gram hits on the same (doc_a, doc_b, p1−p2)
    * diagonal into maximal spans — one window + one aggregation on one
    * shared exchange (plan-shape pinned by DedupSpec).
    */
  private def mergeRuns(hits: DataFrame, gram: Int, minWords: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("d")).orderBy("p1")
    hits.withColumn("d", col("p1") - col("p2"))
      .withColumn("run", col("p1") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "d", "run")
      .agg(min("p1").as("start_a"), min("p2").as("start_b"),
        (count(lit(1)) + gram - 1).as("span_words"))
      .where(col("span_words") >= minWords)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_words")
  }

  /** Surgical span removal — the cleaning action [[duplicateSpans]]
    * feeds (Lee et al. 2022 drop the repeated bytes, not the document):
    * every word of the LATER doc (doc_b, the higher id — the earlier
    * occurrence survives) covered by a reported span is dropped, and
    * the remaining words are reassembled in order. Documents without
    * spans pass through byte-identical (split/rejoin on single spaces
    * round-trips runs of spaces as empty tokens).
    *
    * Plan: spans explode to (doc, pos) — output rows ∝ duplicated
    * words, a corpus-scale-independent quantity — then one anti-join
    * against the posexploded corpus and one grouped ordered
    * reassembly. Output: (doc_id, text).
    */
  def removeSpans(docs: DataFrame, spans: DataFrame,
                  id: String = "doc_id", text: String = "text"): DataFrame = {
    val covered = spans
      .select(col("doc_b").as("did"),
        explode(sequence(col("start_b"), col("start_b") + col("span_words") - 1)).as("pos"))
      .distinct()
    val words = docs
      .select(col(id).cast("long").as("did"), posexplode(split(col(text), " ")).as(Seq("pos0", "w")))
      .select(col("did"), (col("pos0") + 1).cast("long").as("pos"), col("w"))
    val cleaned = words.join(covered, Seq("did", "pos"), "left_anti")
      .groupBy("did")
      .agg(array_join(array_sort(collect_list(struct(col("pos"), col("w"))))
        .getField("w"), " ").as(text))
    // fully-covered docs (entire-doc duplicates) must surface as empty
    // text, not vanish — join every doc back on. A NULL-text doc has no
    // word rows either, but it was never excised: it passes through as
    // NULL, not as a false "fully deduplicated" empty string
    docs.select(col(id).cast("long").as(id), col(text).as("__orig"))
      .join(cleaned.select(col("did").as(id), col(text)), Seq(id), "left")
      .select(col(id),
        when(col("__orig").isNull, lit(null)).otherwise(coalesce(col(text), lit("")))
          .as(text))
  }

  /** The decontamination CLEANING action: excise every located
    * eval-set passage ([[duplicateSpansAcross]] output) from the
    * training doc — the covered side is doc_a/start_a here, unlike
    * [[removeSpans]] where the later doc (doc_b) is cleaned; the eval
    * set itself is never modified. Same plan as removeSpans: explode ∝
    * contaminated words only, one anti-join, ordered reassembly.
    */
  def removeContamination(corpus: DataFrame, spans: DataFrame,
                          id: String = "doc_id", text: String = "text"): DataFrame =
    removeSpans(corpus, spans.select(col("doc_a").as("doc_b"),
      col("start_a").as("start_b"), col("span_words")), id, text)

  /** Exact dedup on md5 of the raw text: (doc_id, h, keep) — keep marks
    * the group's minimum doc_id (the canonical survivor).
    */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id), md5(col(text)).as("h"))
      .withColumn("keep", col(id) === min(col(id)).over(Window.partitionBy("h")))

  /** All candidate pairs sharing ≥1 shingle, with exact Jaccard.
    * Output: (id_1, id_2, common, sz_1, sz_2, jac), id_1 < id_2.
    *
    * Pair generation is bucket-explode, not a self-join: group the
    * inverted index by shingle hash and emit each bucket's ordered pairs
    * from a compiled loop — one shuffle (by shingle) + the pair
    * aggregation, where the self-join idiom pays two sorted SMJ inputs
    * plus the same aggregation (measured ~2× slower). Per-bucket work is
    * df² either way; at corpus scale apply [[frequentShingleFilter]]
    * first so no single bucket explodes.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String = "doc_id",
                        text: String = "text", n: Int = 3,
                        maxDocFreq: Int = 65536): DataFrame = {
    // Shingles are keyed by their 64-bit hash and the strings are never
    // built ([[shingleHashes]]): an 8-byte key shuffles ~4× less than a
    // ~25-char shingle and compares in one instruction. Collisions would
    // need two different shingles with equal hashes in the same candidate
    // pair (~n²/2⁶⁴ — negligible even at billions of distinct shingles).
    val inv = docs
      .select(col(id).cast("long").as("did"), shingleHashes(col(text), n).as("sh"))
      .select(col("did"), size(col("sh")).as("sz"), explode(col("sh")).as("g"))
    // df cap INSIDE the operator (the bucket size IS the shingle's doc
    // frequency — no extra shuffle): a stop-shingle bucket does df² pair
    // work, and candidate RECALL only drops for pairs whose EVERY shared
    // shingle is hot — near-dups always share rarer shingles too. For
    // corpora where even collect_list of a hot bucket is too large,
    // apply [[frequentShingleFilter]] before this (anti-join pre-agg).
    val buckets = inv.groupBy("g")
      .agg(collect_list(struct(col("did").as("_1"), col("sz").as("_2"))).as("ds"))
      .where(size(col("ds")) <= maxDocFreq)
    // Pairs stream out of a LAZY generator into the downstream hash
    // aggregation — never df(df-1)/2 tuples buffered per bucket (that
    // buffer's Int size hint overflowed past df = 2^16 and a single hot
    // shingle could OOM an executor). Generator expression, not a typed
    // flatMap: the flatMap form deserialized every bucket to a boxed
    // Seq and re-encoded every pair (DeserializeToObject /
    // SerializeFromObject around the stage); the generator reads the
    // ArrayData in place with the same id-ascending order.
    buckets.select(graft.plans.PairGenerators.sortedLongIntPairsCol(col("ds")))
      .groupBy("id_1", "id_2", "sz_1", "sz_2")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", col("common").cast("double") /
        (col("sz_1") + col("sz_2") - col("common")).cast("double"))
  }

  /** n-gram Jaccard near-dup pairs above a threshold. */
  def ngramJaccard(docs: DataFrame, tau: Double, id: String = "doc_id",
                   text: String = "text", n: Int = 3,
                   maxDocFreq: Int = 65536): DataFrame =
    ngramJaccardPairs(docs, id, text, n, maxDocFreq).where(col("jac") >= tau)
      .select("id_1", "id_2", "jac")

  /** Shifted-duplicate detection over CONTENT-DEFINED chunks: pairs of
    * documents sharing ≥ `tau` of their CDC chunk hashes
    * ([[graft.text.TextAnalysis.cdcChunks]] — boundaries depend only on
    * local content, so a near-copy with an inserted prefix/patch keeps
    * almost all chunk hashes, where fixed-stride chunks would all
    * shift). Containment scoring (common / min(chunks)) so a doc
    * embedded in a larger one still scores high — the rsync/backup-dedup
    * use case. Same bucket-join shape as every other candidate
    * generator: inverted index on chunk_hash, distinct pairs per
    * bucket, df cap via [[frequentShingleFilter]]. Output:
    * (id_1, id_2, common, sz_1, sz_2, containment), id_1 < id_2.
    */
  def cdcNearDup(docs: DataFrame, tau: Double,
                 window: Int = 3, avgSize: Int = 16, minSize: Int = 4, maxSize: Int = 64,
                 maxChunkDf: Long = 65536,
                 id: String = "doc_id", text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // SET semantics: a chunk content repeated within one doc counts
    // once, so `common` can never exceed either side's size
    val inv = graft.text.TextAnalysis
      .cdcChunks(spark, docs, window, avgSize, minSize, maxSize, id, text)
      .toDF().select(col("doc_id").as("did"), col("chunk_hash").as("g"))
      .distinct()
    val guarded = frequentShingleFilter(inv, maxChunkDf)
    // sizes over the SAME guarded universe as `common` — sizing from
    // the unguarded chunk set would depress containment below tau for
    // docs dominated by hot chunks (numerator filtered, denominator
    // not), the one-universe inconsistency columnPairSimilarity fixed
    val sizes = guarded.groupBy("did").agg(count(lit(1)).as("sz"))
    val pairs = guarded.select(col("did").as("id_1"), col("g"))
      .join(guarded.select(col("did").as("id_2"), col("g")), "g")
      .where(col("id_1") < col("id_2"))
      .groupBy("id_1", "id_2").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("did").as("id_1"), col("sz").as("sz_1")), "id_1")
      .join(sizes.select(col("did").as("id_2"), col("sz").as("sz_2")), "id_2")
      .withColumn("containment", col("common") / least(col("sz_1"), col("sz_2")))
      .where(col("containment") >= tau)
      .select("id_1", "id_2", "common", "sz_1", "sz_2", "containment")
  }

  /** Skew guard for corpus-scale candidate generation: drop shingles
    * occurring in more than `maxDocFreq` documents before the
    * inverted-index join. A stop-shingle shared by 1% of a billion-doc
    * corpus would otherwise put 10^14 pairs in one join key. Candidate
    * RECALL only drops for pairs whose every common shingle is hot —
    * near-dups share many rare shingles.
    */
  def frequentShingleFilter(inv: DataFrame, maxDocFreq: Long): DataFrame = {
    val hot = inv.groupBy("g").agg(count(lit(1)).as("df")).where(col("df") > maxDocFreq)
    inv.join(hot.select("g"), Seq("g"), "left_anti")
  }

  /** Transitive closure of near-dup pairs → cluster ids: every doc gets
    * the minimum doc id reachable through the pair graph (itself when
    * isolated).
    *
    * Adaptive execution, AQE-style: the EDGE set (τ-filtered near-dup
    * pairs) is orders of magnitude smaller than the corpus, so when it
    * fits comfortably on the driver (≤ `localThreshold` edges) a local
    * union-find replaces ~4 rounds of join+aggregate latency; above the
    * threshold the iterative min-label propagation runs — O(log n)
    * joins, no driver-side graph. Both paths give identical labels
    * (minimum component member).
    */
  def clusters(docs: DataFrame, pairs: DataFrame, id: String = "doc_id",
               localThreshold: Long = 500000): DataFrame = {
    // Both edge directions come out of ONE pass over `pairs` (explode of a
    // 2-element array) — a union of pairs with pairs-swapped would execute
    // the whole candidate-generation subplan twice before materializing.
    // localCheckpoint, not cache: the edge set is re-read every
    // propagation round but must not pin executor storage past this
    // method (the blocks die with the Dataset instead of surviving the
    // session) — the same leak this discipline fixed in `semantic`.
    // DOCUMENTED TRADEOFF: localCheckpoint truncates lineage into
    // non-replicated executor-local blocks, so losing an executor
    // (dynamic-allocation decommission, OOM kill) mid-method fails the
    // call unrecoverably where cache() would have recomputed from
    // lineage. On a long-lived dynamic-allocation cluster prefer
    // reliable `checkpoint()` to a job-scoped checkpoint dir; here the
    // method-scoped window is short and re-running the call is cheap
    // relative to pinning edge blocks for the session lifetime.
    val edges = pairs
      .select(explode(array(
        struct(col("id_1").as("a"), col("id_2").as("b")),
        struct(col("id_2").as("a"), col("id_1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().localCheckpoint(true)
    if (edges.count() <= localThreshold) return clustersLocal(docs, edges, id)
    // Only edge-incident nodes can change label — iterate over that
    // (much smaller) set; isolated docs join back as their own cluster
    // at the end. At corpus scale the near-dup graph is a tiny fraction
    // of the corpus, so the per-round shuffles never touch full size.
    var labels = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")).cache()
    var changed = 1L
    var iter = 0
    val maxIter = 50
    while (changed > 0 && iter < maxIter) {
      // The node's previous label rides through the union (each node has
      // exactly ONE self row, so max(old) recovers it) — convergence is
      // read off the same pass that materializes the round, one job per
      // round instead of a propagate job plus a compare job.
      val viaEdges = edges
        .join(labels.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("label"),
          when(lit(false), col("label")).as("old")) // typed NULL of label's type
      val self = labels.select(col("node"), col("label"), col("label").as("old"))
      val prop = self.unionByName(viaEdges)
        .groupBy("node").agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // Pointer doubling: also jump to the label's OWN label (labels are
      // node ids, so every label has a row). Convergence becomes
      // O(log diameter) rounds instead of O(diameter) — a 10^4-long
      // near-dup chain resolves in ~14 rounds, not 10^4.
      val next = prop.as("x")
        .join(prop.select(col("node").as("label"), col("label").as("__ll")),
          Seq("label"), "left")
        .select(col("node"), least(col("label"), col("__ll")).as("label"), col("old"))
        .cache()
      changed = next.where(col("label") =!= col("old")).count()
      labels.unpersist(false)
      labels = next
      iter += 1
    }
    // Non-converged labels are silently WRONG (a component would split) —
    // refuse to return them. With doubling this bound allows diameters
    // around 2^50; hitting it means the input is pathological.
    if (changed > 0) sys.error(
      s"Dedup.clusters: min-label propagation did not converge in $maxIter rounds " +
        s"($changed labels still changing) — refusing to return split components")
    // The loop's final round stays cached only until the labels are
    // snapshotted here — the returned plan reads the checkpoint blocks
    // (released when the Dataset is GC'd), not a session-lifetime cache.
    val finalLabels = labels.select(col("node"), col("label")).localCheckpoint(true)
    labels.unpersist(false)
    docs.select(col(id).as("node"))
      .join(finalLabels, Seq("node"), "left")
      .select(col("node").as(id), coalesce(col("label"), col("node")).as("cluster"))
  }

  /** Driver union-find over a SMALL collected edge set (gated by
    * `localThreshold` above); labels = minimum component member, exactly
    * the propagation fixpoint. Isolated docs stay distributed and join
    * the broadcast label map. Doc ids must be long-castable (the
    * propagation path's min() would accept any ordered type; set
    * `localThreshold = 0` for non-numeric ids).
    */
  private def clustersLocal(docs: DataFrame, edges: DataFrame, id: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val es = edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min root wins
    }
    val labels = parent.keys.map(n => (n, find(n))).toSeq.toDF("node", "label")
    docs.select(col(id).cast("long").as("node"))
      .join(broadcast(labels), Seq("node"), "left")
      .select(col("node").as(id), coalesce(col("label"), col("node")).as("cluster"))
  }

  /** MinHash + LSH near-dup: `numHashes` permutations via seeded
    * xxhash64 over shingles, `bands` bands; bucket-mates are verified
    * with exact Jaccard. Output like [[ngramJaccard]].
    */
  def minhashLsh(docs: DataFrame, tau: Double, id: String = "doc_id",
                 text: String = "text", n: Int = 3,
                 numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val sigs = minhashSignatures(docs, id, text, n, numHashes)
    val keys = bandKeysOf(sigs, numHashes, bands)
    val cand = keys.as("x").join(keys.as("y"), Seq("band", "bkey"))
      .where(col("x.did") < col("y.did"))
      .select(col("x.did").as("id_1"), col("y.did").as("id_2")).distinct()
    verifyPairs(cand, sigs, tau)
  }

  /** The persistable MinHash signature index of a corpus:
    * (did, sig array<long> of `numHashes` minima, sh array<long>
    * distinct shingle hashes). Write it with the corpus, then dedup
    * each NEW batch against it via [[minhashLshIncremental]] — the
    * 100-TB discipline is "signature the corpus once, probe per batch",
    * never re-shingle the whole corpus per arrival.
    *
    * One scan, zero shuffles: permutations are seeded re-hashes of the
    * 64-bit shingle hash (the shingle string itself is never
    * materialized) and the whole k-signature is computed per-row from
    * the doc's shingle array by the codegen'd [[graft.functions
    * .MinHashSig.sigOfArrayCol]] kernel — bit-identical to the
    * exploded-aggregate form (`MinHashSig.minhashSig`), which remains
    * for streams of already-exploded shingles.
    */
  def minhashSignatures(docs: DataFrame, id: String = "doc_id",
                        text: String = "text", n: Int = 3,
                        numHashes: Int = 32): DataFrame =
    docs
      .select(col(id).as("did"), shingleHashes(col(text), n).as("sh"))
      // docs with no shingles have no signature (explode-form parity)
      .where(size(col("sh")) > 0)
      .select(col("did"),
        graft.functions.MinHashSig.sigOfArrayCol(col("sh"), numHashes).as("sig"),
        col("sh"))

  /** Band keys of a signature frame — the persistable LSH bucket index
    * (did, band, bkey). Write it next to the signature index and hand
    * it to [[minhashLshIncremental]]: a per-batch probe then reads the
    * compact key table instead of re-hashing every corpus signature
    * into bands on every arrival.
    */
  def minhashBandKeys(sigs: DataFrame, numHashes: Int = 32, bands: Int = 8): DataFrame =
    bandKeysOf(sigs, numHashes, bands)

  /** Band keys of a signature frame: (did, band, bkey). */
  private def bandKeysOf(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands); " +
        "otherwise trailing hash functions are silently unused")
    val rows = numHashes / bands
    sigs.select(col("did"),
      posexplode(array((0 until bands).map(b =>
        xxhash64((b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1)): _*)): _*))
        .as(Seq("band", "bkey")))
  }

  /** Exact-Jaccard verification of candidate pairs against the
    * signature frame's shingle sets — verify ONLY bucket candidates
    * (never the all-pairs join).
    */
  private def verifyPairs(cand: DataFrame, sigs: DataFrame, tau: Double): DataFrame =
    cand
      .join(sigs.select(col("did").as("id_1"), col("sh").as("sh_1")), "id_1")
      .join(sigs.select(col("did").as("id_2"), col("sh").as("sh_2")), "id_2")
      .withColumn("common", size(array_intersect(col("sh_1"), col("sh_2"))))
      .withColumn("jac", col("common").cast("double") /
        (size(col("sh_1")) + size(col("sh_2")) - col("common")).cast("double"))
      .where(col("jac") >= tau)
      .select("id_1", "id_2", "jac")

  /** Incremental near-dup: match a NEW batch against an existing
    * signature index ([[minhashSignatures]]) plus itself, WITHOUT
    * touching existing×existing pairs. Only the new batch is shingled,
    * and the batch-sized probe keys are BROADCAST into the bucket
    * join, so the corpus side streams through in place — no
    * corpus-sized shuffle per arrival. Pass `existingKeys` (the
    * persisted [[minhashBandKeys]] table) so the corpus's band hashes
    * are read, not recomputed from every signature on every batch;
    * without it they are derived from `existingSigs` (one corpus-wide
    * projection — correct, but the per-batch cost is then linear in
    * the corpus twice instead of once). Pass `newSigs0` when the
    * caller already computed the batch's signatures (the streaming
    * path writes them anyway — recomputing the shingle+minhash
    * pipeline per consumer is the dominant per-batch CPU). Emits
    * (id_1, id_2, jac) where at least one side is new; ids must be
    * distinct across the union of both frames.
    */
  def minhashLshIncremental(newDocs: DataFrame, existingSigs: DataFrame,
                            tau: Double, id: String = "doc_id",
                            text: String = "text", n: Int = 3,
                            numHashes: Int = 32, bands: Int = 8,
                            existingKeys: Option[DataFrame] = None,
                            newSigs0: Option[DataFrame] = None,
                            broadcastProbe: Boolean = true): DataFrame = {
    val newSigs = newSigs0.getOrElse(minhashSignatures(newDocs, id, text, n, numHashes))
    val allSigs = existingSigs.select("did", "sig", "sh")
      .unionByName(newSigs.select("did", "sig", "sh"))
    val probe = bandKeysOf(newSigs, numHashes, bands)
    val index = existingKeys.getOrElse(bandKeysOf(existingSigs, numHashes, bands))
      .select("did", "band", "bkey")
      .unionByName(probe)
    // broadcastProbe = true is the streaming/micro-batch case (probe
    // rows = |batch|·bands, far under the broadcast limit) — the corpus
    // side then streams through in place. For a LARGE "new" frame (a
    // corpus slice joined in batch) pass false: a forced broadcast
    // above ~8GB fails outright where the shuffle join just works.
    val probeSide = if (broadcastProbe) broadcast(probe.as("x")) else probe.as("x")
    val cand = index.as("y").join(probeSide, Seq("band", "bkey"))
      .where(col("x.did") =!= col("y.did"))
      .select(least(col("x.did"), col("y.did")).as("id_1"),
        greatest(col("x.did"), col("y.did")).as("id_2"))
      .distinct()
    verifyPairs(cand, allSigs, tau)
  }

  /** SimHash near-dup: 64-bit fingerprints, band-rotation candidates
    * (4×16-bit bands ⇒ no false negatives for hamming ≤ 3), verified by
    * exact hamming distance. Output: (doc_id, canon) — canon is the
    * smallest matching doc id (itself when unique), so every document
    * yields a row.
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3,
                     id: String = "doc_id", text: String = "text"): DataFrame = {
    val fp = docs.select(col(id).as("did"),
      graft.functions.XashKernel.simhashCol(col(text)).as("sh"))
    val banded = fp.select(col("did"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bkey")))
    val pairs = banded.as("x").join(banded.as("y"), Seq("band", "bkey"))
      .where(col("x.did") < col("y.did") &&
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= maxHamming)
      .select(col("x.did").as("id_1"), col("y.did").as("id_2")).distinct()
    val matches = pairs.select(col("id_1").as("did"), col("id_2").as("mid"))
      .unionByName(pairs.select(col("id_2").as("did"), col("id_1").as("mid")))
    fp.select(col("did"))
      .join(matches, Seq("did"), "left")
      .groupBy("did")
      .agg(least(min(col("mid")), first(col("did"))).as("canon"))
      .select(col("did").as("doc_id"), coalesce(col("canon"), col("did")).as("canon"))
  }

  /** Sequential-fold double dot product — the codegen'd StaticInvoke
    * kernel ([[graft.functions.VecKernel]]): compiled while-loop over the
    * unsafe float array, no per-call boxing, exact fold order of the
    * DuckDB oracle's list_sum (bit-identical results).
    */
  def dotUdf(a: Column, b: Column): Column =
    graft.functions.VecKernel.dotCol(a, b)

  /** Sequential-fold cosine of two float-array columns. Prefer
    * [[withNorm]] + [[dotUdf]] in pair loops — this recomputes both
    * norms per pair.
    */
  def cosine(a: Column, b: Column): Column =
    dotUdf(a, b) / sqrt(dotUdf(a, a)) / sqrt(dotUdf(b, b))

  /** (idAlias, vecAlias, normAlias): vectors with precomputed L2 norm —
    * pair loops then do ONE dot per pair instead of three.
    */
  def withNorm(emb: DataFrame, id: String, vec: String,
               idAlias: String, vecAlias: String, normAlias: String): DataFrame =
    emb.select(col(id).as(idAlias), col(vec).as(vecAlias),
      sqrt(dotUdf(col(vec), col(vec))).as(normAlias))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a bounded-sample KMeans
    * coarse quantizer, generate candidate pairs WITHIN each cell only
    * (cost Σ cell² like IVF — never n²), connect pairs at cosine ≥ tau,
    * and keep the minimum-id canonical per connected component.
    * Cross-cell near-duplicates are missed by construction — the same
    * approximation SemDeDup itself makes (its dedup is per-k-means-
    * cluster), and the reason the pair stage survives corpus scale.
    * Output: (vec_id, canon, keep).
    */
  def semantic(emb: DataFrame, tau: Double, nCells: Int = 16, seed: Long = 42L,
               id: String = "vec_id", vec: String = "embedding",
               maxIter: Int = 5, maxTrain: Int = 100000,
               preAssigned: Option[DataFrame] = None): DataFrame = {
    // localCheckpoint, not cache(): the blocks are released when the
    // plan is GC'd instead of pinning executor storage for the session
    // lifetime (same leak fix as Mate.searchAndMaps)
    val assigned = preAssigned.getOrElse(graft.sim.Similarity
      .assignCells(emb, nCells, seed, id, vec, maxIter, maxTrain).localCheckpoint(true))
    val a = assigned.select(col(id).as("id_1"), col(vec).as("qv"), col("nrm").as("qn"), col("cell"))
    val b = assigned.select(col(id).as("id_2"), col(vec).as("nv"), col("nrm").as("nn"), col("cell"))
    val edges = a.join(b, Seq("cell")).where(col("id_1") < col("id_2"))
      .where(dotUdf(col("qv"), col("nv")) / col("qn") / col("nn") >= tau)
      .select("id_1", "id_2")
    clusters(emb.select(col(id)), edges, id)
      .select(col(id).as("vec_id"), col("cluster").as("canon"),
        (col(id) === col("cluster")).as("keep"))
  }

  /** Embedding near-dup: best cosine match per vector (every vector
    * yields a row). Delegates to the blocked GEMM-shaped kNN (broadcast
    * corpus + per-partition scan, k=1) — never an n² pair shuffle; the
    * corpus-fits-in-executor-memory bound and the LSH/IVF escape hatch
    * are documented on [[graft.sim.Similarity.bruteForceKnnBlocked]].
    * Ties break identically to the old window form (cos desc, id asc).
    * Output: (vec_id, best_id, cos).
    */
  def embeddingNearest(emb: DataFrame, id: String = "vec_id",
                       vec: String = "embedding"): DataFrame =
    graft.sim.Similarity.bruteForceKnnBlocked(emb, emb, 1, id, vec)
      .select(col("vec_id"), col("neighbor_id").as("best_id"), col("cos"))
}
