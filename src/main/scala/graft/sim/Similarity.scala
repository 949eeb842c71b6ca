package graft.sim

import graft.dedup.Dedup
import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.4 #34-35).
  */
object Similarity {

  /** Brute-force cosine top-k: exact baseline. Queries × corpus join
    * (broadcast the query side), sequential-fold double cosine, window
    * top-k. Output: (vec_id, rank, neighbor_id, cos).
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val q = Dedup.withNorm(queries, id, vec, "qid", "qv", "qn")
    val c = Dedup.withNorm(corpus, id, vec, "nid", "nv", "nn")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    broadcast(q).crossJoin(c).where(col("qid") =!= col("nid"))
      .withColumn("cos", Dedup.dotUdf(col("qv"), col("nv")) / col("qn") / col("nn"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("rank"), col("nid").as("neighbor_id"), col("cos"))
  }

  /** Random-hyperplane LSH buckets: `bits`-bit signature from seeded
    * deterministic hyperplanes. The scale path: candidates are bucket
    * mates only, so cost is Σ bucket² instead of n².
    */
  def lshSignature(emb: DataFrame, bits: Int = 8, dim: Int = 64, seed: Long = 42L,
                   id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(bits * dim)(rnd.nextGaussian())
    // codegen'd kernel: one compiled loop per row instead of bits×dim
    // interpreted higher-order-function lambda calls
    val sig = graft.functions.VecKernel.lshBucketCol(col(vec), planes, bits, dim)
    emb.select(col(id), col(vec), sig.as("bucket"))
  }

  /** Blocked exact top-k: broadcast the corpus (with precomputed
    * norms), scan queries with a tight per-partition loop — a GEMM-
    * shaped pass instead of a 4M-row pair join. Identical results and
    * tie-breaks to [[bruteForceKnn]] (same sequential double folds,
    * corpus iterated in ascending id). The corpus must fit in executor
    * memory (beyond that, use lshKnn / ivfKnn).
    */
  def bruteForceKnnBlocked(queries: DataFrame, corpus: DataFrame, k: Int,
                           id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val corp = corpus.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (nid, nv) =>
        var s = 0.0; var i = 0
        while (i < nv.length) { s += nv(i).toDouble * nv(i).toDouble; i += 1 }
        (nid, nv, math.sqrt(s))
      }
    val bc = spark.sparkContext.broadcast(corp)
    queries.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (qid, qv) =>
          var qn = 0.0
          var i = 0
          while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
          val qnorm = math.sqrt(qn)
          // k best by (cos desc, nid asc); ascending-id scan + strict >
          // keeps the smallest id on ties
          val bestCos = Array.fill(k)(Double.NegativeInfinity)
          val bestId = new Array[Long](k)
          cs.foreach { case (nid, nv, nn) =>
            if (nid != qid) {
              var d = 0.0; var j = 0
              while (j < nv.length) { d += qv(j).toDouble * nv(j).toDouble; j += 1 }
              val cos = d / qnorm / nn
              var pos = k
              while (pos > 0 && cos > bestCos(pos - 1)) pos -= 1
              if (pos < k) {
                var m = k - 1
                while (m > pos) { bestCos(m) = bestCos(m - 1); bestId(m) = bestId(m - 1); m -= 1 }
                bestCos(pos) = cos; bestId(pos) = nid
              }
            }
          }
          (0 until k).iterator.filter(r => bestCos(r) > Double.NegativeInfinity)
            .map(r => (qid, r + 1, bestId(r), bestCos(r)))
        }
      }.toDF("vec_id", "rank", "neighbor_id", "cos")
  }

  /** IVF-style ANN: a seeded KMeans coarse quantizer assigns every
    * vector to a cell; top-k search runs within each cell only
    * (the classic inverted-file index — cost Σ|cell|² instead of n²).
    * Output: (vec_id, rank, neighbor_id, cos).
    */
  /** KMeans coarse-quantizer cell assignment shared by [[ivfKnn]] and
    * [[graft.dedup.Dedup.semantic]]: fit on a bounded sample with few
    * iterations (centroids only partition the space — classic IVF
    * trains on ~100k vectors however big the corpus, so the fit stays
    * O(1) as the corpus grows), then assign EVERY vector.
    * Output: (id, vec, cell, nrm).
    */
  /** `nCells <= 0` selects AUTO cell count: corpus count / 256 (cells
    * of ~256 vectors), clamped to [16, 4096]. Constant cell size is
    * what keeps IVF ~linear as the corpus grows — a FIXED nCells means
    * 10× rows = 10× cell membership = 100× within-cell pairs (the
    * sf1 superlinear entry in SURVEY §5); the clamp's top end bounds
    * the KMeans fit (k ≤ training-sample/24 at the default maxTrain).
    */
  def autoCells(n: Long): Int =
    math.min(4096L, math.max(16L, n / 256L)).toInt

  def assignCells(emb: DataFrame, nCells: Int, seed: Long,
                  id: String = "vec_id", vec: String = "embedding",
                  maxIter: Int = 5, maxTrain: Int = 100000): DataFrame = {
    // corpus size for autoCells: catalog/file statistics when the plan
    // carries an exact row count (a metadata lookup), one count action
    // only as the fallback — at 100 TB a full scan for one scalar is
    // the wrong price, and the clamp only needs the magnitude anyway
    val k =
      if (nCells > 0) nCells
      else autoCells(emb.queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(emb.count()))
    val feat = emb.select(col(id), col(vec))
      .withColumn("fv", org.apache.spark.ml.functions.array_to_vector(col(vec)))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(feat.limit(maxTrain))
    model.transform(feat)
      .select(col(id), col(vec), col("cell"))
      .withColumn("nrm", sqrt(Dedup.dotUdf(col(vec), col(vec))))
  }

  /** Cluster-balanced diversity sample: `perCell` vectors from each
    * KMeans cell, picked in md5(id) order — the coverage-preserving
    * subset a data-mixing pipeline draws when an iid sample would
    * over-represent dense regions (the complement of SemDeDup: keep
    * the spread, don't collapse it). Reuses the same coarse-quantizer
    * assignment the IVF index and semantic dedup share (`preAssigned`).
    * One exchange on `cell` into the heap operator — only cells·perCell
    * rows survive, no partition sort; the hash pick order makes the
    * sample reproducible across engines and partitionings, like
    * `corpus_mix`. Output: (id, cell, pick).
    */
  def diversitySample(emb: DataFrame, perCell: Int, nCells: Int = 16, seed: Long = 42L,
                      id: String = "vec_id", vec: String = "embedding",
                      maxIter: Int = 5, maxTrain: Int = 100000,
                      preAssigned: Option[DataFrame] = None): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val assigned = preAssigned.getOrElse(assignCells(emb, nCells, seed, id, vec, maxIter, maxTrain))
    val keyed = assigned.select(col(id), col("cell"), md5(col(id).cast("string")).as("pick"))
    graft.plans.TopKPerKey.perKey(keyed, Seq("cell"), Seq(("pick", false), (id, false)), perCell)
  }

  def ivfKnn(emb: DataFrame, k: Int, nCells: Int = 16, seed: Long = 42L,
             id: String = "vec_id", vec: String = "embedding",
             maxIter: Int = 5, maxTrain: Int = 100000,
             preAssigned: Option[DataFrame] = None): DataFrame = {
    val assigned = preAssigned.getOrElse(assignCells(emb, nCells, seed, id, vec, maxIter, maxTrain))
    val a = assigned.select(col(id).as("qid"), col(vec).as("qv"), col("nrm").as("qn"), col("cell"))
    val b = assigned.select(col(id).as("nid"), col(vec).as("nv"), col("nrm").as("nn"), col("cell"))
    val pairs = a.join(b, Seq("cell")).where(col("qid") =!= col("nid"))
      .withColumn("cos", Dedup.dotUdf(col("qv"), col("nv")) / col("qn") / col("nn"))
      .select("qid", "nid", "cos")
    rankTopK(pairs, k)
  }

  /** LSH-bucketed ANN: top-k among same-bucket candidates.
    * Output: (vec_id, rank, neighbor_id, cos).
    */
  def lshKnn(emb: DataFrame, k: Int, bits: Int = 8, dim: Int = 64,
             id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val s = lshSignature(emb, bits, dim)
      .withColumn("nrm", sqrt(Dedup.dotUdf(col(vec), col(vec))))
    val a = s.select(col(id).as("qid"), col(vec).as("qv"), col("nrm").as("qn"), col("bucket"))
    val b = s.select(col(id).as("nid"), col(vec).as("nv"), col("nrm").as("nn"), col("bucket"))
    val pairs = a.join(b, Seq("bucket")).where(col("qid") =!= col("nid"))
      .withColumn("cos", Dedup.dotUdf(col("qv"), col("nv")) / col("qn") / col("nn"))
      .select("qid", "nid", "cos")
    rankTopK(pairs, k)
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product quantization
    * for nearest neighbor search"): split the dimension into `m`
    * subspaces, learn a 2^`bits`-center codebook per subspace on a
    * bounded driver-side sample (seeded Lloyd — deterministic, O(1) as
    * the corpus grows), encode every corpus vector as `m` bytes, and
    * answer queries by asymmetric distance computation: per query ONE
    * m×2^bits table of partial dots, then each candidate costs m table
    * lookups instead of a full-dimension dot.
    *
    * The scale point is memory, not FLOPs: at dim=64/float32 the
    * broadcast corpus shrinks 256B → m+4 bytes per vector (~21× at
    * m=8), so a corpus that no longer fits as raw floats still
    * broadcasts as codes; beyond THAT bound, shard the scan by joining
    * queries against a partitioned code table (IVF cells + PQ codes —
    * the classic IVFADC layout).
    *
    * Returns approximate (vec_id, rank, neighbor_id, cos): cos is the
    * ADC estimate dot(q, decode(codes))/(|q|·|decode(codes)|) — rank
    * quality is what the recall spec pins, the estimate is not exact.
    */
  def pqKnn(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
            bits: Int = 4, seed: Long = 42L,
            id: String = "vec_id", vec: String = "embedding",
            maxTrain: Int = 65536, maxIter: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(vec)).limit(maxTrain)
      .as[Array[Float]].collect()
    require(sample.nonEmpty, "pqKnn: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqKnn: dim $dim not divisible by m $m")
    val sub = dim / m
    val kCent = 1 << bits
    // Seeded per-subspace Lloyd on the sample.
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      lloyd(sample.map(v => Array.tabulate(sub)(j => v(s * sub + j).toDouble)), kCent, maxIter)
    }
    val bcCb = spark.sparkContext.broadcast(codebooks)
    // Encode: nearest centroid per subspace; approx norm² = Σ ||chosen||²
    // (subspaces are disjoint coordinates, so the concat norm is exact
    // for the DEcoded vector).
    val encoded = corpus.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        it.map { case (nid, v) =>
          val codes = new Array[Byte](m)
          var n2 = 0.0
          var s = 0
          while (s < m) {
            var best = 0; var bd = Double.MaxValue; var c = 0
            while (c < kCent) {
              var d = 0.0; var j = 0
              while (j < sub) { val t = v(s * sub + j).toDouble - cb(s)(c)(j); d += t * t; j += 1 }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            codes(s) = best.toByte
            var j = 0
            while (j < sub) { val x = cb(s)(best)(j); n2 += x * x; j += 1 }
            s += 1
          }
          (nid, codes, math.sqrt(n2))
        }
      }.collect().sortBy(_._1)
    val bcCodes = spark.sparkContext.broadcast(encoded)
    queries.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        val cs = bcCodes.value
        it.flatMap { case (qid, qv) =>
          var qn = 0.0
          var i = 0
          while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
          val qnorm = math.sqrt(qn)
          // ADC lookup table: partial dot of the query slice with every
          // centroid of every subspace — m·2^bits dots TOTAL per query
          val lut = Array.tabulate(m, kCent) { (s, c) =>
            var d = 0.0; var j = 0
            while (j < sub) { d += qv(s * sub + j).toDouble * cb(s)(c)(j); j += 1 }
            d
          }
          val bestCos = Array.fill(k)(Double.NegativeInfinity)
          val bestId = new Array[Long](k)
          cs.foreach { case (nid, codes, nn) =>
            if (nid != qid) {
              var d = 0.0; var s = 0
              while (s < m) { d += lut(s)(codes(s) & 0xff); s += 1 }
              val cos = d / qnorm / nn
              var pos = k
              while (pos > 0 && cos > bestCos(pos - 1)) pos -= 1
              if (pos < k) {
                var t = k - 1
                while (t > pos) { bestCos(t) = bestCos(t - 1); bestId(t) = bestId(t - 1); t -= 1 }
                bestCos(pos) = cos; bestId(pos) = nid
              }
            }
          }
          (0 until k).iterator.filter(r => bestCos(r) > Double.NegativeInfinity)
            .map(r => (qid, r + 1, bestId(r), bestCos(r)))
        }
      }.toDF("vec_id", "rank", "neighbor_id", "cos")
  }

  /** Deterministic seeded Lloyd on driver-side points: init = evenly
    * strided sample points; empty cells keep their previous center.
    */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    val centers = Array.tabulate(k)(c => pts(((c.toLong * pts.length) / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Long](k)
      pts.foreach { p =>
        val best = nearest(p, centers)
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) { var j = 0; while (j < dim) { centers(c)(j) = sums(c)(j) / cnts(c); j += 1 } }
        c += 1
      }
      it += 1
    }
    centers
  }

  private def nearest(p: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centers.length) {
      var d = 0.0; var j = 0
      while (j < p.length) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** IVFADC (Jégou et al. 2011 §IV): the coarse quantizer routes every
    * corpus vector to a cell and PQ codes approximate it inside the
    * cell; a query probes its `nProbe` nearest cells and ADC-ranks only
    * those cells' codes. UNLIKE [[pqKnn]] the code table is a
    * DISTRIBUTED DataFrame hash-partitioned by cell — nothing
    * corpus-sized is ever collected or broadcast, so this is the ANN
    * that survives a corpus too big even for code broadcast: the scan
    * is an equi-join of the probed (query, cell) pairs against the code
    * table, then one per-query LUT pass over candidates. Broadcast
    * state = centroids + codebooks + the QUERY batch (queries are the
    * bounded side here — the classic batched-ANN-serving shape).
    *
    * Plain-PQ codes (not residual-PQ): one shared codebook set keeps
    * encode relational; recall at equal bits is slightly below
    * residual encoding — the spec pins what matters (cluster recall).
    *
    * `rerank > k` adds the standard exact re-rank stage: the ADC pass
    * keeps a per-query shortlist of `rerank` candidates, ONLY those
    * rows join back to the corpus for a true cosine, and the final
    * top-k is exact over the shortlist (queries×rerank rows — the raw
    * vectors of the shortlist are the only full-precision data read).
    * With every cell probed and `rerank` ≥ the corpus this recovers
    * [[bruteForceKnn]] exactly (spec-pinned).
    *
    * rerank DEFAULTS ON (32): on the bench corpus it lifts recall@3
    * from 0.107 (ADC estimates alone — 4-bit plain-PQ distances are
    * too coarse to order true neighbors) to ~0.44, for one extra
    * queries×32-row join against the corpus — marginal next to the
    * probed-cell scan. Pass rerank = 0 only when the ADC estimate
    * itself is the product (e.g. bulk scoring where rank order within
    * the shortlist does not matter).
    *
    * Output: (vec_id, rank, neighbor_id, cos) — cos is the ADC
    * estimate, or the exact cosine when re-ranked.
    */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 16,
               m: Int = 8, bits: Int = 4, nProbe: Int = 4, seed: Long = 42L,
               id: String = "vec_id", vec: String = "embedding",
               maxTrain: Int = 65536, maxIter: Int = 10,
               rerank: Int = 32): DataFrame = {
    val model = trainPq(corpus, nCells, m, bits, vec, maxTrain, maxIter)
    val codes = encodePq(corpus, model, id, vec)
    ivfPqSearch(queries, codes, model, k, nProbe, rerank,
      if (rerank > k) Some(corpus) else None, id, vec)
  }

  /** The driver-side ANN index model: coarse-quantizer centroids + the
    * m per-subspace PQ codebooks. Small by construction (nCells·dim +
    * m·2^bits·dim/m doubles), broadcast to every encode/search pass.
    */
  case class PqModel(nCells: Int, m: Int, bits: Int, dim: Int,
                     centroids: Array[Array[Double]],
                     codebooks: Array[Array[Array[Double]]]) {
    def sub: Int = dim / m
    def kCent: Int = 1 << bits
  }

  /** Train the coarse quantizer + PQ codebooks on a bounded corpus
    * sample (cost O(maxTrain), independent of corpus size).
    */
  def trainPq(corpus: DataFrame, nCells: Int, m: Int, bits: Int,
              vec: String = "embedding",
              maxTrain: Int = 65536, maxIter: Int = 10): PqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val k = if (nCells > 0) nCells else autoCells(corpus.count())
    val sample = corpus.select(col(vec)).limit(maxTrain).as[Array[Float]].collect()
    require(sample.nonEmpty, "trainPq: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m $m")
    val sub = dim / m
    val samplePts = sample.map(v => v.map(_.toDouble))
    val centroids = lloyd(samplePts, k, maxIter)
    val codebooks = Array.tabulate(m) { s =>
      lloyd(sample.map(v => Array.tabulate(sub)(j => v(s * sub + j).toDouble)), 1 << bits, maxIter)
    }
    PqModel(k, m, bits, dim, centroids, codebooks)
  }

  /** Distributed PQ encode: (cell, nid, codes, approx norm) — stays a
    * DataFrame, hash-partitioned by the search join; never collected.
    * Deterministic given the model, so encoding a new batch with a
    * persisted model appends EXACTLY the rows a full re-encode would
    * produce (the property [[addVectors]] relies on).
    */
  def encodePq(corpus: DataFrame, model: PqModel,
               id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(model)
    val m = model.m
    val sub = model.sub
    corpus.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cent = bcM.value.centroids; val cb = bcM.value.codebooks
        it.map { case (nid, v) =>
          val cell = nearest(v.map(_.toDouble), cent)
          val cs = new Array[Byte](m)
          var n2 = 0.0
          var s = 0
          while (s < m) {
            val p = Array.tabulate(sub)(j => v(s * sub + j).toDouble)
            val best = nearest(p, cb(s))
            cs(s) = best.toByte
            var j = 0
            while (j < sub) { val x = cb(s)(best)(j); n2 += x * x; j += 1 }
            s += 1
          }
          (cell, nid, cs, math.sqrt(n2))
        }
      }.toDF("cell", "nid", "codes", "nn")
  }

  /** ADC search over an encoded code table (fresh or read back from a
    * persisted index). `corpusForRerank` must be given when
    * `rerank > k`. The probed-cell set is known on the driver, so it is
    * pushed as a static `cell IN (...)` predicate — on a persisted
    * index partitioned by cell this drops the other cells' files
    * before any I/O.
    */
  def ivfPqSearch(queries: DataFrame, codes: DataFrame, model: PqModel,
                  k: Int, nProbe: Int = 4, rerank: Int = 0,
                  corpusForRerank: Option[DataFrame] = None,
                  id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(rerank <= k || corpusForRerank.nonEmpty,
      "ivfPqSearch: rerank > k needs the raw corpus for the exact stage")
    val keep = math.max(k, rerank)
    val spark = queries.sparkSession
    import spark.implicits._
    val nCells = model.nCells
    val m = model.m
    val sub = model.sub
    val kCent = model.kCent
    val centroids = model.centroids
    val bcCb = spark.sparkContext.broadcast(model.codebooks)
    // Query batch is the bounded side: broadcast its vectors, explode
    // its probed cells, and let the cell equi-join select candidates.
    val qRows = queries.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])].collect()
    // duplicate query ids would double candidate rows (the same
    // neighbor lands at two ranks) and qRows.toMap would silently keep
    // one vector per id — fail loudly instead
    require(qRows.map(_._1).distinct.length == qRows.length,
      "ivfPqSearch: duplicate query ids — de-duplicate the query batch first")
    val bcQ = spark.sparkContext.broadcast(qRows.toMap)
    val probes = qRows.flatMap { case (qid, qv) =>
      val p = qv.map(_.toDouble)
      val byDist = (0 until nCells).sortBy { c =>
        var d = 0.0; var j = 0
        val cc = centroids(c)
        while (j < p.length) { val t = p(j) - cc(j); d += t * t; j += 1 }
        d
      }
      byDist.take(nProbe).map(c => (qid, c))
    }.toSeq
    val probesDf = probes.toDF("qid", "cell")
    // static pruning: the probed-cell set is known on the driver, so a
    // persisted code table (one scan branch per cell) only scans the
    // probed cells' files
    val prunedCodes = codes.where(col("cell").isin(probes.map(_._2).distinct: _*))
    val cand = broadcast(probesDf).join(prunedCodes, "cell")
      .select(col("qid"), col("nid"), col("codes"), col("nn"))
      .as[(Long, Long, Array[Byte], Double)]
    val adc = cand.groupByKey(_._1).flatMapGroups { (qid, rows) =>
      val qv = bcQ.value(qid)
      var qn = 0.0
      var i = 0
      while (i < qv.length) { qn += qv(i).toDouble * qv(i).toDouble; i += 1 }
      val qnorm = math.sqrt(qn)
      val cb = bcCb.value
      val lut = Array.tabulate(m, kCent) { (s, c) =>
        var d = 0.0; var j = 0
        while (j < sub) { d += qv(s * sub + j).toDouble * cb(s)(c)(j); j += 1 }
        d
      }
      val bestCos = Array.fill(keep)(Double.NegativeInfinity)
      val bestId = new Array[Long](keep)
      rows.foreach { case (_, nid, cs, nn) =>
        if (nid != qid) {
          var d = 0.0; var s = 0
          while (s < m) { d += lut(s)(cs(s) & 0xff); s += 1 }
          val cos = d / qnorm / nn
          // candidates arrive join-ordered, so break ties explicitly:
          // (cos desc, nid asc)
          var pos = keep
          while (pos > 0 && (cos > bestCos(pos - 1) ||
            (cos == bestCos(pos - 1) && nid < bestId(pos - 1)))) pos -= 1
          if (pos < keep) {
            var t = keep - 1
            while (t > pos) { bestCos(t) = bestCos(t - 1); bestId(t) = bestId(t - 1); t -= 1 }
            bestCos(pos) = cos; bestId(pos) = nid
          }
        }
      }
      (0 until keep).iterator.filter(r => bestCos(r) > Double.NegativeInfinity)
        .map(r => (qid, r + 1, bestId(r), bestCos(r)))
    }.toDF("vec_id", "rank", "neighbor_id", "cos")
    if (rerank <= k) adc
    else {
      // exact re-rank: true cosine for ONLY the queries×rerank
      // shortlist rows, then the final top-k — a window over ≤ rerank
      // rows per query
      val exactCos = udf { (qid: Long, nv: Array[Float]) =>
        val qv = bcQ.value(qid)
        var d = 0.0; var qn = 0.0; var nn = 0.0
        var i = 0
        while (i < qv.length) {
          d += qv(i).toDouble * nv(i).toDouble
          qn += qv(i).toDouble * qv(i).toDouble
          nn += nv(i).toDouble * nv(i).toDouble
          i += 1
        }
        d / math.sqrt(qn) / math.sqrt(nn)
      }
      val raw = corpusForRerank.get
        .select(col(id).cast("long").as("neighbor_id"), col(vec).as("__nv"))
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      adc.select("vec_id", "neighbor_id").join(raw, "neighbor_id")
        .withColumn("cos", exactCos(col("vec_id"), col("__nv")))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id", "cos")
    }
  }

  /** Persist an ANN index: the code table as a Delta table partitioned
    * by cell, committed by graft's own engine ([[LakeWriter.writeDelta]]
    * in a fresh directory, else a new version replacing every code
    * quantized with an older model), plus the driver-side model as a
    * 1-row nested-array parquet sidecar. Build once offline, then
    * search, [[addVectors]] and [[removeVectors]] many times.
    */
  def writeAnnIndex(path: String, model: PqModel, codes: DataFrame): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    LakeWriter.writeOrOverwriteDelta(codes, s"$path/codes", partitionBy = Seq("cell"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    Seq((model.nCells, model.m, model.bits, model.dim,
      model.centroids.map(_.toSeq).toSeq, model.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("nCells", "m", "bits", "dim", "centroids", "codebooks")
      .write.mode("overwrite").parquet(s"$path/model")
  }

  /** Read a persisted ANN index back as (model, code table). The code
    * table is the memoized scan of the table's current snapshot: one
    * relation partitioned by `cell`, so `ivfPqSearch`'s probed-cell
    * IN-filter is a partition filter and the other cells' files are
    * never opened.
    */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): (PqModel, DataFrame) = {
    val r = spark.read.parquet(s"$path/model").head()
    val model = PqModel(
      r.getAs[Int]("nCells"), r.getAs[Int]("m"), r.getAs[Int]("bits"), r.getAs[Int]("dim"),
      r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("centroids")
        .map(_.toArray).toArray,
      r.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("codebooks")
        .map(_.map(_.toArray).toArray).toArray)
    (model, DeltaReader.read(spark, s"$path/codes"))
  }

  /** Delete vectors from a persisted index: deletion vectors on the
    * code files holding them, no file rewritten. A removed id may be
    * added again at once. The ids travel as one SQL `IN` list, parsed
    * and checked against every code file's `nid` range, so one call's
    * cost grows with the list: remove a bulk set in batches (each batch
    * is one commit). The space comes back in two steps:
    * [[compactAnnIndex]], then [[LakeWriter.vacuumDelta]].
    */
  def removeVectors(spark: org.apache.spark.sql.SparkSession, path: String,
                    ids: Seq[Long]): Unit =
    if (ids.nonEmpty)
      LakeWriter.deleteWhereDv(spark, s"$path/codes", ids.mkString("nid IN (", ",", ")"))

  /** The offline maintenance job: one `dataChange=false` rewrite that
    * folds every cell's files, and the deletion vectors on them, into
    * files of up to 1 GiB per cell. The replaced files stay on disk
    * until [[LakeWriter.vacuumDelta]] runs.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    LakeWriter.compactDelta(spark, s"$path/codes", minFiles = 1)

  /** Incremental maintenance: encode a new vector batch with the
    * PERSISTED model and append it to the code table as one commit —
    * the `LakeIndexer.addTables` discipline for the ANN index. Encoding
    * is deterministic given the model, so the appended index is
    * row-identical to a full re-encode of the union (spec-pinned). A
    * failed call commits nothing; a repeated call appends its batch
    * again (exactly-once delivery of a stream of batches is
    * `graft.streaming.AnnStream`'s, through Delta `txn` identifiers).
    */
  def addVectors(spark: org.apache.spark.sql.SparkSession, path: String, newVecs: DataFrame,
                 id: String = "vec_id", vec: String = "embedding"): Unit =
    LakeWriter.appendDelta(encodePq(newVecs, readAnnIndex(spark, path)._1, id, vec),
      s"$path/codes")

  /** recall@k of an approximate knn result against the exact
    * brute-force result over the same queries — the PUBLISHED quality
    * number of the approx ANN family (a user choosing nProbe/bits reads
    * this, and a silent recall collapse must not stay green). One
    * output row: (n_queries, pairs, hits, recall). The harness rows
    * wrap it with `.where(recall >= bound)`, so a collapse yields ZERO
    * rows and fails the driver's rows>0 gate. One broadcast-sized join:
    * both inputs are queries×k rows.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, id: String = "vec_id",
                neighbor: String = "neighbor_id"): DataFrame = {
    val e = exact.select(col(id), col(neighbor))
    val a = approx.select(col(id), col(neighbor)).withColumn("__hit", lit(1L))
    e.join(a, Seq(id, neighbor), "left")
      .agg(
        countDistinct(col(id)).as("n_queries"),
        count(lit(1)).as("pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(col("n_queries"), col("pairs"), col("hits"),
        round(col("hits").cast("double") / col("pairs"), 6).as("recall"))
  }

  /** Heap-select the k best pairs per key (custom TopKPerKey exec — no
    * partition sort), then rank the ≤k survivors with a window that only
    * touches keys·k rows.
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val kept = graft.plans.TopKPerKey.perKey(pairs,
      Seq("qid"), Seq(("cos", true), ("nid", false)), k)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    kept.withColumn("rank", row_number().over(w))
      .select(col("qid").as("vec_id"), col("rank"), col("nid").as("neighbor_id"), col("cos"))
  }
}
