package graft

import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** Persisted ANN index (IVFADC, a cell-partitioned Delta code table):
  * round-trip fidelity, incremental append ≡ full re-encode, deletion
  * and compaction through the engine, and pruning of unprobed cells on
  * the persisted code table.
  */
class AnnIndexSpec extends SparkSpec {

  // two tight, well-separated clusters in R^8 (m=4 → 2-dim subspaces)
  private def emb(ids: Range, shift: Int) = {
    import spark.implicits._
    ids.map { i =>
      val base = Array.fill(8)(0f)
      base(shift) = 10f + (i % 7) * 0.1f
      base(7 - shift) = 1f
      (i.toLong, base)
    }
  }

  private def corpus = {
    import spark.implicits._
    (emb(0 until 8, 0) ++ emb(8 until 16, 2)).toDF("vec_id", "embedding")
  }

  test("search from a persisted index equals the fresh in-memory search") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val model = Similarity.trainPq(corpus, nCells = 2, m = 4, bits = 2)
    val codes = Similarity.encodePq(corpus, model)
    val fresh = Similarity.ivfPqSearch(corpus.limit(6), codes, model, k = 2, nProbe = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

    Similarity.writeAnnIndex(dir, model, codes)
    val (m2, codes2) = Similarity.readAnnIndex(spark, dir)
    assert(m2.nCells == model.nCells && m2.m == model.m &&
      m2.bits == model.bits && m2.dim == model.dim)
    assert(m2.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    assert(m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

    val persisted = Similarity.ivfPqSearch(corpus.limit(6), codes2, m2, k = 2, nProbe = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(persisted == fresh)
  }

  test("addVectors appends exactly what a full re-encode would produce") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val a = emb(0 until 8, 0).toDF("vec_id", "embedding")
    val b = emb(8 until 16, 2).toDF("vec_id", "embedding")
    val model = Similarity.trainPq(a unionByName b, nCells = 2, m = 4, bits = 2)
    Similarity.writeAnnIndex(dir, model, Similarity.encodePq(a, model))
    Similarity.addVectors(spark, dir, b)

    val (m2, codes2) = Similarity.readAnnIndex(spark, dir)
    val full = Similarity.encodePq(a unionByName b, m2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Array[Byte], Double)].collect()
        .map(r => (r._1, r._2, r._3.toSeq, r._4)).toSet
    assert(rows(codes2.select("cell", "nid", "codes", "nn")) == rows(full))

    // and the maintained index actually finds the appended vectors
    val res = Similarity.ivfPqSearch(b.limit(3), codes2, m2, k = 1, nProbe = 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(res.nonEmpty && res.forall(r => r._3 >= 8L),
      s"appended-cluster queries must hit appended neighbors: ${res.toSeq}")
  }

  test("removeVectors hides ids from search; compact folds batches and drops tombstones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val a = emb(0 until 8, 0).toDF("vec_id", "embedding")
    val b = emb(8 until 16, 2).toDF("vec_id", "embedding")
    val model = Similarity.trainPq(a unionByName b, nCells = 2, m = 4, bits = 2)
    Similarity.writeAnnIndex(dir, model, Similarity.encodePq(a, model))
    Similarity.addVectors(spark, dir, b)

    // vec 8 is the nearest neighbor of vec 9 before removal
    val (m1, c1) = Similarity.readAnnIndex(spark, dir)
    val pre = Similarity.ivfPqSearch(b.where(col("vec_id") === 9L), c1, m1, k = 1, nProbe = 1)
      .as[(Long, Int, Long, Double)].head()
    assert(pre._3 == 8L, pre.toString)

    Similarity.removeVectors(spark, dir, Seq(8L))
    val (m2, c2) = Similarity.readAnnIndex(spark, dir)
    assert(c2.where(col("nid") === 8L).count() == 0)
    val post = Similarity.ivfPqSearch(b.where(col("vec_id") === 9L), c2, m2, k = 1, nProbe = 1)
      .as[(Long, Int, Long, Double)].head()
    assert(post._3 != 8L, post.toString)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Array[Byte], Double)].collect()
        .map(r => (r._1, r._2, r._3.toSeq, r._4)).toSet
    // snapshot the logical view BEFORE compaction rewrites the files
    val preCompact = rows(c2.select("cell", "nid", "codes", "nn"))

    // the removal wrote deletion vectors, not a sidecar
    def live = graft.sources.DeltaReader.snapshot(spark, s"$dir/codes", None).active
    assert(live.exists(_.dv.nonEmpty))

    Similarity.compactAnnIndex(spark, dir)
    // the base and the appended batch fold into one file per cell, and
    // no live file carries a deletion vector
    assert(live.forall(_.dv.isEmpty), live.toString)
    assert(live.groupBy(_.partitionValues).values.forall(_.size == 1), live.toString)
    // compacted index ≡ pre-compaction view
    val (m3, c3) = Similarity.readAnnIndex(spark, dir)
    assert(rows(c3.select("cell", "nid", "codes", "nn")) == preCompact)
    assert(m3.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    // a removed id is added back at once, no compaction in between
    Similarity.removeVectors(spark, dir, Seq(9L))
    Similarity.addVectors(spark, dir, b.where(col("vec_id") === 9L))
    assert(rows(Similarity.readAnnIndex(spark, dir)._2.select("cell", "nid", "codes", "nn")) ==
      preCompact)
  }

  test("probed-cell predicate prunes partitions of the persisted code table") {
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val model = Similarity.trainPq(corpus, nCells = 2, m = 4, bits = 2)
    Similarity.writeAnnIndex(dir, model, Similarity.encodePq(corpus, model))
    val (m2, codes2) = Similarity.readAnnIndex(spark, dir)
    val snap = graft.sources.DeltaReader.snapshot(spark, s"$dir/codes", None)
    val filesPerCell = snap.active.groupBy(_.partitionValues("cell").toInt).map {
      case (c, fs) => c -> fs.size }
    assert(filesPerCell.size == 2, s"the fixture should fill both cells: $filesPerCell")
    // both query vectors sit in one cell, so one probe reads one cell
    val probed = Similarity.encodePq(corpus.limit(2), m2).select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(probed.size == 1, probed.toString)
    val search = Similarity.ivfPqSearch(corpus.limit(2), codes2, m2, k = 1, nProbe = 1)
    assert(search.collect().length == 2)
    // the code table's scan carries the probed-cell IN-filter as a
    // partition filter, and reads only that cell's files
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = Plans.collect(search.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("/codes/")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.exists(_.references.exists(
      _.name == "cell"))), scans.map(_.simpleString(200)).mkString("\n"))
    assert(scans.map(_.metrics("numFiles").value).sum == filesPerCell(probed.head),
      scans.map(_.metrics.map { case (k, v) => k -> v.value }).mkString("\n"))
  }

  test("nCells <= 0 selects auto cell count scaled to the corpus") {
    import spark.implicits._
    // the formula itself
    assert(Similarity.autoCells(100L) == 16)        // floor
    assert(Similarity.autoCells(256L * 64) == 64)   // ~256 vectors/cell
    assert(Similarity.autoCells(10_000_000L) == 4096) // KMeans-bound cap
    // auto mode threads through assignCells: a 2k-vector corpus gets
    // 16 cells (floor), and the assignment covers every vector
    val big = (0 until 2048).map { i =>
      val v = Array.fill(8)(0f); v(i % 8) = 1f + (i % 5) * 0.1f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val assigned = Similarity.assignCells(big, nCells = 0, seed = 42L)
    assert(assigned.count() == 2048L)
    assert(assigned.select("cell").distinct().count() <= 16L)
  }
}
