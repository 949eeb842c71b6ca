package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OCC semantic conflict detection: a pure append that loses the
  * version race REBASES onto the next version without re-running when
  * the winner's commits carry only file actions; metadata-class
  * winners still force the loud conflict + retryOnConflict re-run.
  */
class OccRebaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_occ_$tag").resolve("t")
      .toAbsolutePath.toString

  private def rows(lo: Int, hi: Int, k: String): DataFrame =
    (lo to hi).map(i => (i.toLong, k, i * 1.0)).toDF("id", "k", "v")

  test("non-conflicting concurrent append commits by rebase, no re-execution") {
    val d = freshDir("r")
    LakeWriter.writeDelta(rows(1, 10, "a"), d)
    // loser reads the snapshot at v0...
    val stale = DeltaReader.snapshot(spark, d, None)
    assert(stale.version == 0L)
    // ...then two winners commit v1 and v2 (one a delete — file
    // actions only, still benign for an append)
    LakeWriter.appendDelta(rows(11, 20, "b"), d)
    LakeWriter.deleteWhere(spark, d, "id <= 2")
    // the loser's append targets v1, finds it (and v2) taken, and must
    // rebase to v3 WITHOUT throwing — same staged files, no re-run
    LakeWriter.appendDeltaWithSnapshot(rows(21, 25, "c"), d,
      checkpointInterval = 0, txn = None, snap = stale)
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.version == 3L, s"rebase must land at v3, got ${snap.version}")
    val got = DeltaReader.read(spark, d).orderBy("id").select("id")
      .as[Long].collect().toSeq
    assert(got == ((3L to 25L): Seq[Long]), s"got $got")
  }

  test("metadata-class winner forces the conflict; retryOnConflict re-runs once") {
    val d = freshDir("c")
    LakeWriter.writeDelta(rows(1, 10, "a"), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.alterProperties(spark, d, Map("graft.test.marker" -> "1"))
    // direct stale append: the winner carries metaData -> loud conflict
    val e = intercept[IllegalStateException] {
      LakeWriter.appendDeltaWithSnapshot(rows(11, 15, "b"), d,
        checkpointInterval = 0, txn = None, snap = stale)
    }
    assert(e.getMessage.contains("a concurrent writer won"))
    assert(e.getMessage.contains("metaData"),
      s"conflict must name the invalidating action, got: ${e.getMessage}")
    // the documented recovery: retryOnConflict re-runs from a fresh
    // snapshot — exactly one re-execution
    var runs = 0
    var first = true
    LakeWriter.retryOnConflict() {
      runs += 1
      val snap = if (first) { first = false; stale }
        else DeltaReader.snapshot(spark, d, None)
      LakeWriter.appendDeltaWithSnapshot(rows(11, 15, "b"), d,
        checkpointInterval = 0, txn = None, snap = snap)
    }
    assert(runs == 2, s"expected stale run + one retry, got $runs")
    assert(DeltaReader.read(spark, d).count() == 15)
  }

  test("txn-carrying appends never rebase (per-app version ordering)") {
    val d = freshDir("t")
    LakeWriter.writeDelta(rows(1, 5, "a"), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(6, 8, "b"), d)
    val e = intercept[IllegalStateException] {
      LakeWriter.appendDeltaWithSnapshot(rows(9, 9, "c"), d,
        checkpointInterval = 0, txn = Some(("app", 1L)), snap = stale)
    }
    assert(e.getMessage.contains("a concurrent writer won"))
  }

  test("mutation rebase: a stale delete lands past a provably-disjoint append") {
    val d = freshDir("md")
    // id-sorted files so add.stats give tight min/max envelopes
    LakeWriter.writeDelta(rows(1, 100, "a").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    // the winner appends ids 1000+, provably outside the delete's
    // predicate by the stats envelope — the loser must rebase to v2
    // with no exception and no re-run
    LakeWriter.appendDelta(rows(1000, 1010, "w")
      .repartitionByRange(1, col("id")).sortWithinPartitions("id"), d)
    val removed = LakeWriter.deleteWhereWithSnapshot(spark, d, "id <= 10", stale)
    assert(removed.nonEmpty)
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.version == 2L, s"rebase must land at v2, got ${snap.version}")
    val got = DeltaReader.read(spark, d)
    assert(got.count() == 90 + 11)
    assert(got.where(col("id") <= 10).count() == 0)
    assert(got.where(col("id") >= 1000).count() == 11)
  }

  test("mutation rebase refuses when the winner may hold matching rows or touched our files") {
    // winner appends rows INSIDE the predicate envelope -> loud conflict
    val d = freshDir("mc")
    LakeWriter.writeDelta(rows(1, 100, "a").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(5, 6, "w"), d)
    val e = intercept[IllegalStateException] {
      LakeWriter.deleteWhereWithSnapshot(spark, d, "id <= 10", stale)
    }
    assert(e.getMessage.contains("may hold rows matching"))
    // winner rewrote one of the files this mutation rewrites -> conflict
    val d2 = freshDir("mw")
    LakeWriter.writeDelta(rows(1, 100, "a").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), d2)
    val stale2 = DeltaReader.snapshot(spark, d2, None)
    LakeWriter.deleteWhere(spark, d2, "id = 3") // rewrites the low file
    val e2 = intercept[IllegalStateException] {
      LakeWriter.deleteWhereWithSnapshot(spark, d2, "id <= 10", stale2)
    }
    assert(e2.getMessage.contains("which this mutation rewrites"))
    // the documented recovery works: retryOnConflict re-runs fresh
    LakeWriter.retryOnConflict() {
      LakeWriter.deleteWhere(spark, d2, "id <= 10")
    }
    assert(DeltaReader.read(spark, d2).where(col("id") <= 10).count() == 0)
  }

  test("stale update rebases past a disjoint append; values land correctly") {
    val d = freshDir("mu")
    LakeWriter.writeDelta(rows(1, 100, "a").repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(1000, 1002, "w")
      .repartitionByRange(1, col("id")).sortWithinPartitions("id"), d)
    LakeWriter.updateWhereWithSnapshot(spark, d, "id <= 5",
      Map("v" -> "v * 10"), stale)
    assert(DeltaReader.snapshot(spark, d, None).version == 2L)
    val got = DeltaReader.read(spark, d)
    assert(got.where(col("id") === 3L).head().getDouble(2) == 30.0)
    assert(got.where(col("id") === 1000L).head().getDouble(2) == 1000.0)
    assert(got.count() == 103)
  }

  test("maintenance rebase: a stale OPTIMIZE lands past a disjoint append, no re-run") {
    val d = freshDir("mo")
    LakeWriter.writeDelta(rows(1, 10, "a").repartition(4), d)   // v0: 4 files
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(11, 20, "b"), d)                // v1: the winner
    // the loser's compaction targets v1, finds it taken, and re-commits
    // the SAME staged rewrite at v2 — no conflict, no re-execution
    LakeWriter.compactDelta(spark, d, minFiles = 2, snapOverride = Some(stale))
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.version == 2L, s"rebase must land at v2, got ${snap.version}")
    assert(DeltaReader.read(spark, d).select("id").as[Long].collect().toSet ==
      (1L to 20L).toSet)
    // the fold really happened: v0's four files are gone from the live set
    assert(snap.active.count(_.path.contains("part-compact-")) >= 1)
  }

  test("maintenance rebase refuses when the winner removed a folded input") {
    val d = freshDir("moc")
    LakeWriter.writeDelta(rows(1, 10, "a").repartition(4), d)
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.deleteWhere(spark, d, "id <= 3")  // rewrites (removes) input files
    val e = intercept[IllegalStateException] {
      LakeWriter.compactDelta(spark, d, minFiles = 2, snapOverride = Some(stale))
    }
    assert(e.getMessage.contains("which this rewrite folds"), e.getMessage)
    assert(DeltaReader.read(spark, d).count() == 7)
  }

  test("maintenance rebase excludes row-tracked rewrites: a stale compaction refuses") {
    val d = freshDir("mrt")
    LakeWriter.writeDelta(rows(1, 10, "a").repartition(4), d)   // v0: 4 files
    LakeWriter.enableRowTracking(spark, d)                       // v1: preserved profile
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(11, 20, "b"), d)                 // v2: the winner
    val e = intercept[IllegalStateException] {
      LakeWriter.compactDelta(spark, d, minFiles = 2, snapOverride = Some(stale))
    }
    assert(e.getMessage.contains("a concurrent writer won"), e.getMessage)
    val snap = DeltaReader.snapshot(spark, d, None)
    assert(snap.version == 2L, s"a refused compaction must not commit, got v${snap.version}")
    assert(!snap.active.exists(_.path.contains("part-compact-")))
    assert(DeltaReader.read(spark, d).select("id").as[Long].collect().toSet ==
      (1L to 20L).toSet)
  }

  test("z-order rebase rides the commit funnel's maintenance tier") {
    val d = freshDir("moz")
    LakeWriter.writeDelta(rows(1, 100, "a").repartition(4), d)  // v0
    val stale = DeltaReader.snapshot(spark, d, None)
    LakeWriter.appendDelta(rows(101, 110, "b"), d)              // v1: the winner
    LakeWriter.compactDeltaCluster(spark, d, Seq("id"), filesPerPartition = 2,
      op = "compactDeltaZOrder", full = true, snapOverride = Some(stale))
    assert(DeltaReader.snapshot(spark, d, None).version == 2L)
    assert(DeltaReader.read(spark, d).select("id").as[Long].collect().toSet ==
      (1L to 110L).toSet)
  }
}
