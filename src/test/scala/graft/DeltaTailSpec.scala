package graft

import graft.sources.{DeltaReader, LakeWriter}
import graft.streaming.{DeltaStream, DeltaTail}
import org.apache.spark.sql.DataFrame

class DeltaTailSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath

  private def rows(df: DataFrame): Set[(Long, String)] = {
    val s = spark
    import s.implicits._
    df.select("id", "v").as[(Long, String)].collect().toSet
  }

  test("tail delivers the initial snapshot, then appends as batches, compactions as empty ones") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_")
    val cp = tmp("graft_tail_cp_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), dir)
    var seen = Vector.empty[(Long, Set[(Long, String)])]
    def sink(df: DataFrame, v: Long): Unit = seen :+= (v, rows(df))

    // batch 1: the full snapshot at poll time
    assert(DeltaTail.pollOnce(spark, dir, cp, sink) == Some(0L))
    assert(seen == Vector((0L, Set((0L, "a")))))
    // nothing new → no batch, watermark holds
    assert(DeltaTail.pollOnce(spark, dir, cp, sink).isEmpty)

    // two appends → ONE catch-up batch carrying exactly the new rows
    LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v"), dir)
    LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v"), dir)
    assert(DeltaTail.pollOnce(spark, dir, cp, sink) == Some(2L))
    assert(seen.last == (2L, Set((1L, "b"), (2L, "c"))))

    // the union of delivered batches ≡ the batch read
    assert(seen.flatMap(_._2).toSet == rows(DeltaReader.read(spark, dir)))

    // a compaction commit is pure layout movement → an EMPTY batch
    LakeWriter.compactDelta(spark, dir)
    assert(DeltaTail.pollOnce(spark, dir, cp, sink) == Some(3L))
    assert(seen.last._2.isEmpty, seen.last.toString)
  }

  test("a dataChange=true remove (delete/rewrite) refuses loudly instead of streaming wrong") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_rm_")
    val cp = tmp("graft_tail_rm_cp_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), dir)
    assert(DeltaTail.pollOnce(spark, dir, cp, (_, _) => ()) == Some(0L))
    // hand-write a delete commit: remove with dataChange=true
    val snap = DeltaReader.snapshot(spark, dir, None)
    val log = new java.io.File(dir, "_delta_log")
    java.nio.file.Files.write(new java.io.File(log, f"${1L}%020d.json").toPath,
      s"""{"remove":{"path":"${snap.active.head.path}","deletionTimestamp":1,"dataChange":true}}"""
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaTail.pollOnce(spark, dir, cp, (_, _) => ())
    }
    assert(e.getMessage.contains("dataChange=true"), e.getMessage)
  }

  test("maxVersionsPerTrigger bounds catch-up batches; drain equivalence unchanged") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_rate_")
    val cp = tmp("graft_tail_rate_cp_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), dir)
    var seen = Vector.empty[(Long, Set[(Long, String)])]
    def sink(df: DataFrame, v: Long): Unit = seen :+= (v, rows(df))
    assert(DeltaTail.pollOnce(spark, dir, cp, sink, Some(2)) == Some(0L))

    // five appends behind the watermark → capped polls advance it by
    // at most 2 versions each, delivering exactly those versions' rows
    (1L to 5L).foreach(i => LakeWriter.appendDelta(Seq((i, s"v$i")).toDF("id", "v"), dir))
    assert(DeltaTail.pollOnce(spark, dir, cp, sink, Some(2)) == Some(2L))
    assert(seen.last == (2L, Set((1L, "v1"), (2L, "v2"))))
    assert(DeltaTail.pollOnce(spark, dir, cp, sink, Some(2)) == Some(4L))
    assert(seen.last == (4L, Set((3L, "v3"), (4L, "v4"))))
    assert(DeltaTail.pollOnce(spark, dir, cp, sink, Some(2)) == Some(5L))
    assert(seen.last == (5L, Set((5L, "v5"))))
    assert(DeltaTail.pollOnce(spark, dir, cp, sink, Some(2)).isEmpty)
    // union of capped batches ≡ the batch read
    assert(seen.flatMap(_._2).toSet == rows(DeltaReader.read(spark, dir)))

    // capped drain on a fresh checkpoint: the initial snapshot is one
    // consistent version and ignores the cap — one batch, full table
    val cp2 = tmp("graft_tail_rate_cp2_")
    var seen2 = Set.empty[(Long, String)]
    assert(DeltaTail.drain(spark, dir, cp2, (df, _) => seen2 ++= rows(df), Some(1)) == 1)
    assert(seen2 == rows(DeltaReader.read(spark, dir)))
    // ...and a capped drain that starts BEHIND catches up one version
    // per batch
    (6L to 8L).foreach(i => LakeWriter.appendDelta(Seq((i, s"v$i")).toDF("id", "v"), dir))
    assert(DeltaTail.drain(spark, dir, cp2, (df, _) => seen2 ++= rows(df), Some(1)) == 3)
    assert(seen2 == rows(DeltaReader.read(spark, dir)))
  }

  test("a corrupt watermark file refuses loudly instead of redelivering from scratch") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_wm_")
    val cp = tmp("graft_tail_wm_cp_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), dir)
    assert(DeltaTail.pollOnce(spark, dir, cp, (_, _) => ()) == Some(0L))
    // simulate a crash mid-write of a NON-atomic watermark (the shape
    // the write-then-rename protocol prevents): empty file
    java.nio.file.Files.write(
      new java.io.File(cp, "delta_tail_version").toPath, Array.empty[Byte])
    val e = intercept[IllegalArgumentException] {
      DeltaTail.pollOnce(spark, dir, cp, (_, _) => ())
    }
    assert(e.getMessage.contains("delta_tail_version"), e.getMessage)
  }

  test("tail into the Delta sink is exactly-once end-to-end across a watermark crash") {
    val s = spark
    import s.implicits._
    val src = tmp("graft_tail_src_")
    val mirror = tmp("graft_tail_mir_")
    val cp = tmp("graft_tail_e2e_cp_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v"), src)
    LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v"), src)
    def sink(df: DataFrame, v: Long): Unit =
      DeltaStream.commitBatch(df, mirror, "tail-mirror", v)
    assert(DeltaTail.drain(spark, src, cp, sink) == 1)
    assert(rows(DeltaReader.read(spark, mirror)) == rows(DeltaReader.read(spark, src)))

    LakeWriter.appendDelta(Seq((3L, "d")).toDF("id", "v"), src)
    assert(DeltaTail.drain(spark, src, cp, sink) == 1)
    assert(rows(DeltaReader.read(spark, mirror)) == rows(DeltaReader.read(spark, src)))

    // crash before the watermark write: the batch redelivers, the
    // sink's txn watermark (version-scoped) drops it — exactly once
    new java.io.File(cp, "delta_tail_version").delete()
    assert(DeltaTail.drain(spark, src, cp, sink) == 1) // redelivered initial snapshot
    assert(rows(DeltaReader.read(spark, mirror)) == rows(DeltaReader.read(spark, src)))
    // and the mirror's version count did not grow (no duplicate append)
    val mirrorSnap = DeltaReader.snapshot(spark, mirror, None)
    assert(mirrorSnap.version == 1L, s"mirror grew to ${mirrorSnap.version}")
  }

  test("a tail window crossing a column-mapping REMOVAL delivers per-version (no null-misread)") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_cmrm_")
    LakeWriter.writeDeltaMapped(
      (0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)         // v0
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), dir)        // v1: PHYSICAL names
    LakeWriter.removeColumnMapping(spark, dir)                          // v2
    LakeWriter.appendDelta(Seq((11L, "b")).toDF("id", "v"), dir)        // v3: logical names
    // the straddling window scans v1's physically-keyed append under
    // ITS metadata and v3's under the post-removal one — both rows
    // arrive with REAL values (the single toVersion-schema scan would
    // silently null-misread v1's — the r17 repro)
    assert(rows(DeltaTail.changes(spark, dir, 0L, 3L)) ==
      Set((10L, "a"), (11L, "b")))
    // windows on either side of the transition read the fast path
    assert(rows(DeltaTail.changes(spark, dir, 0L, 1L)) == Set((10L, "a")))
    assert(rows(DeltaTail.changes(spark, dir, 2L, 3L)) == Set((11L, "b")))
    // ROUND TRIP: a RE-UPGRADE after the removal makes the window
    // ENDPOINTS agree ('name' at v1, 'name' at v6) — an endpoint-only
    // comparison takes the fast single-scan path and null-misreads
    // v1's add (keyed by the ORIGINAL physical names) under the new
    // mapping; the in-window restatement walk routes per-version
    LakeWriter.appendDelta(Seq((12L, "c")).toDF("id", "v"), dir)        // v4
    LakeWriter.alterProperties(spark, dir,
      Map("delta.columnMapping.mode" -> "name"))                        // v5
    LakeWriter.appendDelta(Seq((13L, "d")).toDF("id", "v"), dir)        // v6
    assert(rows(DeltaTail.changes(spark, dir, 1L, 6L)) ==
      Set((11L, "b"), (12L, "c"), (13L, "d")))
    assert(rows(DeltaTail.changes(spark, dir, 0L, 6L)) ==
      Set((10L, "a"), (11L, "b"), (12L, "c"), (13L, "d")))
  }

  test("a tail window crossing a column-mapping removal and ADD COLUMNS null-fills the earlier slice") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_tail_cmadd_")
    val cp = tmp("graft_tail_cmadd_cp_")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), dir)       // v0
    assert(DeltaTail.pollOnce(spark, dir, cp, (_, _) => ()) == Some(0L))
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), dir)           // v1: physical names
    LakeWriter.removeColumnMapping(spark, dir)                              // v2
    LakeWriter.alterAddColumns(spark, dir, Seq("w" -> "double"))            // v3
    LakeWriter.appendDelta(Seq((11L, "b", 9.5)).toDF("id", "v", "w"), dir) // v4
    // v1's slice reads under its own two-column metadata and projects
    // to the window-end shape: w null-fills instead of failing the union
    def rows3(df: DataFrame): Set[(Long, String, Option[Double])] =
      df.selectExpr("id", "v", "w").as[(Long, String, Option[Double])].collect().toSet
    val want = Set((10L, "a", None), (11L, "b", Some(9.5)))
    assert(rows3(DeltaTail.changes(spark, dir, 0L, 4L)) == want)
    var polled = Set.empty[(Long, String, Option[Double])]
    assert(DeltaTail.pollOnce(spark, dir, cp, (df, _) => polled = rows3(df)) == Some(4L))
    assert(polled == want, polled.toString)
  }

  test("a tail window crossing a column-mapping removal carries renamed columns by identity, never null") {
    val s = spark
    import s.implicits._
    def rowsOf(df: DataFrame, cols: String*): Set[Seq[Any]] =
      df.selectExpr(cols: _*).collect().map(_.toSeq).toSet
    // rename, then removal: v1's slice reads (id, v) under its own
    // metadata; its v values arrive under the window-end name x
    val dir = tmp("graft_tail_cmren_")
    val cp = tmp("graft_tail_cmren_cp_")
    LakeWriter.writeDeltaMapped(Seq((0L, "z")).toDF("id", "v"), dir)       // v0
    assert(DeltaTail.pollOnce(spark, dir, cp, (_, _) => ()) == Some(0L))
    LakeWriter.appendDelta(Seq((10L, "a")).toDF("id", "v"), dir)           // v1
    LakeWriter.renameColumn(spark, dir, "v", "x")                           // v2
    LakeWriter.removeColumnMapping(spark, dir)                              // v3
    LakeWriter.appendDelta(Seq((11L, "b")).toDF("id", "x"), dir)           // v4
    val want = Set(Seq(10L, "a"), Seq(11L, "b"))
    assert(rowsOf(DeltaTail.changes(spark, dir, 0L, 4L), "id", "x") == want)
    var polled = Set.empty[Seq[Any]]
    assert(DeltaTail.pollOnce(spark, dir, cp, (df, _) => polled = rowsOf(df, "id", "x")) ==
      Some(4L))
    assert(polled == want, polled.toString)
    // a name REUSED after a rename or a drop is a different column:
    // v1's values go to x (renamed) and nowhere (dropped w), the new v
    // and w null-fill for v1 (an upgraded table, whose first physical
    // names are the logical ones, so the re-added columns get fresh ones)
    val dir2 = tmp("graft_tail_cmreuse_")
    LakeWriter.writeDelta(Seq((0L, "z", 0.5)).toDF("id", "v", "w"), dir2)       // v0
    LakeWriter.appendDelta(Seq((10L, "a", 1.5)).toDF("id", "v", "w"), dir2)     // v1
    LakeWriter.alterProperties(spark, dir2,
      Map("delta.columnMapping.mode" -> "name"))                                 // v2
    LakeWriter.renameColumn(spark, dir2, "v", "x")                               // v3
    LakeWriter.dropColumn(spark, dir2, "w")                                      // v4
    LakeWriter.alterAddColumns(spark, dir2, Seq("v" -> "string", "w" -> "double")) // v5
    LakeWriter.removeColumnMapping(spark, dir2)                                  // v6
    LakeWriter.appendDelta(Seq((11L, "b", "c", 2.5)).toDF("id", "x", "v", "w"), dir2) // v7
    assert(rowsOf(DeltaTail.changes(spark, dir2, 0L, 7L), "id", "x", "v", "w") ==
      Set(Seq(10L, "a", null, null), Seq(11L, "b", "c", 2.5)))
  }
}
