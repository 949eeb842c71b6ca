package graft

import graft.sources.{DeltaReader, LakeWriter}

/** The snapshot cache (DeltaReader.SnapshotCache): N repeated reads at
  * one version build the snapshot ONCE; an entry stays valid while the
  * log files a replay from scratch reads for it (the newest checkpoint's
  * parts and sidecars at or below it, the commits and compaction files
  * after) keep their name, length and mtime, so later commits and
  * checkpoints leave it serving, while vacuum's retention cleaning or
  * an edited file invalidates it — no entry can serve a state the log
  * no longer describes. A new version advances the newest valid entry
  * below it instead of re-reading the checkpoint, equals a cache-off
  * replay, and depends on one checkpoint interval of log files.
  */
class SnapshotCacheSpec extends SparkSpec {

  private def replays: Long = DeltaReader.replayCounter.get()
  private def checkpointReads: Long = DeltaReader.checkpointReadCounter.get()

  private def mkTable(rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snapcache_").toFile.getPath
    LakeWriter.writeDelta(rows.toDF("id", "v"), dir)
    dir
  }

  test("N repeated reads at the same version replay the log once") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a"), (2L, "b")))
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "v"), dir)
    val before = replays
    val first = DeltaReader.read(spark, dir).count()
    assert(first == 3L)
    val afterFirst = replays
    assert(afterFirst > before, "the first read must replay")
    (1 to 5).foreach { _ =>
      assert(DeltaReader.read(spark, dir).count() == 3L)
      assert(DeltaReader.snapshot(spark, dir, None).version == 1L)
    }
    assert(replays == afterFirst,
      s"repeated reads at an unchanged log must be cache hits (replays went " +
        s"$afterFirst -> $replays)")
  }

  test("a commit changes the listing and forces exactly one fresh replay") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a")))
    assert(DeltaReader.read(spark, dir).count() == 1L)
    val cachedAt = replays
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(DeltaReader.read(spark, dir).count() == 2L, "the append must be visible")
    assert(replays > cachedAt, "a new commit must invalidate the cached latest")
    val afterAppend = replays
    assert(DeltaReader.read(spark, dir).count() == 2L)
    assert(replays == afterAppend, "the post-append snapshot caches again")
  }

  test("time-travel snapshots cache per version and vacuum invalidates them") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a")))
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "v"), dir)
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "v"), dir)
    // prime the cache at version 0 (below the upcoming horizon)
    assert(DeltaReader.read(spark, dir, Some(0L)).count() == 1L)
    val primed = replays
    assert(DeltaReader.read(spark, dir, Some(0L)).count() == 1L)
    assert(replays == primed, "the versionAsOf snapshot must be a cache hit")
    // vacuum at horizon 2 rewrites the log listing (checkpoint added,
    // pre-horizon commits removed): the cached version-0 entry must NOT
    // keep serving a state whose replay chain is gone
    LakeWriter.vacuumDelta(spark, dir, horizonVersion = 2L)
    val e = intercept[IllegalArgumentException] {
      DeltaReader.read(spark, dir, Some(0L))
    }
    assert(e.getMessage.contains("not present") || e.getMessage.contains("partial snapshot"),
      e.getMessage)
    // the surviving horizon version still reads, freshly replayed
    assert(DeltaReader.read(spark, dir, Some(2L)).count() == 3L)
  }

  test("spark.graft.delta.snapshotCache.enabled=false bypasses the cache") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a")))
    spark.conf.set("spark.graft.delta.snapshotCache.enabled", "false")
    try {
      val r0 = replays
      DeltaReader.snapshot(spark, dir, None)
      DeltaReader.snapshot(spark, dir, None)
      assert(replays == r0 + 2, "with the cache off every snapshot call replays")
    } finally spark.conf.unset("spark.graft.delta.snapshotCache.enabled")
  }

  test("commit-parse memo: repeated history/CDF reads parse each retained commit once") {
    val s = spark
    import s.implicits._
    def parses: Long = DeltaReader.commitParseCounter.get()
    val dir = mkTable(Seq((1L, "a")))
    (2 to 5).foreach(i => LakeWriter.appendDelta(Seq((i.toLong, "x")).toDF("id", "v"), dir))

    assert(DeltaReader.history(spark, dir).count() == 5L)
    val afterFirst = parses
    (1 to 4).foreach(_ => assert(DeltaReader.history(spark, dir).count() == 5L))
    assert(parses == afterFirst,
      s"repeated DESCRIBE HISTORY must hit the memo ($afterFirst -> $parses)")

    // CDF replay over the same commits: file/cdc actions come from the
    // SAME parse pass history populated — zero new parses
    assert(DeltaReader.readChanges(spark, dir, 0L, 4L).count() == 5L)
    assert(parses == afterFirst,
      s"readChanges over memoized commits must not re-parse ($afterFirst -> $parses)")

    // a new commit parses exactly once more on the next history call
    LakeWriter.appendDelta(Seq((6L, "y")).toDF("id", "v"), dir)
    assert(DeltaReader.history(spark, dir).count() == 6L)
    val afterAppend = parses
    assert(afterAppend >= afterFirst + 1,
      "the new commit must parse (history sees 6 versions)")
    assert(DeltaReader.history(spark, dir).count() == 6L)
    assert(parses == afterAppend, "old entries must survive the append")

    // overwriting a commit file in place (adversarial fixture edit)
    // changes its identity and forces a fresh parse
    val v0 = new java.io.File(dir, "_delta_log/" + "0" * 20 + ".json")
    val edited = new String(java.nio.file.Files.readAllBytes(v0.toPath), "UTF-8")
      .replace(""""operation":"CREATE TABLE"""", """"operation":"EDITED FIXTURE"""")
    java.nio.file.Files.write(v0.toPath, edited.getBytes("UTF-8"))
    // the direct edit invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(v0.getParentFile, s".${v0.getName}.crc").delete()
    val ops = DeltaReader.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(0L) == "EDITED FIXTURE",
      s"an edited commit file must re-parse, got ${ops(0L)}")
  }

  test("after a checkpoint, append-read rounds advance the last snapshot: no Spark job, no checkpoint read") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a"), (2L, "b")))
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "v"), dir)
    LakeWriter.checkpointDelta(spark, dir, 1L)
    val cps = checkpointReads
    (1 to 5).foreach { i =>
      LakeWriter.appendDelta(Seq((10L + i, "x")).toDF("id", "v"), dir)
      val jobs = jobsOf {
        val snap = DeltaReader.snapshot(spark, dir, None)
        assert(snap.version == 1L + i)
        assert(snap.active.size == 3 + i, snap.active.toString)
      }
      assert(jobs == 0, s"round $i: building and resolving the snapshot ran $jobs Spark jobs")
      assert(DeltaReader.read(spark, dir).count() == 3L + i)
    }
    assert(checkpointReads == cps,
      s"the rounds must advance, not re-read the checkpoint ($cps -> $checkpointReads)")
  }

  test("an advanced snapshot depends on one checkpoint interval of log files, not every commit since the first read") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a")))
    DeltaReader.snapshot(spark, dir, None).active
    (1 to 16).foreach { i =>
      LakeWriter.appendDelta(Seq((i.toLong + 1, "x")).toDF("id", "v"), dir)
      if (i % 4 == 0) LakeWriter.checkpointDelta(spark, dir, i.toLong)
      val snap = DeltaReader.snapshot(spark, dir, None)
      snap.active
      // the newest checkpoint's file plus the commits after it (before
      // the first checkpoint: every commit, at most five)
      assert(snap.sources.size <= 5, s"round $i: ${snap.sources.keys.toSeq.sorted}")
    }
    assert(DeltaReader.read(spark, dir).count() == 17L)
  }

  test("a snapshot replayed before a checkpoint advances onto it: in-memory list, checkpoint scan for the writer") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a"), (2L, "b")))
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "v"), dir)
    LakeWriter.appendDelta(Seq((30L, "cc")).toDF("id", "v"), dir)
    DeltaReader.snapshot(spark, dir, None).active // a driver list at version 2
    // a checkpoint BELOW the cached snapshot: the rebase refolds (1, 2]
    LakeWriter.checkpointDelta(spark, dir, 1L)
    LakeWriter.appendDelta(Seq((4L, "d")).toDF("id", "v"), dir)
    val cps = checkpointReads
    var snap: DeltaReader.Snapshot = null
    val jobs = jobsOf { snap = DeltaReader.snapshot(spark, dir, None); snap.active }
    assert(jobs == 0 && checkpointReads == cps,
      s"the advance onto the checkpoint ran $jobs jobs and ${checkpointReads - cps} checkpoint reads")
    assert(snap.sources.keySet.exists(_.contains(".checkpoint.")), snap.sources.keys.toString)
    // the distributed live set the checkpoint writer consumes scans the
    // checkpoint instead of rendering the driver list
    val df = snap.activeDf(spark)
    assert(df.inputFiles.exists(_.contains(".checkpoint.")), df.inputFiles.mkString(","))
    assert(df.select("path").collect().map(_.getString(0)).sorted.toSeq ==
      snap.active.map(_.path).sorted)
    LakeWriter.checkpointDelta(spark, dir, 3L)
    spark.conf.set("spark.graft.delta.snapshotCache.enabled", "false")
    try assert(DeltaReader.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 30L))
    finally spark.conf.unset("spark.graft.delta.snapshotCache.enabled")
  }

  test("a versionAsOf snapshot cached before later commits and a checkpoint stays a cache hit") {
    val s = spark
    import s.implicits._
    val dir = mkTable(Seq((1L, "a")))
    val v0 = DeltaReader.snapshot(spark, dir, Some(0L))
    assert(DeltaReader.read(spark, dir, Some(0L)).count() == 1L)
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "v"), dir)
    LakeWriter.appendDelta(Seq((3L, "c")).toDF("id", "v"), dir)
    LakeWriter.checkpointDelta(spark, dir, 2L)
    val r = replays
    assert(DeltaReader.snapshot(spark, dir, Some(0L)) eq v0)
    assert(DeltaReader.read(spark, dir, Some(0L)).count() == 1L)
    assert(replays == r, s"the version-0 entry must still hit ($r -> $replays)")
  }

  test("property: every advanced snapshot equals a cache-off replay over random logs") {
    val s = spark
    import s.implicits._
    import DeltaReader.Snapshot
    // the resolved list when `resolve` (resolving marks the snapshot,
    // so unresolved ones stay unresolved for the next advance), and the
    // distributed live set (the checkpoint writer's input) either way
    def state(sn: Snapshot, resolve: Boolean) = (sn.version,
      if (resolve) sn.active.sortBy(_.path) else Nil,
      sn.activeDf(spark).select("path", "dv_p").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq, sn.schemaJson,
      (sn.minReader, sn.minWriter, sn.readerFeatures, sn.writerFeatures),
      sn.configuration, sn.txns, sn.domainMetadata)
    def replayed(dir: String, v: Long): Snapshot = {
      spark.conf.set("spark.graft.delta.snapshotCache.enabled", "false")
      try DeltaReader.snapshot(spark, dir, Some(v))
      finally spark.conf.unset("spark.graft.delta.snapshotCache.enabled")
    }
    val seeds = 3 + sys.env.get("GRAFT_FUZZ_SEEDS").map(_.toInt).getOrElse(0)
    (1 to seeds).foreach { seed =>
      val r = new scala.util.Random(seed)
      val dir = java.nio.file.Files.createTempDirectory("graft_snapprop_").toFile.getPath
      LakeWriter.writeDelta((0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(4), dir, configuration = Map("delta.enableDeletionVectors" -> "true",
        "delta.feature.domainMetadata" -> "supported"))
      var next = 8L
      var advanced = 0
      var floor = 1L
      (1 to 14).foreach { step =>
        val latest = DeltaReader.snapshot(spark, dir, None).version
        val op = r.nextInt(8)
        op match {
          case 0 | 1 =>
            LakeWriter.appendDelta(Seq((next, s"v$next")).toDF("id", "v"), dir,
              txn = if (r.nextBoolean()) Some((s"app${r.nextInt(2)}", step.toLong)) else None)
            next += 1
          case 2 => LakeWriter.deleteWhereDv(spark, dir, s"id % 7 = ${r.nextInt(7)}")
          case 3 => LakeWriter.deleteWhere(spark, dir, s"id % 5 = ${r.nextInt(5)}")
          // at times below the latest version, so the next advance
          // rebases a snapshot replayed above the new checkpoint
          case 4 =>
            val below = Seq(latest - 1, latest - 2).filter(v => v >= 0 && r.nextBoolean() &&
              scala.util.Try(replayed(dir, v)).isSuccess)
            LakeWriter.checkpointDelta(spark, dir, below.headOption.getOrElse(latest))
          // a range of commits still present and not compacted yet
          case 5 if latest - 1 >= floor =>
            LakeWriter.compactLog(spark, dir, latest - 1, latest)
            floor = latest + 1
          case 5 => LakeWriter.setDomainMetadata(spark, dir, "app.d", s"""{"n":$step}""")
          case 6 => LakeWriter.vacuumDelta(spark, dir, latest); floor = math.max(floor, latest)
          case _ => LakeWriter.alterProperties(spark, dir, Map("graft.test.step" -> step.toString))
        }
        val before = replays
        val sn = DeltaReader.snapshot(spark, dir, None)
        if (replays > before) advanced += 1
        // resolve some snapshots so later advances take both paths:
        // derived from a resolved list, or from an unresolved base
        val resolve = r.nextBoolean()
        assert(state(sn, resolve) == state(replayed(dir, sn.version), resolve),
          s"seed $seed step $step op $op")
        // a random earlier version still in the log: cached or advanced,
        // it must equal its own replay too
        val older = scala.util.Try(replayed(dir, r.nextInt(sn.version.toInt + 1).toLong))
        older.foreach(o => assert(state(DeltaReader.snapshot(spark, dir, Some(o.version)), true) ==
          state(o, true), s"seed $seed step $step time travel to ${o.version}"))
      }
      assert(advanced > 0, s"seed $seed built no new snapshot")
    }
  }
}
