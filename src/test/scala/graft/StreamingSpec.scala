package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ≡ batch: the windowed aggregation produces the same rows
  * whether fed incrementally through a MemoryStream (with watermark)
  * or as one batch.
  */
class StreamingSpec extends SparkSpec {

  test("windowedAgg streaming matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = (0 until 200).map { i =>
      (i.toLong * 90L * 1000000000L, if (i % 3 == 0) "click" else "view", i.toDouble / 10)
    } // 90s apart → spans 5 hours
    val schema = Seq("ts", "event_type", "value")

    val mem = MemoryStream[(Long, String, Double)]
    val streamDf = mem.toDF().toDF(schema: _*)
    val q = EventStreams.windowedAgg(streamDf, Some("1 hour"))
      .writeStream.format("memory").queryName("agg_out").outputMode("complete").start()
    mem.addData(rows.take(100): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(100): _*)
    q.processAllAvailable()
    val streamed = spark.table("agg_out")
      .orderBy("wstart", "event_type")
      .collect().map(_.toSeq).toSeq
    q.stop()

    val batch = EventStreams.windowedAgg(rows.toDF(schema: _*))
      .orderBy("wstart", "event_type")
      .collect().map(_.toSeq).toSeq

    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionizeStream emits the sessions sessionizeBatch computes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val min = 60L * 1000000000L
    val t0 = 1000000L * min // away from epoch 0 (the initial watermark)
    // user 1: two sessions (gap 40min); user 2: one session
    val evs = Seq(
      EventStreams.Ev(1L, t0 + 0 * min, 1.0), EventStreams.Ev(1L, t0 + 10 * min, 2.0),
      EventStreams.Ev(1L, t0 + 50 * min, 3.0), EventStreams.Ev(1L, t0 + 60 * min, 4.0),
      EventStreams.Ev(2L, t0 + 5 * min, 5.0))
    // sentinel far in the future advances the watermark → closes all
    val sentinel = EventStreams.Ev(99L, t0 + 1000 * min, 0.0)

    val mem = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    mem.addData(sentinel)
    q.processAllAvailable()
    // one more batch so timed-out state flushes
    mem.addData(EventStreams.Ev(98L, t0 + 2000 * min, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sess_out")
      .select("user_id", "start_sec", "n_events", "sum_value")
      .where(col("user_id") < 90)
      .orderBy("user_id", "start_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    q.stop()

    val batch = EventStreams.sessionizeBatch(
      evs.toDF("user_id", "ts", "value"))
      .orderBy("user_id", "sess_id")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_sec"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("sum_value").doubleValue())).toSeq

    assert(streamed == batch)
    assert(batch.size == 3)
  }

  test("perUserTotals streaming matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val hour = 3600L * 1000000000L
    val rows = (0 until 120).map { i =>
      (i.toLong * hour, (i % 4).toLong, i.toDouble) // spans 5 days
    }
    val schema = Seq("ts", "user_id", "value")

    val mem = MemoryStream[(Long, Long, Double)]
    val q = EventStreams.perUserTotals(mem.toDF().toDF(schema: _*), Some("1 day"))
      .writeStream.format("memory").queryName("totals_out").outputMode("complete").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("totals_out")
      .orderBy("wstart", "user_id").collect().map(_.toSeq).toSeq
    q.stop()

    val batch = EventStreams.perUserTotals(rows.toDF(schema: _*))
      .orderBy("wstart", "user_id").collect().map(_.toSeq).toSeq

    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming incremental minhash accumulates exactly the full-run pair set") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w13"),   // ~ 1
      (3L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"))
    val batch2 = Seq(
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w14"),   // ~ 1, 2
      (5L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a13"))   // ~ 3

    val root = java.nio.file.Files.createTempDirectory("graft_dstream_").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.incrementalMinhash(
      mem.toDF().toDF("doc_id", "text"),
      s"$root/sigs", s"$root/pairs", s"$root/ckpt", 0.5)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$root/pairs")
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val full = graft.dedup.Dedup.minhashLsh((batch1 ++ batch2).toDF("doc_id", "text"), 0.5)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(streamed == full)
    assert(full.nonEmpty)
    // batch directories carry DeltaStream's checkpoint scope; its form
    // is pinned, or directories already on disk would stop matching
    val scope = graft.streaming.DeltaStream.checkpointScope(s"$root/ckpt")
    assert(new java.io.File(s"$root/pairs/batch=$scope-0").isDirectory)
    assert(graft.streaming.DeltaStream.checkpointScope("/lake/ckpt") == "fe6e2f8b")
  }

  test("streaming ANN maintenance: maintained index equals full re-encode, search finds new vectors") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    def v(i: Int, shift: Int) = {
      val a = Array.fill(8)(0f); a(shift) = 10f + (i % 5) * 0.1f; a(7 - shift) = 1f
      (i.toLong, a)
    }
    val base = (0 until 8).map(v(_, 0))
    val b1 = (8 until 12).map(v(_, 2))
    val b2 = (12 until 16).map(v(_, 2))

    val root = java.nio.file.Files.createTempDirectory("graft_annstream_").toString
    val model = graft.sim.Similarity.trainPq(
      (base ++ b1 ++ b2).toDF("vec_id", "embedding"), nCells = 2, m = 4, bits = 2)
    graft.sim.Similarity.writeAnnIndex(root,
      model, graft.sim.Similarity.encodePq(base.toDF("vec_id", "embedding"), model))

    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.AnnStream.incrementalAnnIndex(
      mem.toDF().toDF("vec_id", "embedding"), root, s"$root/ckpt")
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val (m2, codes) = graft.sim.Similarity.readAnnIndex(spark, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "nid", "codes", "nn").as[(Int, Long, Array[Byte], Double)]
        .collect().map(r => (r._1, r._2, r._3.toSeq, r._4)).toSet
    val full = graft.sim.Similarity.encodePq(
      (base ++ b1 ++ b2).toDF("vec_id", "embedding"), m2)
    assert(rows(codes) == rows(full))

    // a query in the streamed-in cluster finds streamed-in neighbors
    val res = graft.sim.Similarity.ivfPqSearch(
      b2.take(2).toDF("vec_id", "embedding"), codes, m2, k = 1, nProbe = 1)
      .as[(Long, Int, Long, Double)].collect()
    assert(res.nonEmpty && res.forall(_._3 >= 8L), res.toSeq.toString)
  }

  test("stream-stream interval join matches the batch join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val min = 60L * 1000000000L
    val schema = Seq("user_id", "ts", "value")
    // left: clicks; right: impressions (within/outside the 10-min bound)
    val lefts = Seq((1L, 20L * min, 1.0), (1L, 50L * min, 2.0), (2L, 30L * min, 3.0))
    val rights = Seq(
      (1L, 12L * min, 10.0),  // 8 min before left@20 → joins
      (1L, 45L * min, 11.0),  // 5 min before left@50 → joins
      (1L, 35L * min, 12.0),  // 15 min before left@50, after left@20 → joins neither
      (2L, 30L * min, 13.0),  // same instant → joins
      (3L, 30L * min, 14.0))  // no matching left user
    val memL = MemoryStream[(Long, Long, Double)]
    val memR = MemoryStream[(Long, Long, Double)]
    val q = EventStreams.intervalJoinStream(
        memL.toDF().toDF(schema: _*), memR.toDF().toDF(schema: _*),
        maxDelayMinutes = 10, watermark = Some("30 minutes"))
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    memL.addData(lefts.take(2): _*)
    memR.addData(rights.take(3): _*)
    q.processAllAvailable()
    memL.addData(lefts.drop(2): _*)
    memR.addData(rights.drop(3): _*)
    q.processAllAvailable()
    val streamed = spark.table("ij_out")
      .orderBy("user_id", "l_ts", "r_ts").collect().map(_.toSeq).toSeq
    q.stop()

    val batch = EventStreams.intervalJoinStream(
        lefts.toDF(schema: _*), rights.toDF(schema: _*), maxDelayMinutes = 10)
      .orderBy("user_id", "l_ts", "r_ts").collect().map(_.toSeq).toSeq

    assert(streamed == batch)
    assert(batch.size == 3)
  }

  test("dedupStream drops in-watermark duplicates like batch dropDuplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val sec = 1000000000L
    val rows = Seq( // (ts, user_id, event_type, value); two exact dup keys
      (100L * sec, 1L, "click", 1.0), (100L * sec, 1L, "click", 1.0),
      (160L * sec, 1L, "view", 2.0), (220L * sec, 2L, "click", 3.0),
      (220L * sec, 2L, "click", 3.0), (280L * sec, 3L, "view", 4.0))
    val schema = Seq("ts", "user_id", "event_type", "value")

    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = EventStreams.dedupStream(mem.toDF().toDF(schema: _*), Some("10 minutes"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*)
    q.processAllAvailable()
    val streamed = spark.table("dedup_out")
      .select("user_id", "ts", "event_type", "value")
      .orderBy("user_id", "ts", "event_type")
      .collect().map(_.toSeq).toSeq
    q.stop()

    val batch = EventStreams.dedupStream(rows.toDF(schema: _*))
      .select("user_id", "ts", "event_type", "value")
      .orderBy("user_id", "ts", "event_type")
      .collect().map(_.toSeq).toSeq

    assert(streamed == batch)
    assert(batch.size == 4)
  }

  test("DeltaStream sinks a stream into a Delta table exactly once, txn-guarded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_stream_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_delta_ckpt_").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.DeltaStream.writeDelta(
      mem.toDF().toDF("id", "v"), dir, ckpt, appId = "spec-sink")
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    def rows = graft.sources.DeltaReader.read(spark, dir)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // two versions: batch-0 create + batch-1 append, each carrying its
    // txn under the CHECKPOINT-SCOPED app id (batch ids only mean
    // anything within one checkpoint's offset log)
    val scoped = graft.streaming.DeltaStream.scopedAppId("spec-sink", ckpt)
    assert(graft.sources.DeltaReader.lastTxnVersion(spark, dir, scoped) == 1L)
    assert(graft.sources.DeltaReader.lastTxnVersion(spark, dir, "spec-sink") == -1L,
      "the raw appId must not be the txn identity — an unscoped watermark would " +
        "swallow a new checkpoint's restarted batch ids as replays")
    // a sink RETRY of an already-committed batch is a no-op: same
    // scoped identity, batch id at the watermark
    graft.streaming.DeltaStream.commitBatch(
      Seq((99L, "dup")).toDF("id", "v"), dir, scoped, batchId = 1L)
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "a replayed batch id at/below the txn watermark must not land twice")
    // ...while the NEXT batch id under the same identity appends
    graft.streaming.DeltaStream.commitBatch(
      Seq((4L, "d")).toDF("id", "v"), dir, scoped, batchId = 2L)
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a FRESH checkpoint is a new identity: its restarted batch ids
    // carry NEW data and must append, not vanish below the old
    // watermark (the data-loss case unscoped appIds hit)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_delta_ckpt2_").toString
    val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q2 = graft.streaming.DeltaStream.writeDelta(
      mem2.toDF().toDF("id", "v"), dir, ckpt2, appId = "spec-sink")
    mem2.addData((9L, "z"))
    q2.processAllAvailable()
    q2.stop()
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")),
      "a new checkpoint's batch 0 carries new data and must not be dropped")
    // the txn watermark survives checkpoint compaction + log retention
    // (versions: 0/1 = stream, 2 = retry-skip test append, 3 = ckpt2 batch)
    graft.sources.LakeWriter.checkpointDelta(spark, dir, 3L)
    val log = new java.io.File(dir, "_delta_log")
    (0 to 3).foreach(i => new java.io.File(log, f"$i%020d.json").delete())
    assert(graft.sources.DeltaReader.lastTxnVersion(spark, dir, scoped) == 2L,
      "txn watermarks must survive checkpointing, or retention replays every batch")
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")))
    // a crash BETWEEN _delta_log creation and the version-0 commit
    // leaves an empty log dir: the sink must take the create path, not
    // wedge on "empty _delta_log" forever
    val dir2 = java.nio.file.Files.createTempDirectory("graft_delta_empty_").toString
    new java.io.File(dir2, "_delta_log").mkdirs()
    graft.streaming.DeltaStream.commitBatch(
      Seq((1L, "a")).toDF("id", "v"), dir2, "recover-app", batchId = 0L)
    assert(graft.sources.DeltaReader.read(spark, dir2)
      .select("id", "v").as[(Long, String)].collect().toSet == Set((1L, "a")))
  }
}
