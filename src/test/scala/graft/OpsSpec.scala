package graft

import graft.ops.{AsofJoin, Sampling}
import graft.text.Contamination
import org.apache.spark.sql.functions._

/** As-of join, deterministic sampling and contamination on toy data. */
class OpsSpec extends SparkSpec {

  test("asof backward: latest right <= left per key, inclusive ties, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l10"), // after right ts 5 → v5
      (1L, 5L, "l5"),   // ties right ts 5 inclusively → v5
      (1L, 3L, "l3"),   // before any right → null
      (2L, 7L, "l7")    // key with no right rows → null
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, 5L, "v5"),
      (1L, 20L, "v20")
    ).toDF("k", "ts", "v")
    val out = AsofJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out == Map("l10" -> Some("v5"), "l5" -> Some("v5"),
      "l3" -> None, "l7" -> None))
  }

  test("asof forward: earliest right >= left per key, inclusive ties, null when none") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l10"), // next right is ts 20 → v20
      (1L, 5L, "l5"),   // ties right ts 5 inclusively → v5
      (1L, 25L, "l25"), // after all right rows → null
      (2L, 7L, "l7")    // key with no right rows → null
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, 5L, "v5"),
      (1L, 20L, "v20")
    ).toDF("k", "ts", "v")
    val out = AsofJoin.forward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    assert(out == Map("l10" -> Some("v20"), "l5" -> Some("v5"),
      "l25" -> None, "l7" -> None))
  }

  test("asof carries all value columns from the SAME matched row when values are null") {
    import spark.implicits._
    // matched right row (ts 5) has v2 = null; the older row (ts 1) must NOT
    // leak its v2 into the match
    val left = Seq((1L, 10L, "l")).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, 1L, Option("old_v1"), Option("old_v2")),
      (1L, 5L, Option("new_v1"), Option.empty[String])
    ).toDF("k", "ts", "v1", "v2")
    val back = AsofJoin.backward(left, right, Seq("k"), "ts", "ts", Seq("v1", "v2"))
      .select("v1", "v2").as[(Option[String], Option[String])].collect().toSeq
    assert(back == Seq((Some("new_v1"), None)))
    // forward mirror: earliest right >= left is ts 15 with v1 = null
    val left2 = Seq((1L, 12L, "l")).toDF("k", "ts", "tag")
    val right2 = Seq(
      (1L, 15L, Option.empty[String], Option("near_v2")),
      (1L, 20L, Option("far_v1"), Option("far_v2"))
    ).toDF("k", "ts", "v1", "v2")
    val fwd = AsofJoin.forward(left2, right2, Seq("k"), "ts", "ts", Seq("v1", "v2"))
      .select("v1", "v2").as[(Option[String], Option[String])].collect().toSeq
    assert(fwd == Seq((None, Some("near_v2"))))
  }

  test("binned range join is exact for int64 domains above 2^53") {
    import spark.implicits._
    // nanosecond-epoch-scale values where double division rounds: with
    // floor(x / w) both of these used to land in inconsistent bins
    val base = (1L << 60) + 123456789L
    val points = Seq((1L, 1L, base + 1000L)).toDF("k", "pid", "p")
    val intervals = Seq((1L, 1L, base + 999L, base + 1001L)).toDF("k", "iid", "s", "e")
    val out = graft.ops.RangeJoin.pointInInterval(
      points, intervals, Seq("k"), "p", "s", "e", binWidth = 1000L)
    assert(out.count() == 1)
  }

  test("bloom semi-filter works on string keys with no false negatives") {
    import spark.implicits._
    val big = (0L until 5000L).map(i => (s"key$i", i)).toDF("k", "v")
    val small = (0L until 5000L by 50L).map(k => (s"key$k", s"d$k")).toDF("k", "name")
    val pruned = graft.ops.BloomPrune.semiFilter(big, small, "k", "k", expectedKeys = 1000)
    val joinedPruned = pruned.join(small, Seq("k")).orderBy("k").collect().map(_.toSeq).toSeq
    val joinedPlain = big.join(small, Seq("k")).orderBy("k").collect().map(_.toSeq).toSeq
    assert(joinedPruned == joinedPlain)           // no false negatives
    assert(pruned.count() < big.count() / 5)      // most non-matches pruned
    // mismatched key types fail loudly instead of silently pruning matches
    val longKeyed = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      graft.ops.BloomPrune.semiFilter(longKeyed, small, "k", "k")
    }
  }

  test("bloom semi-filter prunes non-matching rows and never drops matches") {
    import spark.implicits._
    // spark.range, not a LocalRelation: ConvertToLocalRelation would
    // evaluate the probe at optimization time and hide it from the
    // physical plan this test asserts on
    val big = spark.range(0L, 20000L).selectExpr("id AS k", "concat('v', id) AS v")
    val small = (0L until 20000L by 100L).map(k => (k, s"d$k")).toDF("k", "name")
    val pruned = graft.ops.BloomPrune.semiFilter(big, small, "k", "k", expectedKeys = 1000)
    val joinedPruned = pruned.join(small, Seq("k")).orderBy("k").collect().map(_.toSeq).toSeq
    val joinedPlain = big.join(small, Seq("k")).orderBy("k").collect().map(_.toSeq).toSeq
    assert(joinedPruned == joinedPlain)           // no false negatives
    assert(pruned.count() < big.count() / 10)     // most non-matches pruned
    // the probe is the native might_contain expression, codegen'd —
    // no boxed-Long ScalaUDF on the big side's hot path
    val physical = pruned.queryExecution.executedPlan.toString
    assert(!physical.contains("ScalaUDF") && !physical.contains("BatchEvalPython"),
      s"semiFilter probe must stay native, plan:\n$physical")
    assert(physical.contains("might_contain") || physical.contains("BloomFilterMightContain"),
      "probe must be the BloomFilterMightContain expression")
  }

  test("binned range join equals the naive BETWEEN join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val points = (0 until 500).map(i => (i.toLong % 5, i.toLong, rnd.nextInt(1000).toLong))
      .toDF("k", "pid", "p")
    val intervals = (0 until 60).map { i =>
      val s = rnd.nextInt(950).toLong
      (i.toLong % 5, i.toLong, s, s + rnd.nextInt(120).toLong)
    }.toDF("k", "iid", "s", "e")
    val naive = points.join(intervals, Seq("k"))
      .where(col("p") >= col("s") && col("p") <= col("e"))
      .select("k", "pid", "iid").orderBy("k", "pid", "iid")
      .collect().map(_.toSeq).toSeq
    val binned = graft.ops.RangeJoin.pointInInterval(
      points, intervals, Seq("k"), "p", "s", "e", binWidth = 64)
      .select("k", "pid", "iid").orderBy("k", "pid", "iid")
      .collect().map(_.toSeq).toSeq
    assert(binned == naive)
    assert(naive.nonEmpty)
  }

  test("salted join equals the plain join on skewed keys") {
    import spark.implicits._
    // one hot key (0) dominating the big side
    val big = (0L until 5000L).map(i => (if (i % 10 == 0) 0L else i % 97, i)).toDF("k", "v")
    val dim = (0L until 97L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = big.join(dim, Seq("k")).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    val salted = graft.ops.Salting.saltedJoin(big, dim, Seq("k"), 8).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("partitioned lake writer prunes directories on the partition column") {
    import spark.implicits._
    val df = Seq((1L, "en", "aa"), (2L, "de", "bb"), (3L, "en", "cc"), (4L, "fr", "dd"))
      .toDF("doc_id", "lang", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lw_").toString + "/docs"
    graft.sources.LakeWriter.writePartitioned(df, tmp, "lang", Seq("doc_id"))
    val back = graft.sources.LakeWriter.read(spark, tmp)
    assert(back.count() == 4)
    val q = back.where(col("lang") === "en")
    assert(q.count() == 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition pruning in:\n$plan")
  }

  test("training-shard export: total, balance, reproducibility, reshuffle") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    graft.sources.LakeWriter.writeTrainingShards(docs, s"$tmp/a", 8, seed = 7L)
    val back = graft.sources.LakeWriter.read(spark, s"$tmp/a")
    assert(back.count() == 2000)
    val sizes = back.groupBy("shard").count().as[(Int, Long)].collect().toMap
    assert(sizes.size == 8 && sizes.values.forall(c => c > 150 && c < 350), sizes.toString)
    // bit-reproducible: same seed → identical per-shard ordered content
    graft.sources.LakeWriter.writeTrainingShards(docs, s"$tmp/b", 8, seed = 7L)
    def shard0(p: String) = spark.read.parquet(s"$p/shard=0")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(shard0(s"$tmp/a") == shard0(s"$tmp/b"))
    // new seed → a genuinely different shuffle
    graft.sources.LakeWriter.writeTrainingShards(docs, s"$tmp/c", 8, seed = 8L)
    assert(shard0(s"$tmp/a") != shard0(s"$tmp/c"))
  }

  test("stratified hash sample is deterministic and respects per-stratum rates") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val sampled = Sampling.stratifiedHashSample(df, col("id"), col("s"), Map("a" -> 2), 8)
    val counts = sampled.groupBy("s").count().as[(String, Long)].collect().toMap
    // a: 2/16 = 12.5% of 2000 ≈ 250; b: 8/16 = 50% of 2000 ≈ 1000
    assert(counts("a") > 150 && counts("a") < 350, s"a=${counts("a")}")
    assert(counts("b") > 850 && counts("b") < 1150, s"b=${counts("b")}")
    // deterministic: same filter → identical sample
    assert(sampled.collect().toSet == Sampling
      .stratifiedHashSample(df, col("id"), col("s"), Map("a" -> 2), 8).collect().toSet)
  }

  test("columnPairSimilarity: bucket-explode pairs match the self-join form; hot-token guard caps") {
    import spark.implicits._
    // cols A,B share t1,t2; C shares t1 only; t1 is in 3 columns
    val cells = Seq(
      ("A", "t1"), ("A", "t2"), ("A", "t3"),
      ("B", "t1"), ("B", "t2"),
      ("C", "t1"), ("C", "t9")
    ).toDF("table_col_id", "tokenized")
    val out = graft.cocoa.Cocoa.columnPairSimilarity(cells, 10)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // A∩B = {t1,t2} / |A∪B| = 3+2-2; A∩C = {t1} / 3+2-1; B∩C = {t1} / 2+2-1
    assert(out(("A", "B")) == ((2L, 2.0 / 3)))
    assert(out(("A", "C")) == ((1L, 1.0 / 4)))
    assert(out(("B", "C")) == ((1L, 1.0 / 3)))
    // guard at df<3 drops the 3-column token t1: A-C and B-C lose their
    // only shared token; A-B keeps t2
    val capped = graft.cocoa.Cocoa.columnPairSimilarity(cells, 10, maxTokenDf = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped == Map(("A", "B") -> 1L))
  }

  test("withDenseRowId: dense 0-based ids, multi-partition, (partition, offset) order") {
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 8).select(col("id").as("v"))
    val out = graft.sources.LakeReader.withDenseRowId(df)
    assert(out.rdd.getNumPartitions == 8, "row-id stamping must not collapse to one partition")
    val ids = out.select("__rid").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 1000L))
    // within-partition order preserved: v ascending within each partition
    // and ids contiguous per partition in partition order
    val byPart = out.select(spark_partition_id().as("p"), col("v"), col("__rid"))
      .as[(Int, Long, Long)].collect().groupBy(_._1)
    byPart.values.foreach { rows =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
      val rids = sorted.map(_._3)
      assert(rids.last - rids.head == rids.length - 1)
    }
  }

  test("z-ordered layout bounds BOTH columns per file; x-sort leaves y unbounded") {
    val df = spark.range(20000).selectExpr(
      "cast(pmod(hash(id, 1), 10000) AS double) / 10000 AS x",
      "cast(pmod(hash(id, 2), 10000) AS double) / 10000 AS y")
    val zdir = java.nio.file.Files.createTempDirectory("graft_z_").toString
    val xdir = java.nio.file.Files.createTempDirectory("graft_x_").toString
    graft.sources.LakeWriter.writeZOrdered(df, zdir, "x", "y", 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xdir)
    def meanWidth(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.map { f =>
        spark.read.parquet(f.getPath)
          .agg(max(col(c)) - min(col(c))).head().getDouble(0)
      }.sum / files.length
    }
    val zy = meanWidth(zdir, "y")
    val zx = meanWidth(zdir, "x")
    val xy = meanWidth(xdir, "y")
    // a 16-file split of the 16-bit z-curve covers ≈quadrant-sized
    // rectangles: both dims bounded; the x-sorted layout leaves y at
    // ~full width per file, so min/max stats cannot prune y predicates
    assert(zy < 0.6 * xy, s"zy=$zy xy=$xy")
    assert(zx < 0.6, s"zx=$zx")
  }

  test("contamination counts shared shingles against the benchmark set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e"),       // shingles: abc bcd cde → shares abc bcd
      (2L, "x y z w"),         // xyz yzw → none shared
      (3L, "a b")              // too short → 0 shingles
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d q")).toDF("doc_id", "text") // abc bcd cdq
    val out = Contamination.ngramOverlap(corpus, bench, tau = 0.5)
      .select("doc_id", "n_shingles", "n_shared", "contaminated")
      .as[(Long, Int, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3, 2L, true)))  // 2/3 ≥ 0.5
    assert(out(2L) == ((2L, 2, 0L, false)))
    assert(out(3L) == ((3L, 0, 0L, false)))
  }

  test("bucketed tables join with zero shuffles and match the plain join") {
    import spark.implicits._
    val left = (0 until 200).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (100 until 300).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    graft.sources.LakeWriter.writeBucketed(left, "bk_left", "k", 4)
    graft.sources.LakeWriter.writeBucketed(right, "bk_right", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path — the claim under test is that
      // bucketing replaces the per-side hash exchanges, not that a
      // small table can be broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      val expected = left.join(right, "k").select("k", "lv", "rv")
        .collect().map(_.toSeq).toSet
      assert(joined.select("k", "lv", "rv").collect().map(_.toSeq).toSet == expected)
      assert(expected.size == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }

  test("temperature mix: α interpolates natural→uniform shares, deterministic picks") {
    import spark.implicits._
    val df = ((0 until 80).map(i => (i.toLong, "big")) ++
      (80 until 100).map(i => (i.toLong, "small"))).toDF("doc_id", "src")
    def shares(alpha: Double) =
      graft.ops.Sampling.temperatureMix(df, "src", 40L, alpha, "doc_id")
        .groupBy("src").count().as[(String, Long)].collect().toMap
    // α=1 keeps the natural 80/20 split; α=0 is uniform; α=0.5 between
    assert(shares(1.0) == Map("big" -> 32L, "small" -> 8L))
    assert(shares(0.0) == Map("big" -> 20L, "small" -> 20L))
    assert(shares(0.5) == Map("big" -> 26L, "small" -> 13L))
    // picks are md5-deterministic: same ids under any partitioning
    val ids1 = graft.ops.Sampling.temperatureMix(df, "src", 40L, 0.5, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val ids2 = graft.ops.Sampling.temperatureMix(df.repartition(9), "src", 40L, 0.5, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("heavy hitters: sketch-pruned result equals the exact groupBy") {
    import spark.implicits._
    // skewed head + a long unit tail the sketch must prune
    val words = Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(120)("gamma") ++ Seq.fill(80)("delta") ++
      (0 until 1000).map(i => s"tail$i")
    val rows = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "key").repartition(7)
    val got = graft.ops.HeavyHitters.frequentKeys(rows, col("key"), 80L, maxMapSize = 256)
      .as[(String, Long)].collect().toMap
    val exact = rows.groupBy("key").count().where(col("count") >= 80)
      .as[(String, Long)].collect().toMap
    assert(got == exact)
    assert(got == Map("alpha" -> 500L, "beta" -> 300L, "gamma" -> 120L, "delta" -> 80L))
  }

  test("heavy hitters: a threshold inside the sketch error bound fails loudly") {
    import spark.implicits._
    val rows = (0 until 50000).map(i => (i.toLong, s"k$i")).toDF("id", "key")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.HeavyHitters.frequentKeys(rows, col("key"), 2L, maxMapSize = 64).collect()
    }
    assert(ex.getMessage.contains("error bound"))
  }

  test("gapFill: dense span, zero+flag fills, LOCF with leading-gap null") {
    import spark.implicits._
    val h = 3600L * 1000 * 1000 * 1000 // hour in nanos
    // key a: observations in hours 2, 5 (gap 3-4); key b: hour 1 only
    val events = Seq(
      ("a", 2 * h + 5L, 10.0), ("a", 2 * h + 9L, 2.5), ("a", 5 * h, 7.0),
      ("b", 1 * h + 1L, 4.0)).toDF("k", "ts", "value")
    val out = graft.ops.TimeSeries.gapFill(events, "k", "ts",
        org.apache.spark.sql.functions.col("value"))
      .orderBy("k", "bucket_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getDecimal(3)).map(_.doubleValue), r.getBoolean(4),
        Option(r.getDecimal(5)).map(_.doubleValue)))
    assert(out.toSeq == Seq(
      ("a", 2 * 3600L, 2L, Some(12.5), false, Some(12.5)),
      ("a", 3 * 3600L, 0L, Some(0.0), true, Some(12.5)),
      ("a", 4 * 3600L, 0L, Some(0.0), true, Some(12.5)),
      ("a", 5 * 3600L, 1L, Some(7.0), false, Some(7.0)),
      ("b", 1 * 3600L, 1L, Some(4.0), false, Some(4.0))))
  }

  test("funnel: ordering and gap semantics on a hand-built vector") {
    import spark.implicits._
    val m = 60L * 1000 * 1000 * 1000 // a minute in nanos
    val events = Seq(
      // u1 converts fully: view@1m, click@2m, purchase@3m
      (1L, "view", 1 * m), (1L, "click", 2 * m), (1L, "purchase", 3 * m),
      // u2 clicked BEFORE viewing: order violation, stops at view
      (2L, "click", 1 * m), (2L, "view", 2 * m),
      // u3 clicked past the gap: stops at view
      (3L, "view", 1 * m), (3L, "click", 20 * m),
      // u4 never viewed: not in the funnel at all
      (4L, "click", 1 * m), (4L, "purchase", 2 * m),
      // u5: first click in-gap, purchase measured from the CLICK time
      (5L, "view", 1 * m), (5L, "click", 5 * m), (5L, "purchase", 30 * m)
    ).toDF("user_id", "event_type", "ts")
    val out = graft.ops.EventAnalytics.funnel(events,
        Seq("view", "click", "purchase"), 10 * m)
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 1L)),
      out.toSeq.toString)
  }

  test("funnel: Spark jobs grow linearly in the number of stages") {
    // every user converts every stage, so no shrinking user set can
    // hide the lineage shape: each stage's localCheckpoint keeps K
    // stages at ~K jobs, where the chained per-stage lineage re-runs
    // stages 1..i-1 for every stage i and grows quadratically
    val users = 50L
    def jobsAt(stages: Int): Int = {
      val ev = spark.range(0, users * stages, 1, 4)
        .selectExpr(s"id % ${users}L AS user_id", s"id DIV ${users}L AS s")
        .selectExpr("user_id", "s * 1000000000L + user_id AS ts",
          "concat('s', s + 1) AS event_type")
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      val jobs = jobsOf {
        rows = graft.ops.EventAnalytics.funnel(ev, (1 to stages).map(i => s"s$i"),
          10L * 1000 * 1000 * 1000).collect()
      }
      assert(rows.map(r => (r.getInt(0), r.getLong(2))).toSeq ==
        (1 to stages).map(_ -> users), rows.toSeq.toString)
      jobs
    }
    val k = 4
    val (jk, j2k) = (jobsAt(k), jobsAt(2 * k))
    assert(j2k <= 2.5 * jk, s"jobs: $jk at K=$k, $j2k at K=${2 * k}")
  }

  test("cohortRetention: offsets measured from each user's first day") {
    import spark.implicits._
    val d = 86400L * 1000 * 1000 * 1000
    val events = Seq(
      (1L, 0 * d), (1L, 2 * d),          // cohort 0, offsets 0 and 2
      (2L, 0 * d + 5L), (2L, 1 * d),     // cohort 0, offsets 0 and 1
      (3L, 2 * d), (3L, 2 * d + 7L)      // cohort 2, offset 0 (twice -> once)
    ).toDF("user_id", "ts")
    val out = graft.ops.EventAnalytics.cohortRetention(events)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
  }

  test("intervalSelfOverlap: exactly-once across shared bins, inclusive endpoints") {
    import spark.implicits._
    val iv = Seq(
      (1L, "k", 0L, 250L),    // spans bins 0,1,2 with binWidth=100
      (2L, "k", 90L, 210L),   // overlaps 1 across bins 0,1,2 -> ONE row
      (3L, "k", 250L, 260L),  // touches 1 exactly at 250 (inclusive)
      (4L, "k", 400L, 500L),  // overlaps nobody
      (5L, "x", 0L, 1000L)    // different key: never paired
    ).toDF("id", "k", "lo", "hi")
    val out = graft.ops.RangeJoin.intervalSelfOverlap(iv, Seq("k"), "id", "lo", "hi", 100L)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("overlap_start"), r.getAs[Long]("overlap_end")))
    assert(out.toSeq == Seq((1L, 2L, 90L, 210L), (1L, 3L, 250L, 250L)))
  }

  test("interval_overlap harness intervals genuinely cross day bins") {
    // the oracle row only proves the multi-bin exactly-once rule if the
    // harness's intervals actually span multiple bins — pin that here
    // (the r9 harness binned per (user, day), so every span was
    // single-bin and the dedup rule went unexercised in the oracle)
    import org.apache.spark.sql.functions._
    val day = 86400L * 1000 * 1000 * 1000
    val iv = graft.queries.Q.t(spark, sf(), "events")
      .groupBy(col("user_id"), expr("ts DIV 604800000000000L").as("wk"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    val spans = iv.agg(
      count(lit(1)).as("n"),
      sum(when(expr(s"hi DIV ${day}L") > expr(s"lo DIV ${day}L"), 1L)
        .otherwise(0L)).as("multi")).head()
    assert(spans.getLong(1) * 2 > spans.getLong(0),
      s"harness must be dominated by multi-bin spans, got ${spans.getLong(1)}/${spans.getLong(0)}")
  }
}
