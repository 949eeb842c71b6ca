package graft

import graft.functions.TextFunctions
import graft.index.{LakeIndexer, LakeTable}
import graft.mate.Mate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** MATE on a hand-built toy lake where the expected ranking is obvious. */
class MateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def lake() = {
    val s = spark
    import s.implicits._
    // table 1: joins on both (city, seg) in columns (1, 2)
    val t1 = Seq((0L, "berlin", "gold", 10), (1L, "paris", "gold", 20),
      (2L, "rome", "silver", 30), (3L, "oslo", "none", 40))
      .toDF("k", "city", "seg", "x")
    // table 2: only the city column joins
    val t2 = Seq((0L, "berlin", 1), (1L, "paris", 2), (2L, "lima", 3))
      .toDF("k", "city", "y")
    LakeIndexer.cells(Seq(
      LakeTable(1, "t1", t1, col("k")),
      LakeTable(2, "t2", t2, col("k"))))
  }

  private def input() = {
    val s = spark
    import s.implicits._
    Seq((100L, "berlin", "gold"), (101L, "paris", "gold"), (102L, "rome", "silver"),
      (103L, "lima", "gold")).toDF("rid", "city", "seg")
  }

  test("multi-attribute join search ranks the fully-matching table first") {
    val top = Mate.joinSearch(input(), col("rid"), Seq("city", "seg"), lake(), 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // t1 matches (city,seg) on rows berlin/gold, paris/gold, rome/silver → 3
    // t2 never has a seg value → no verified match
    assert(top.toSeq == Seq((1, "1_2", 3L)))
  }

  test("single-attribute search scores per-column matches") {
    val top = Mate.joinSearch(input(), col("rid"), Seq("city"), lake(), 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // t1 city col (colid 1): berlin, paris, rome → 3; t2 (colid 1): berlin, paris, lima → 3
    // tie → tableid ascending
    assert(top.toSeq == Seq((1, "1", 3L), (2, "1", 3L)))
  }

  test("word-array index at every XASH width matches the (hi,lo) fast path") {
    val s = spark
    import s.implicits._
    val t1 = Seq((0L, "berlin", "gold", 10), (1L, "paris", "gold", 20),
      (2L, "rome", "silver", 30), (3L, "oslo", "none", 40))
      .toDF("k", "city", "seg", "x")
    val t2 = Seq((0L, "berlin", 1), (1L, "paris", 2), (2L, "lima", 3))
      .toDF("k", "city", "y")
    val tables = Seq(LakeTable(1, "t1", t1, col("k")), LakeTable(2, "t2", t2, col("k")))
    val expected = Mate.joinSearch(input(), col("rid"), Seq("city", "seg"),
      LakeIndexer.cells(tables), 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    for (hs <- Seq(64, 128, 256, 512)) {
      val cellsW = LakeIndexer.cellsWords(tables, hs)
      // stored word count matches the width
      assert(cellsW.select(size(col("sk"))).first().getInt(0) == hs / 64)
      val got = Mate.joinSearchAt(input(), col("rid"), Seq("city", "seg"), cellsW, 5, hs)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == expected, s"hash_size=$hs")
    }
  }

  test("three-attribute search verifies all query columns") {
    val s = spark
    import s.implicits._
    val inp = Seq((100L, "berlin", "gold", "10"), (101L, "paris", "gold", "20"),
      (102L, "rome", "silver", "30"), (103L, "lima", "gold", "99"))
      .toDF("rid", "city", "seg", "x")
    val top = Mate.joinSearch(inp, col("rid"), Seq("city", "seg", "x"), lake(), 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // t1 rows 0-2 match (city, seg, x) → columns 1_2_3, joinability 3
    assert(top.toSeq == Seq((1, "1_2_3", 3L)))
  }

  test("enrichMulticolumn scores non-join columns of the top joinable table") {
    val s = spark
    import s.implicits._
    val inp = Seq((100L, "berlin", "gold", 1.0), (101L, "paris", "gold", 2.0),
      (102L, "rome", "silver", 3.0), (103L, "lima", "gold", 4.0))
      .toDF("rid", "city", "seg", "tgt")
    val out = graft.cocoa.Cocoa.enrichMulticolumn(
      inp, col("rid"), Seq("city", "seg"), col("tgt"), lake(), 5, 3)
      .collect().map(r => (r.getString(1), r.getDouble(3)))
    // only t1 joins on (city, seg); its join columns 1 and 2 are excluded,
    // leaving the key (colid 0) and x (colid 3), both monotone with tgt
    assert(out.map(_._1).toSet == Set("1_0", "1_3"))
    // the unmatched input row (lima) takes the mid external rank, so the
    // correlation is positive but < 1; both columns rank tgt identically
    assert(out.forall { case (_, c) => c > 0.3 })
    assert(out.map(_._2).distinct.length == 1)
  }

  test("join maps point external rows at input rows") {
    val jm = Mate.joinMaps(input(), col("rid"), Seq("city", "seg"), lake(), 5)
      .orderBy("rowid")
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(jm.toSeq == Seq((1, 0L, 100L), (1, 1L, 101L), (1, 2L, 102L)))
  }

  /** A 12-column table (colids 0-11) and a narrow one. Wide row 1 holds
    * its first token in two columns, row 2 a token in two columns that a
    * request repeats as a further token, rows 0 and 4 a further token in
    * two columns (`2_11` must sort numerically).
    */
  private def fixtureTables: Seq[LakeTable] = {
    val s = spark
    import s.implicits._
    def wide(k: Int, at: (Int, String)*) = Row.fromSeq(k.toString +:
      (1 to 11).map(i => at.toMap.getOrElse(i, s"w${k}c$i")))
    val wideRows = Seq(
      wide(0, 1 -> "berlin", 2 -> "gold", 3 -> "x10", 11 -> "gold"),
      wide(1, 1 -> "paris", 5 -> "paris", 2 -> "gold", 3 -> "x20"),
      wide(2, 1 -> "rome", 4 -> "rome", 2 -> "silver", 3 -> "x30"),
      wide(3, 1 -> "oslo", 2 -> "none", 3 -> "x40"),
      wide(4, 1 -> "lima", 10 -> "gold", 11 -> "gold", 3 -> "x99"),
      wide(5, 1 -> "berlin", 2 -> "silver", 3 -> "x10"))
    val wideSchema = StructType(("k" +: (1 to 11).map(i => s"c$i")).map(StructField(_, StringType)))
    val wideDf = s.createDataFrame(s.sparkContext.parallelize(wideRows, 1), wideSchema)
    val narrow = Seq((0L, "berlin", "gold"), (1L, "paris", "silver"), (2L, "rome", "rome"),
      (3L, "lima", "Gold")).toDF("k", "city", "seg")
    Seq(LakeTable(1, "wide", wideDf, col("k")), LakeTable(2, "narrow", narrow, col("k")))
  }

  /** Request rows (rid, city, seg, x): a duplicate raw tuple (107 = 100),
    * '' and 'nan' tokens, and a further token equal to the first (104).
    */
  private val fixtureInput = Seq(
    (100L, "berlin", "gold", "x10"), (101L, "paris", "gold", "x20"),
    (102L, "rome", "silver", "x30"), (103L, "lima", "gold", "x99"),
    (104L, "rome", "rome", "rome"), (105L, "", "gold", "x10"),
    (106L, "nan", "gold", "x10"), (107L, "berlin", "gold", "x10"),
    (108L, "oslo", "none", ""))

  private val fixtureCols = Seq("city", "seg", "x")

  private def fixtureFrame: DataFrame = {
    val s = spark
    import s.implicits._
    fixtureInput.toDF("rid" +: fixtureCols: _*)
  }

  /** Brute-force MATE matches over collected cells, prefilter left out
    * (XASH has no false negatives): per distinct raw tuple (min rid),
    * every cell holding the first token, kept when each further token
    * occurs somewhere in the same row.
    */
  private def oracle(nq: Int, cells: DataFrame): Seq[(Int, Long, Long, String)] = {
    val rows = cells.select("tableid", "rowid", "colid", "tokenized").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .groupBy(c => (c._1, c._2))
    val prep = fixtureInput
      .map(r => (r._1, Seq(r._2, r._3, r._4).take(nq)))
      .groupBy(_._2).toSeq
      .map { case (raw, rs) => (rs.map(_._1).min,
        raw.map(v => TextFunctions.cleanedTextLocal(v).take(LakeIndexer.MaxTokenLength))) }
      .filter(_._2.forall(t => !Set("", "nan", "unknown").contains(t)))
    for {
      (mid, toks) <- prep
      ((tid, rid), cs) <- rows.toSeq
      c0 <- cs.filter(_._4 == toks.head).map(_._3)
      sets = toks.tail.map(t => cs.filter(_._4 == t).map(_._3).distinct.sorted)
      if sets.forall(_.nonEmpty)
    } yield (tid, rid, mid, (c0.toString +: sets.map(_.mkString("_"))).mkString("_"))
  }

  private def rowsOf(m: DataFrame): Seq[(Int, Long, Long, String)] =
    m.select("tableid", "rowid", "MateRowID", "columns").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq.sorted

  test("verification equals a brute-force oracle for 1, 2 and 3 query columns") {
    val tables = fixtureTables
    val cells = LakeIndexer.cells(tables)
    for (nq <- 1 to 3) {
      val qcols = fixtureCols.take(nq)
      val expected = oracle(nq, cells).sorted
      val got = rowsOf(Mate.matches(fixtureFrame, col("rid"), qcols, cells))
      assert(got == expected, s"$nq query columns")
      // an all-zero query key passes the prefilter on every token match,
      // so the exact verification alone must reach the oracle
      val unfiltered = rowsOf(Mate.matches(fixtureFrame, col("rid"), qcols, cells,
        _ => array(lit(0L), lit(0L))))
      assert(unfiltered == expected, s"$nq query columns, no prefilter")
      for (hs <- Seq(64, 128, 256, 512)) {
        val words = rowsOf(Mate.matchesWords(fixtureFrame, col("rid"), qcols,
          LakeIndexer.cellsWords(tables, hs), hs))
        assert(words == got, s"$nq query columns, hash_size=$hs")
      }
    }
    // the fixture reaches every case the verification must get right
    val two = oracle(2, cells).toSet
    assert(two.contains((1, 0L, 100L, "1_2_11")), "further token in two columns, numeric order")
    assert(two.contains((1, 1L, 101L, "1_2")) && two.contains((1, 1L, 101L, "5_2")),
      "first token in two columns")
    assert(Set("1_1_4", "4_1_4").forall(c => two.contains((1, 2L, 104L, c))),
      "further token equal to the first")
    assert(two.contains((1, 4L, 103L, "1_10_11")))
    assert(!two.exists(m => m._3 == 105L || m._3 == 106L || m._3 == 107L), "'' / nan / duplicate rows")
    val three = oracle(3, cells)
    assert(three.exists(_._4 == "1_2_11_3") && !three.exists(_._3 == 108L))
  }

  test("multi-column matches is one lazy plan with no Bloom filter probe") {
    val tables = fixtureTables
    val cells = LakeIndexer.cells(tables)
    val cellsW = LakeIndexer.cellsWords(tables, 128)
    for (nq <- 2 to 3) {
      val qcols = fixtureCols.take(nq)
      var m: DataFrame = null
      assert(jobsOf { m = Mate.matches(fixtureFrame, col("rid"), qcols, cells) } == 0,
        s"Mate.matches ran a job at $nq query columns")
      assert(jobsOf { Mate.matchesWords(fixtureFrame, col("rid"), qcols, cellsW, 128) } == 0,
        s"Mate.matchesWords ran a job at $nq query columns")
      val blooms = m.queryExecution.optimizedPlan.collect {
        case p => p.expressions.count(_.exists(_.isInstanceOf[BloomFilterMightContain]))
      }.sum
      assert(blooms == 0, s"$nq query columns: ${m.queryExecution.optimizedPlan}")
    }
  }

  test("each request scans the index once and broadcasts only the prepared input") {
    val tables = fixtureTables
    val dir = java.nio.file.Files.createTempDirectory("graft_mate_plan_").toString
    LakeIndexer.writeIndex(LakeIndexer.cells(tables), s"$dir/cells", numPartitions = 4)
    LakeIndexer.writeIndex(LakeIndexer.cellsWords(tables, 128), s"$dir/words", numPartitions = 4)
    val cells = LakeIndexer.readIndex(spark, s"$dir/cells")
    val cellsW = LakeIndexer.readIndex(spark, s"$dir/words")
    val requests = (1 to 3).flatMap { nq =>
      val qcols = fixtureCols.take(nq)
      Seq(s"$nq columns" -> Mate.matches(fixtureFrame, col("rid"), qcols, cells),
        s"$nq columns, words at 128" ->
          Mate.matchesWords(fixtureFrame, col("rid"), qcols, cellsW, 128))
    }
    for ((label, m) <- requests) {
      assert(m.collect().nonEmpty, label)
      // the fixture's request frame is a local relation: every file scan
      // in the executed (final adaptive) plan reads the index
      val plan = m.queryExecution.executedPlan
      val scans = collect(plan) { case f: FileSourceScanExec => f }
      assert(scans.size == 1, s"$label: ${scans.size} index scans in\n$plan")
      val cellBroadcasts = collect(plan) { case b: BroadcastExchangeExec => b }
        .filter(b => collect(b) { case f: FileSourceScanExec => f }.nonEmpty)
      assert(cellBroadcasts.isEmpty, s"$label: index cells broadcast in\n$plan")
    }
  }

  private def searchAndMapsJobs(nq: Int): Int = {
    val cells = LakeIndexer.cells(fixtureTables)
    var top: Array[Row] = null
    val jobs = jobsOf {
      top = Mate.searchAndMaps(fixtureFrame, col("rid"), fixtureCols.take(nq), cells, 5)._1.collect()
    }
    assert(top.nonEmpty)
    jobs
  }

  for ((nq, name) <- Seq(1 -> "one", 2 -> "two", 3 -> "three"))
    test(s"a $name-column searchAndMaps stays within its job budget") {
      // the per-row frame's checkpoint and the top-k collect; `top` is a
      // local relation, so the caller's collect runs none
      val jobs = searchAndMapsJobs(nq)
      assert(jobs <= 8, s"$jobs jobs")
    }

  /** Four tables over request rows berlin/gold/x10, paris/gold/x20 and
    * rome/silver/x30: table 1 joins two rows on every width; table 2
    * joins one row through two column combinations (cities in colids 1
    * and 2), and tables 2-4 tie at joinability 1 across tables.
    */
  private def tieTables: Seq[LakeTable] = {
    val s = spark
    import s.implicits._
    Seq(
      LakeTable(1, "a", Seq((0L, "berlin", "gold", "x10"), (1L, "paris", "gold", "x20"))
        .toDF("k", "c1", "c2", "c3"), col("k")),
      LakeTable(2, "b", Seq((0L, "berlin", "q", "gold", "x10"), (1L, "r", "paris", "gold", "x20"))
        .toDF("k", "c1", "c2", "c3", "c4"), col("k")),
      LakeTable(3, "c", Seq((0L, "rome", "silver", "x30")).toDF("k", "c1", "c2", "c3"), col("k")),
      LakeTable(4, "d", Seq((0L, "rome", "silver", "x30")).toDF("k", "c1", "c2", "c3"), col("k")))
  }

  test("searchAndMaps' top and maps equal topK and mapsOf of the match set") {
    val s = spark
    import s.implicits._
    val inp = Seq((100L, "berlin", "gold", "x10"), (101L, "paris", "gold", "x20"),
      (102L, "rome", "silver", "x30")).toDF("rid" +: fixtureCols: _*)
    val cells = LakeIndexer.cells(tieTables)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    for (nq <- 1 to 3) {
      val qcols = fixtureCols.take(nq)
      val matched = Mate.matches(inp, col("rid"), qcols, cells)
      val (top, maps) = Mate.searchAndMaps(inp, col("rid"), qcols, cells, 3)
      var got: Seq[Seq[Any]] = null
      assert(jobsOf { got = rows(top) } == 0, s"$nq columns: collecting top ran a job")
      val expected = Mate.topK(matched, 3)
      assert(got == rows(expected), s"$nq columns")
      assert(rows(maps).sortBy(_.mkString(",")) ==
        rows(Mate.mapsOf(matched, expected)).sortBy(_.mkString(",")), s"$nq columns")
    }
    // table 2's two combinations tie and the lower `columns` wins; tables
    // 2-4 tie across tables and the lower table ids fill k
    val (top2, maps2) = Mate.searchAndMaps(inp, col("rid"), fixtureCols.take(2), cells, 3)
    assert(rows(top2) == Seq(Seq(1, "1_2", 2L), Seq(2, "1_3", 1L), Seq(3, "1_2", 1L)))
    assert(rows(maps2.where(col("tableid") === 2)) == Seq(Seq(2, "1_3", 0L, 100L)))
  }

  test("MATE requests of every width share their compiled code after the first") {
    val s = spark
    import s.implicits._
    // a table schema no other suite indexes, so the cell melt and the
    // code fused with it are compiled here first
    val t = Seq((0L, "berlin", "gold", java.sql.Date.valueOf("2001-01-01"), BigDecimal("1.5"), true),
      (1L, "paris", "gold", java.sql.Date.valueOf("2001-01-02"), BigDecimal("2.5"), false))
      .toDF("k", "city", "seg", "day", "amt", "flag")
    val cells = LakeIndexer.cells(Seq(LakeTable(1, "width", t, col("k"))))
    val inp = Seq((100L, "berlin", "gold", "2001-01-01"), (101L, "paris", "gold", "2001-01-02"))
      .toDF("rid", "city", "seg", "day")
    val qcols = Seq("city", "seg", "day")
    def compiled(nq: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (top, maps) = Mate.searchAndMaps(inp, col("rid"), qcols.take(nq), cells, 5)
      assert(top.collect().map(_.getLong(2)).toSeq == Seq(2L), s"$nq columns")
      assert(maps.count() == 2, s"$nq columns")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiled(1) > 0, "the fixture's code was compiled before")
    // a new width compiles at most a few classes: while the width was
    // plan structure, each width's first request compiled its own
    // verification (7 and 4 classes here after the suite's earlier
    // requests; 41 and 15-16 in the discover benchmark, whose warm-up
    // runs only a 1-column request)
    for (nq <- 2 to 3) {
      val n = compiled(nq)
      assert(n <= 3, s"$nq columns: $n classes compiled")
    }
  }
}
