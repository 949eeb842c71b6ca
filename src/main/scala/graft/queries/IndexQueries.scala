package graft.queries

import graft.functions.{BloomHash, SimHash, TextFunctions}
import graft.index.{CocoaIndex, LakeIndexer, TestLake}
import graft.sources.LakeReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index & tokenization layer — SURVEY.md §2.1. */
object IndexQueries {
  import Q._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 1. reference tokenizer over the documents corpus
    "tok_clean" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.cleanedText(col("text")).as("tok"))
        .orderBy("doc_id")
    }),

    // 3. inverted cell index over the demo lake (tokens part checked
    // against SQL; super keys covered by xash_index + unit vectors)
    "cell_index" -> ((s, dir) => {
      TestLake.cells(s, dir)
        .select("tokenized", "tableid", "colid", "rowid", "table_col_id")
        .orderBy("tableid", "rowid", "colid")
    }),

    // 7b. the SAME cell index built through the merged wide-lake path
    // (readFolderMerged + cellsMerged over a folder of csv files): the
    // ingestion design a 10^4-table lake actually uses, checked
    // rows+schema+hash against the same oracle shape as cell_index
    "cell_index_merged" -> ((s, dir) => {
      TestLake.cellsMergedDemo(s, dir)
        .select("tokenized", "tableid", "colid", "rowid", "table_col_id")
        .orderBy("tableid", "rowid", "colid")
    }),

    // posting-list retrieval for a token set (the reference's
    // get_concatinated_posting_list surface)
    "posting_list" -> ((s, dir) =>
      graft.index.LakeIndexer.postingList(TestLake.cells(s, dir),
        Seq("germany", "france", "automobile")).orderBy("pl")),

    // 2. XASH super keys per row, oracle-checked against a fully
    // independent SQL reimplementation of generate_XASH (see oracles)
    "xash_index" -> ((s, dir) => {
      TestLake.cells(s, dir)
        .select("tableid", "rowid", "sk_hi", "sk_lo")
        .distinct()
        .orderBy("tableid", "rowid")
    }),

    // 4. column headers
    "col_headers" -> ((s, dir) =>
      LakeIndexer.columnHeaders(s, TestLake.tables(s, dir))
        .orderBy("tableid", "colid")),

    // 5. table info
    "table_info" -> ((s, dir) =>
      LakeIndexer.tableInfo(TestLake.tables(s, dir))
        .orderBy("tableid")),

    // 5b. table info through the merged wide-lake path: catalog-driven
    // left join against per-group counts (the zero-row-safe form),
    // same oracle shape as table_info under the merged tableids
    "table_info_merged" -> ((s, dir) =>
      TestLake.tableInfoMergedDemo(s, dir).orderBy("tableid")),

    // 6. COCOA order index — scalar stats vs SQL oracle...
    "cocoa_index_stats" -> ((s, dir) =>
      CocoaIndex.stats(TestLake.cells(s, dir))),

    // ...and the packed array product's scalar projection — lengths,
    // min_index, is_numeric all oracle-checked from the same SQL CTEs
    // (arrays themselves stay out of the compare: renderings differ
    // between the driver's two parquet readers)
    "cocoa_index_full" -> ((s, dir) =>
      CocoaIndex.build(TestLake.cells(s, dir))
        .select(col("table_col_id"), col("is_numeric"), col("min_index"),
          size(col("order_list")).as("order_len"), length(col("binary_list")).as("bin_len"))
        .orderBy("table_col_id")),

    // 7. multi-format ingestion: parquet → csv/tsv/json → same counts
    "lake_ingest" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft_lake_").toString
      nation.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation.csv")
      nation.write.mode("overwrite").option("header", "true").option("delimiter", "\t").csv(s"$tmp/nation.tsv")
      nation.write.mode("overwrite").json(s"$tmp/nation.json")
      Seq("csv", "tsv", "json").map { f =>
        LakeReader.read(s, s"$tmp/nation.$f", Some(nation.schema))
          .agg(count(lit(1)).as("n"), sum(col("n_nationkey").cast("long")).as("key_sum"))
          .select(lit(f).as("fmt"), col("n"), col("key_sum"))
      }.reduce(_ unionByName _).orderBy("fmt")
    }),

    // 8. MD5 token hash (maco/util.py:227) via built-in md5
    "md5_tokens" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          md5(TextFunctions.cleanedText(col("p_name"))).as("h"))
        .orderBy("p_partkey")
    }),

    // 9. SimHash fingerprints: fast 64-bit mode + the reference-exact
    // 128-bit md5 mode, BOTH oracle-checked against independent SQL
    // reimplementations (FNV via a HUGEINT list_reduce fold, md5 via
    // per-bit digest votes; see oracles)
    "simhash_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.XashKernel.simhashCol(col("text")).as("sh"),
          SimHash.simhash128Udf(col("text")).as("sh128"))
        .select(col("doc_id"), col("sh"),
          col("sh128._1").as("sh128_hi"), col("sh128._2").as("sh128_lo"))
        .orderBy("doc_id")
    }),

    // 9b. the reference-exact md5 SimHash proven against a fully
    // INDEPENDENT SQL reimplementation (3-gram features, per-bit md5
    // majority vote) — upgrades the md5 mode from unit-vector-pinned
    // to oracle-checked end to end
    "simhash128_ref" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), SimHash.simhash128Udf(col("p_name")).as("sh"))
        .select(col("p_partkey"),
          col("sh._1").as("sh128_hi"), col("sh._2").as("sh128_lo"))
        .orderBy("p_partkey")),

    // 10. Bloom-filter row hashes over the customer table — oracle-
    // checked against an independent SQL reimplementation (FNV base +
    // five splitmix64-derived bits per token; see oracles)
    "bloom_rowhash" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val toks = array(c.columns.map(cn =>
        TextFunctions.cleanedText(coalesce(col(cn).cast("string"), lit("")))): _*)
      c.select(col("c_custkey"), BloomHash.rowHashCol(toks).as("bf"))
        .select(col("c_custkey"), col("bf")(0).as("bf_hi"), col("bf")(1).as("bf_lo"))
        .orderBy("c_custkey")
    })
  )

  /** COCOA order-index statistics recomputed in SQL — the reference's
    * rank/streak semantics over the same cells, shared by the stats
    * oracle and the full-index projection oracle.
    */
  private def cocoaStatsSql: String =
    s"""WITH cells AS (${TestLake.cellsSql}),
       |c1 AS (SELECT table_col_id, rowid, tokenized,
       |        (tokenized IN ('','nan') OR TRY_CAST(tokenized AS DOUBLE) IS NOT NULL) AS tok_num,
       |        CASE WHEN tokenized IN ('','nan') THEN NULL ELSE TRY_CAST(tokenized AS DOUBLE) END AS vnum0
       |       FROM cells),
       |c2 AS (SELECT *, bool_and(tok_num) OVER (PARTITION BY table_col_id) AS is_numeric FROM c1),
       |c3 AS (SELECT table_col_id, rowid, tokenized, is_numeric,
       |        CASE WHEN is_numeric THEN (CASE WHEN isnan(vnum0) THEN NULL ELSE vnum0 END) END AS vnum
       |       FROM c2),
       |c4 AS (SELECT *, CASE WHEN is_numeric THEN coalesce(CAST(vnum AS VARCHAR), ' nan') ELSE tokenized END AS valkey FROM c3),
       |c5 AS (SELECT *, row_number() OVER w AS rn, lead(valkey) OVER w AS next_key,
       |        lead(rowid) OVER w IS NULL AS is_last
       |       FROM c4 WINDOW w AS (PARTITION BY table_col_id ORDER BY vnum ASC NULLS LAST, tokenized ASC, rowid ASC))
       |SELECT table_col_id, CAST(max(CASE WHEN is_numeric THEN 1 ELSE 0 END) AS INT) AS is_numeric,
       |  min(CASE WHEN rn = 1 THEN rowid END) AS min_index,
       |  count(*) AS n_rows,
       |  CAST(sum(CASE WHEN NOT is_last AND (next_key IS DISTINCT FROM valkey) THEN 1 ELSE 0 END) AS BIGINT) AS ones
       |FROM c5 GROUP BY table_col_id ORDER BY table_col_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "tok_clean" ->
      s"SELECT doc_id, ${TextFunctions.cleanedTextSql("text")} AS tok FROM documents ORDER BY doc_id",

    "cell_index" ->
      s"SELECT * FROM (${TestLake.cellsSql}) ORDER BY tableid, rowid, colid",

    "cell_index_merged" ->
      s"SELECT * FROM (${TestLake.cellsMergedSql}) ORDER BY tableid, rowid, colid",

    "posting_list" ->
      s"""SELECT tableid || '_' || rowid || ';' || colid || '_' || tokenized AS pl
         |FROM (${TestLake.cellsSql})
         |WHERE tokenized IN ('germany', 'france', 'automobile') ORDER BY pl""".stripMargin,

    "col_headers" -> TestLake.spec.flatMap { case (id, _, _, cols) =>
      cols.zipWithIndex.map { case (c, i) =>
        val tok = TextFunctions.cleanedTextLocal(c)
        s"SELECT $id AS tableid, $i AS colid, '$c' AS header, '$tok' AS header_tokenized"
      }
    }.mkString("", " UNION ALL ", " ORDER BY tableid, colid"),

    "table_info" -> TestLake.spec.map { case (id, name, _, cols) =>
      s"SELECT $id AS tableid, '$name' AS dataset_name, (SELECT count(*) FROM $name) AS max_row_id, ${cols.length - 1} AS max_col_id"
    }.mkString("", " UNION ALL ", " ORDER BY tableid"),

    "table_info_merged" -> TestLake.mergedSpec.map { case (id, (_, name, _, cols)) =>
      s"SELECT $id AS tableid, '$name.csv' AS dataset_name, (SELECT count(*) FROM $name) AS max_row_id, ${cols.length - 1} AS max_col_id"
    }.mkString("", " UNION ALL ", " ORDER BY tableid"),

    "cocoa_index_stats" -> cocoaStatsSql,

    // The full-index projection (lengths, not arrays — the driver
    // compares stringified frames, and array renderings differ between
    // readers): every scalar derives from the SAME CTEs as the stats
    // oracle; order_list and binary_list are one entry/char per row by
    // construction, so both lengths are n_rows.
    "cocoa_index_full" ->
      s"""SELECT table_col_id, CAST(is_numeric AS BOOLEAN) AS is_numeric, min_index,
         |  CAST(n_rows AS INT) AS order_len, CAST(n_rows AS INT) AS bin_len
         |FROM ($cocoaStatsSql) ORDER BY table_col_id""".stripMargin,

    "lake_ingest" ->
      Seq("csv", "json", "tsv").map(f =>
        s"SELECT '$f' AS fmt, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM nation")
        .mkString("", " UNION ALL ", " ORDER BY fmt"),

    "md5_tokens" ->
      s"SELECT p_partkey, md5(${TextFunctions.cleanedTextSql("p_name")}) AS h FROM part ORDER BY p_partkey",

    // A fully independent SQL reimplementation of the reference XASH
    // (maco/util.py:141 generate_XASH, 128-bit) + the row super key OR
    // (data_handler.py:281): per cell token the 5 least frequent chars
    // (ties by codepoint) each set bit charIndex*3 + tercile-of-mean-
    // position; the 111-bit segment's length-dependent rotation is the
    // cyclic map (loc + d) % 111 with d = (111 * (len % 17)) // 17 —
    // tracking bit POSITIONS instead of a packed 128-bit value keeps
    // the arithmetic inside HUGEINT — plus the length bit at
    // 111 + len % 17; special tokens ('', 'None', ' ', two quotes)
    // hash to zero but stay in the row spine via the left join. Mean
    // comparisons are DOUBLE division, mirroring the Scala kernel's
    // float semantics bit for bit.
    "xash_index" ->
      s"""WITH cells AS (${TestLake.cellsSql}),
         |nonspecial AS (
         |  SELECT tableid, rowid, colid, tokenized AS t, length(tokenized) AS len
         |  FROM cells WHERE tokenized NOT IN ('', 'None', ' ', '''''')
         |),
         |chars AS (
         |  SELECT tableid, rowid, colid, len,
         |         substr(t, CAST(i AS INT), 1) AS c, i - 1 AS pos0
         |  FROM nonspecial, LATERAL (SELECT unnest(generate_series(1, len)) AS i) g
         |),
         |cnt AS (
         |  SELECT tableid, rowid, colid, len, c, count(*) AS n, sum(pos0) AS sumpos
         |  FROM chars GROUP BY ALL
         |),
         |sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY tableid, rowid, colid ORDER BY n, c) AS rk
         |  FROM cnt
         |),
         |locs AS (
         |  SELECT tableid, rowid, colid, len,
         |         (strpos(' 0123456789abcdefghijklmnopqrstuvwxyz', c) - 1) * 3 +
         |         CASE WHEN CAST(sumpos AS DOUBLE)/n <= CAST(1*len AS DOUBLE)/3 THEN 0
         |              WHEN CAST(sumpos AS DOUBLE)/n <= CAST(2*len AS DOUBLE)/3 THEN 1
         |              ELSE 2 END AS loc
         |  FROM sel
         |  WHERE rk <= 5 AND strpos(' 0123456789abcdefghijklmnopqrstuvwxyz', c) > 0
         |),
         |rotbits AS (
         |  SELECT tableid, rowid, (loc + (111 * (len % 17)) // 17) % 111 AS bit FROM locs
         |  UNION ALL
         |  SELECT tableid, rowid, 111 + (len % 17) AS bit FROM nonspecial
         |),
         |rowbits AS (SELECT DISTINCT tableid, rowid, bit FROM rotbits),
         |packed AS (
         |  SELECT tableid, rowid,
         |    SUM(CASE WHEN bit < 64 THEN CAST(1 AS HUGEINT) << CAST(bit AS INT) ELSE CAST(0 AS HUGEINT) END) AS lo_u,
         |    SUM(CASE WHEN bit >= 64 THEN CAST(1 AS HUGEINT) << CAST(bit - 64 AS INT) ELSE CAST(0 AS HUGEINT) END) AS hi_u
         |  FROM rowbits GROUP BY ALL
         |),
         |spine AS (SELECT DISTINCT tableid, rowid FROM cells)
         |SELECT s.tableid, s.rowid,
         |  CAST(CASE WHEN coalesce(hi_u, 0) >= CAST(9223372036854775808 AS HUGEINT) THEN coalesce(hi_u, 0) - CAST(18446744073709551616 AS HUGEINT) ELSE coalesce(hi_u, 0) END AS BIGINT) AS sk_hi,
         |  CAST(CASE WHEN coalesce(lo_u, 0) >= CAST(9223372036854775808 AS HUGEINT) THEN coalesce(lo_u, 0) - CAST(18446744073709551616 AS HUGEINT) ELSE coalesce(lo_u, 0) END AS BIGINT) AS sk_lo
         |FROM spine s LEFT JOIN packed p USING (tableid, rowid)
         |ORDER BY tableid, rowid""".stripMargin,

    // A fully independent reimplementation of the reference-exact md5
    // SimHash (maco/util.py:250), composed from the shared feature and
    // vote CTEs in Q (one definition of the 3-gram/vote rules for all
    // SimHash oracles).
    "simhash128_ref" ->
      s"""WITH ${simhashFeatsCtes("part", "p_partkey", "p_name")},
         |$simhashNum128Ctes
         |SELECT k AS p_partkey,
         |  ${toSigned64("hi_u")} AS sh128_hi,
         |  ${toSigned64("lo_u")} AS sh128_lo
         |FROM num128 ORDER BY p_partkey""".stripMargin,

    // Both SimHash modes recomputed from scratch over the documents
    // corpus, from the same shared CTEs: the 64-bit mode votes the
    // bits of an FNV-1a feature hash (HUGEINT fold), the 128-bit mode
    // votes the bits of the feature's md5 digest.
    "simhash_tokens" ->
      s"""WITH ${simhashFeatsCtes("documents", "doc_id", "text")},
         |$simhashNum64Ctes,
         |$simhashNum128Ctes
         |SELECT a.k AS doc_id,
         |  ${toSigned64("sh_u")} AS sh,
         |  ${toSigned64("hi_u")} AS sh128_hi,
         |  ${toSigned64("lo_u")} AS sh128_lo
         |FROM num64 a JOIN num128 b ON a.k = b.k
         |ORDER BY doc_id""".stripMargin,

    // Bloom row hash recomputed from scratch: every customer column
    // cleaned exactly like the Spark side, FNV-1a base per token, five
    // splitmix64-derived bit positions (floorMod(h,128) == unsigned
    // h % 128 since 128 divides 2^64), OR-folded per row.
    "bloom_rowhash" -> {
      val cols = TestLake.spec.find(_._2 == "customer").get._4
      val toks = cols.map(c =>
        s"SELECT c_custkey AS k, ${TextFunctions.cleanedTextSql(s"coalesce(CAST($c AS VARCHAR), '')")} AS t FROM customer")
        .mkString(" UNION ALL ")
      val golden = BigInt("11400714819323198485") // 0x9E3779B97F4A7C15
      s"""WITH toks AS ($toks),
         |base AS (
         |  SELECT k, ${fnvSql("t")} AS b
         |  FROM toks
         |),
         |h0 AS (
         |  SELECT k, (b + i * CAST($golden AS HUGEINT)) % $M64 AS h
         |  FROM base, (SELECT unnest(generate_series(0, 4)) AS i) g
         |),
         |h1 AS (SELECT k, ${mulModSql("xor(h, h >> 30)", BigInt("13787848793156543929"))} AS h FROM h0),
         |h2 AS (SELECT k, ${mulModSql("xor(h, h >> 27)", BigInt("10723151780598845931"))} AS h FROM h1),
         |bits AS (SELECT DISTINCT k, CAST(xor(h, h >> 31) % 128 AS INT) AS bit FROM h2),
         |packed AS (
         |  SELECT k,
         |    SUM(CASE WHEN bit < 64 THEN CAST(1 AS HUGEINT) << bit ELSE CAST(0 AS HUGEINT) END) AS lo_u,
         |    SUM(CASE WHEN bit >= 64 THEN CAST(1 AS HUGEINT) << (bit - 64) ELSE CAST(0 AS HUGEINT) END) AS hi_u
         |  FROM bits GROUP BY k
         |)
         |SELECT k AS c_custkey,
         |  ${toSigned64("hi_u")} AS bf_hi,
         |  ${toSigned64("lo_u")} AS bf_lo
         |FROM packed ORDER BY c_custkey""".stripMargin
    }
  )
}
