package graft.streaming

import graft.catalog.{GraftCdfTable, GraftPathTable}
import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StructField, StructType}

/** Registered Structured Streaming source for graft Delta tables:
  *
  *   spark.readStream.format("graft-delta").load(dir)          // append tail
  *   spark.readStream.format("graft-delta")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", "0").load(dir)                // CDF tail
  *
  * This is the V1 `Source` + `SupportsAdmissionControl` shape Spark's
  * own file source uses (and the delta-io connector's public design):
  * offsets are LOG VERSIONS, each micro-batch the distributed scan of
  * the versions in (start, end], and the engine's offset log supplies
  * the exactly-once replay discipline — the same versioned-batch
  * semantics as [[DeltaTail]], now composable with the engine's
  * watermarks, stateful operators ([[EventStreams]]) and sinks through
  * the standard API instead of a poll/drain loop.
  *
  * Modes (same contracts as the poll API, refusals included):
  *  - APPEND (default): the stream opens with the full snapshot at its
  *    start version — split into consecutive micro-batches by
  *    `maxFilesPerTrigger`/`maxBytesPerTrigger` over the snapshot's
  *    path-sorted add list (delta-spark's initial-snapshot admission;
  *    the offset pins the version and the files-delivered index, so a
  *    restart resumes mid-snapshot without duplication), or as one
  *    batch when no cap is set. Later batches deliver dataChange=true
  *    adds via [[DeltaTail.changes]] (a window crossing a
  *    column-mapping transition reads per-version), which refuses
  *    delete/rewrite versions loudly instead of streaming a wrong
  *    delta; an over-sized append commit splits by the same caps. With
  *    `startingVersion` = v the snapshot is SKIPPED and the stream
  *    tails adds from version v (rate caps apply from the first
  *    batch) — joining a huge table's stream without scanning its
  *    history.
  *  - CDF (`readChangeFeed=true`): batches are row-level changes
  *    (table columns + [[DeltaReader.CdfColumns]]): whole versions via
  *    [[DeltaReader.readChangesSplit]] (per-version across a
  *    column-mapping transition), an over-sized version's payload in
  *    slices via [[DeltaReader.readChangesSlice]].
  *    `startingVersion` = v streams history from v (0 = whole
  *    history); `startingTimestamp` resolves once at stream start on
  *    the monotone commit-timestamp series (first version stamped at
  *    or after it; beyond the newest commit = start after current);
  *    absent = start AFTER the current version (first batch empty,
  *    the delta-spark default).
  *
  * `maxVersionsPerTrigger` caps versions per batch,
  * `maxFilesPerTrigger` caps admitted files and `maxBytesPerTrigger`
  * the admitted add sizes (soft: one version — or one file of a
  * sliced list — always admits) — all
  * through the admission-control API, so the caps hold across
  * restarts (the engine hands latestOffset the restart position — the
  * V1 getOffset path cannot see it, which is exactly why this source
  * implements SupportsAdmissionControl rather than leaving catch-up
  * batches unbounded).
  *
  * Schema is pinned at stream start: a mid-stream schema evolution
  * fails the batch loudly (restart the stream to adopt it) rather
  * than silently projecting new columns away. A restarted stream
  * adopts an additive evolution (ADD COLUMNS): batches over versions
  * before it null-fill the added columns; a rename, drop or retype —
  * judged by column-mapping identity, so a re-added name is a new
  * column — still refuses.
  *
  * Scale: per-trigger driver work is one log listing + O(new
  * versions) KB-scale JSON parses; the data path is the same
  * distributed parquet scan as the batch reader. Nothing table-sized
  * touches the driver.
  */
class GraftDeltaSourceProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft-delta"

  /** The batch WRITE front door —
    * `df.write.format("graft-delta")[.partitionBy(...)][.mode(...)].save(path)`
    * — delta-spark's save modes onto the production writers: default
    * ErrorIfExists creates (refusing an existing table), Ignore no-ops
    * on one, Append creates-or-appends, Overwrite replaces the table —
    * or, with `option("replaceWhere", predicate)`, just the matching
    * rows. `delta.*` options at CREATE become table configuration
    * (original key case preserved — configuration keys are contracts).
    * The engine reaches this V1 path because the provider's V2 tables
    * declare no write capability; every mode lands on LakeWriter's one
    * commit funnel, so obligations, identity, CDF and sizing behave
    * exactly as the API calls they alias.
    */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val opts = GraftDeltaSource.Options(parameters)
    val path = opts.path
    val lower = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val hconf = sqlContext.sparkSession.sessionState.newHadoopConf()
    val exists = DeltaReader.isDeltaTable(path, hconf) &&
      DeltaReader.hasLogEntries(path, hconf)
    // DataFrameWriter.partitionBy rides the V1 path as a JSON-encoded
    // option (Spark's own __partition_columns contract)
    val partitionBy: Seq[String] = lower.get("__partition_columns").map { js =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      (0 until n.size()).map(n.get(_).asText())
    }.getOrElse(Nil)
    // the V1 option map reaches us through CaseInsensitiveMap, which
    // iterates LOWERCASED keys — but delta.* configuration keys are
    // case-sensitive contracts, so restore the canonical spelling for
    // every key this engine honors (an unknown delta key passes
    // through lowercased: better stored than dropped)
    val canonicalDeltaKeys = (Seq(
      "delta.appendOnly", "delta.autoOptimize.autoCompact",
      "delta.autoOptimize.optimizeWrite", "delta.columnMapping.mode",
      "delta.dataSkippingNumIndexedCols", "delta.dataSkippingStatsColumns",
      "delta.enableChangeDataFeed",
      "delta.enableDeletionVectors", "delta.enableInCommitTimestamps",
      "delta.enableExpiredLogCleanup", "delta.logRetentionDuration",
      "delta.checkpointInterval", "delta.checkpointPolicy",
      "delta.enableRowTracking", "delta.targetFileSize",
      "delta.minReaderVersion", "delta.minWriterVersion",
      "delta.rowTracking.materializedRowIdColumnName",
      "delta.rowTracking.materializedRowCommitVersionColumnName") ++
      // delta.feature.<name> is CONSUMED at create — restore the
      // case-sensitive feature name or the declaration refuses
      (LakeWriter.DeclarableReaderWriter ++ LakeWriter.DeclarableWriterOnly)
        .map(f => s"delta.feature.$f"))
      .map(k => k.toLowerCase(java.util.Locale.ROOT) -> k).toMap
    val configuration = parameters.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("delta.") =>
        val lk = k.toLowerCase(java.util.Locale.ROOT)
        canonicalDeltaKeys.getOrElse(lk, k) -> v
    }
    val replaceWhere = lower.get("replacewhere")
    require(replaceWhere.isEmpty || mode == SaveMode.Overwrite,
      s"graft-delta: replaceWhere needs mode overwrite, got $mode")
    // an EXISTING table's layout is a contract: a caller-specified
    // partitionBy that differs from it must refuse (delta-spark's
    // rule), not silently lay data out by the table's scheme
    if (exists && partitionBy.nonEmpty &&
        (mode == SaveMode.Append || mode == SaveMode.Overwrite)) {
      val tablePc =
        DeltaReader.snapshot(sqlContext.sparkSession, path, None).partCols
      require(tablePc == partitionBy,
        s"graft-delta: partitionBy(${partitionBy.mkString(", ")}) does not match " +
          s"the table's partitioning (${if (tablePc.isEmpty) "unpartitioned"
            else tablePc.mkString(", ")}) at $path — drop partitionBy to use " +
          "the table's layout (repartitioning an existing table is a rewrite)")
    }
    def create(): Unit =
      LakeWriter.writeDelta(data, path, partitionBy = partitionBy,
        configuration = configuration)
    mode match {
      case SaveMode.ErrorIfExists =>
        require(!exists,
          s"graft-delta: $path is already a Delta table — use mode append or overwrite")
        create()
      case SaveMode.Ignore => if (!exists) create()
      case SaveMode.Append => if (!exists) create() else LakeWriter.appendDelta(data, path)
      case SaveMode.Overwrite =>
        if (!exists) create()
        else replaceWhere match {
          case Some(p) => LakeWriter.overwriteWhere(data, path, p)
          case None => LakeWriter.overwriteDelta(data, path)
        }
    }
    val sqlc = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = sqlc
      override def schema: StructType = data.schema
    }
  }

  // ---- the BATCH front door: spark.read.format("graft-delta") ----
  // The V2 TableProvider surface returns the same metadata-only table
  // handles the catalog uses ([[graft.catalog.GraftPathTable]] /
  // [[graft.catalog.GraftCdfTable]]); GraftCatalogScanRule splices the
  // one production DeltaReader plan in during analysis, so every front
  // door (catalog names, TVFs, format loads, streams) reads through
  // the same engine. Streaming is untouched: these handles declare no
  // streaming capability, so readStream/writeStream fall back to the
  // V1 Stream{Source,Sink}Provider paths above.
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    import scala.jdk.CollectionConverters._
    // DataStreamWriter (and DataFrameWriter) probe getTable BEFORE the
    // first write creates the table — answer an empty schema there
    // (the handle lacks STREAMING_WRITE/BATCH_WRITE, so the engine
    // falls straight back to the V1 sink / CreatableRelationProvider).
    // A batch READ of a missing table still refuses at load():
    // getTable carries the refusal as `batchIllegal`, which the scan
    // rule throws during load()'s analysis (delta-spark's eager
    // refusal), never lazily at first action.
    val opts = GraftDeltaSource.Options(options.asScala.toMap)
    val hconf = SparkSession.active.sessionState.newHadoopConf()
    if (!DeltaReader.isDeltaTable(opts.path, hconf)) new StructType()
    else batchTable(options).schema()
  }

  override def getTable(schema: StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table =
    batchTable(new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties))

  /** Batch option resolution — delta-spark's read options: plain /
    * `versionAsOf` / `timestampAsOf` loads, and `readChangeFeed=true`
    * with `startingVersion`|`startingTimestamp` (required) and
    * `endingVersion`|`endingTimestamp` (default: the current version).
    * Timestamps resolve ONCE at load on the same monotone series as
    * time travel.
    */
  private def batchTable(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.catalog.Table = {
    import scala.jdk.CollectionConverters._
    val spark = SparkSession.active
    val opts = GraftDeltaSource.Options(options.asScala.toMap)
    // a missing table: the WRITE paths never read this handle (they
    // fall back on the missing write capability), so a handle reaching
    // the scan rule IS a batch read of a missing table — refuse at
    // load()'s analysis, not at first action
    if (!DeltaReader.isDeltaTable(opts.path,
        spark.sessionState.newHadoopConf()))
      return GraftPathTable(spark, opts.path, None, Some(
        s"graft-delta: ${opts.path} is not a Delta table (no _delta_log) — " +
          "create it first or check the path"))
    val lower = options.asScala.toMap.map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    val versionAsOf = lower.get("versionasof").map(_.trim.toLong)
    val tsAsOf = lower.get("timestampasof")
      .map(GraftDeltaSource.parseTimestampMillis(_, "timestampAsOf"))
    require(versionAsOf.isEmpty || tsAsOf.isEmpty,
      "graft-delta: versionAsOf and timestampAsOf are mutually exclusive")
    if (!opts.cdf) {
      // stream-legal, batch-illegal options refuse in the SCAN RULE
      // (this probe also runs for streams, which then fall back to
      // the V1 source and legitimately use them)
      val batchIllegal =
        if (opts.startingVersion.isEmpty && opts.startingTimestampMillis.isEmpty) None
        else Some("graft-delta: startingVersion/startingTimestamp on a batch read " +
          "need readChangeFeed=true (they are CDF-window or streaming options) — " +
          "use versionAsOf for time travel")
      GraftPathTable(spark, opts.path,
        versionAsOf.orElse(tsAsOf.map(DeltaReader.versionAtTimestamp(spark, opts.path, _))),
        batchIllegal)
    } else {
      require(versionAsOf.isEmpty && tsAsOf.isEmpty,
        "graft-delta: readChangeFeed composes with startingVersion/" +
          "startingTimestamp and endingVersion/endingTimestamp, not versionAsOf")
      val latest = DeltaReader.snapshot(spark, opts.path, None).version
      val logPath = new org.apache.hadoop.fs.Path(opts.path, "_delta_log")
      val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
      lazy val mono = DeltaReader.commitTimestamps(fs, logPath, Long.MaxValue)
      // a startingTimestamp beyond the newest commit is STREAM-legal
      // (start after current) — defer the batch refusal to the rule
      val (from, fromErr) = (opts.startingVersion, opts.startingTimestampMillis) match {
        case (Some(v), _) => (Some(v), None)
        case (None, None) => (None, None)
        case (None, Some(t)) => mono.find(_._2 >= t) match {
          case Some((v, _)) => (Some(v), None)
          case None => (None, Some(
            s"graft-delta: no commit at or after startingTimestamp $t " +
              s"(newest is version ${mono.last._1} at ${mono.last._2})"))
        }
      }
      val endingVersion = lower.get("endingversion").map(_.trim.toLong)
      val endingTs = lower.get("endingtimestamp")
        .map(GraftDeltaSource.parseTimestampMillis(_, "endingTimestamp"))
      require(endingVersion.isEmpty || endingTs.isEmpty,
        "graft-delta: endingVersion and endingTimestamp are mutually exclusive")
      val to = endingVersion.orElse(endingTs.map { t =>
        val upto = mono.takeWhile(_._2 <= t)
        require(upto.nonEmpty,
          s"graft-delta: endingTimestamp $t predates the earliest retained commit " +
            s"(version ${mono.head._1} at ${mono.head._2})")
        upto.last._1
      }).getOrElse(latest)
      GraftCdfTable(spark, opts.path, from, to, fromErr)
    }
  }

  /** The SINK side: `df.writeStream.format("graft-delta").start(dir)`
    * — [[DeltaStream.commitBatch]]'s exactly-once txn discipline
    * behind the standard API. Append mode appends each micro-batch;
    * `option("mergeKeys", "k1,k2")` switches to the keyed upsert
    * ([[DeltaStream.upsertBatch]], Update mode allowed); adding
    * `option("cdcApply", "true")` folds a CHANGE-FEED stream instead
    * ([[DeltaStream.applyCdcBatch]]) — so full Delta→Delta replication
    * is `readStream.format("graft-delta").option("readChangeFeed",
    * "true") → writeStream.format("graft-delta").option("mergeKeys",
    * ...).option("cdcApply", "true")`, exactly-once on both ends. The
    * txn identity scopes by the query checkpoint exactly as
    * DeltaStream documents; `option("txnAppId", ...)` overrides the
    * app id.
    */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val lower = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = GraftDeltaSource.tablePath(sqlContext.sparkSession, lower)
      .orElse(lower.get("path")).getOrElse(throw new IllegalArgumentException(
        "graft-delta sink: .start(path) or .option(\"table\", \"cat.db.t\") is required"))
    val checkpoint = lower.getOrElse("checkpointlocation",
      throw new IllegalArgumentException(
        "graft-delta sink: checkpointLocation is required — the exactly-once txn " +
          "identity scopes by it"))
    val mergeKeys = lower.get("mergekeys").map(_.split(',').map(_.trim).toSeq)
      .filter(_.nonEmpty)
    require(outputMode == OutputMode.Append() || mergeKeys.isDefined,
      s"graft-delta sink: output mode $outputMode needs mergeKeys (the append sink " +
        "is append-mode only; updates land via the keyed upsert)")
    val cdcApply = lower.get("cdcapply").exists(_.toBoolean)
    require(!cdcApply || mergeKeys.isDefined,
      "graft-delta sink: cdcApply folds a change feed by key — mergeKeys is required")
    val mergeSchema = lower.get("mergeschema").exists(_.toBoolean)
    require(!mergeSchema || mergeKeys.isEmpty,
      "graft-delta sink: mergeSchema composes with the append sink only (the keyed " +
        "upsert and cdcApply require the table's exact schema)")
    val appId = DeltaStream.scopedAppId(
      lower.getOrElse("txnappid", "graft-delta-sink"), checkpoint)
    val interval = lower.get("checkpointinterval").map(_.toInt).getOrElse(0)
    new GraftDeltaSink(path, appId, interval, partitionColumns, mergeKeys, cdcApply,
      mergeSchema)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-delta: the table defines its schema; " +
      "drop the user-specified schema")
    val opts = GraftDeltaSource.Options(parameters)
    (shortName(), GraftDeltaSource.sourceSchema(
      sqlContext.sparkSession, opts.path, opts.cdf))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftDeltaSource(sqlContext.sparkSession, GraftDeltaSource.Options(parameters))
}

/** The registered sink: each micro-batch lands through the
  * exactly-once txn arbitration ([[DeltaStream.commitBatch]] /
  * [[DeltaStream.upsertBatch]]) — a batch at or below the table's
  * replayed txn watermark is a redelivery and skips, so restarts and
  * retries never double-append. addBatch's DataFrame carries streaming
  * lineage; it re-wraps as a plain batch plan (the ForeachBatchSink
  * pattern) before hitting the writers.
  */
class GraftDeltaSink(path: String, appId: String, checkpointInterval: Int,
                     partitionBy: Seq[String], mergeKeys: Option[Seq[String]],
                     cdcApply: Boolean = false, mergeSchema: Boolean = false)
    extends Sink {
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val batch = GraftColumnBridge.asBatch(data.toDF())
    (mergeKeys, cdcApply) match {
      case (Some(keys), true) =>
        DeltaStream.applyCdcBatch(batch, path, appId, batchId, keys, partitionBy)
      case (Some(keys), false) =>
        DeltaStream.upsertBatch(batch, path, appId, batchId, keys, partitionBy)
      case _ =>
        DeltaStream.commitBatch(batch, path, appId, batchId, checkpointInterval,
          partitionBy, mergeSchema)
    }
  }
  override def toString: String = s"GraftDeltaSink[$path]"
}

/** Stream position. `{"version":N}` = everything up to and including
  * log version N has been delivered (the tail form; also every
  * pre-r14 checkpoint, which therefore replays unchanged).
  * `{"version":N,"index":K}` = the INITIAL SNAPSHOT at version N is in
  * progress: the first K files of its path-sorted add list have been
  * delivered, versions ≤ N are otherwise subsumed by the snapshot —
  * delta-spark's reservoirVersion/index shape, which is what lets the
  * rate caps split the snapshot into restart-safe batches.
  */
case class GraftDeltaSourceOffset(version: Long, index: Long = -1L,
                                  tail: Boolean = false) extends OffsetV1 {
  override def json: String =
    if (index < 0) s"""{"version":$version}"""
    else if (!tail) s"""{"version":$version,"index":$index}"""
    // `tail` disambiguates an index into a TAIL version's add list
    // from an index into the pinned initial snapshot — absent (every
    // pre-r15 checkpoint) means snapshot phase, the old meaning
    else s"""{"version":$version,"index":$index,"tail":true}"""
}

object GraftDeltaSourceOffset {
  private val VersionRe =
    """\{\s*"version"\s*:\s*(\d+)\s*(?:,\s*"index"\s*:\s*(\d+)\s*(?:,\s*"tail"\s*:\s*(true|false)\s*)?)?\}""".r

  /** ANY offset representation the engine can hand back: our own
    * class, the engine's SerializedOffset (restart path), or a V2
    * offset — all carry the same json.
    */
  def of(o: AnyRef): GraftDeltaSourceOffset = o match {
    case g: GraftDeltaSourceOffset => g
    case v1: OffsetV1 => parse(v1.json)
    case v2: OffsetV2 => parse(v2.json)
    case other => parse(String.valueOf(other))
  }

  def versionOf(o: AnyRef): Long = of(o).version

  private def parse(json: String): GraftDeltaSourceOffset = json.trim match {
    case VersionRe(v, null, _) => GraftDeltaSourceOffset(v.toLong)
    case VersionRe(v, i, t)    => GraftDeltaSourceOffset(v.toLong, i.toLong, t == "true")
    case other => throw new IllegalArgumentException(
      s"graft-delta: unparseable offset '$other' — expected " +
        "{\"version\":N[,\"index\":K[,\"tail\":true]]}")
  }
}

object GraftDeltaSource {
  /** Parsed, case-insensitive reader options. */
  final case class Options(raw: Map[String, String]) {
    private val lower = raw.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path: String = tablePath(SparkSession.active, lower)
      .orElse(lower.get("path")).getOrElse(throw new IllegalArgumentException(
        "graft-delta: .load(path) or .option(\"table\", \"cat.db.t\") is required"))
    val cdf: Boolean = lower.get("readchangefeed").exists(_.toBoolean)
    // CDF mode: replay row-level changes from this version. APPEND
    // mode (r10): SKIP the initial snapshot and tail the dataChange
    // adds from this version instead — the delta-spark option for
    // joining a huge table's stream without scanning its history
    // (rate caps apply from the first batch, unlike the unsplittable
    // snapshot).
    // the literal "latest" (delta-spark's spelling) = start AFTER the
    // version current at stream construction — resolved there, where
    // the table is consulted; -1 is the internal sentinel
    val startingVersion: Option[Long] = lower.get("startingversion").map { v =>
      if (v.trim.equalsIgnoreCase("latest")) -1L
      else {
        val n = v.toLong
        require(n >= 0, s"graft-delta: startingVersion $n must be >= 0")
        n
      }
    }
    // delta-spark's startingTimestamp: epoch millis, a SQL timestamp
    // ("2026-08-15 12:00:00", session-local like timestampAsOf), or an
    // ISO instant. Resolved ONCE at stream start against the same
    // monotone commit-timestamp series as time travel.
    val startingTimestampMillis: Option[Long] =
      lower.get("startingtimestamp").map(GraftDeltaSource.parseTimestampMillis(_, "startingTimestamp"))
    require(startingVersion.isEmpty || startingTimestampMillis.isEmpty,
      "graft-delta: startingVersion and startingTimestamp are mutually exclusive")
    val maxVersionsPerTrigger: Option[Int] = lower.get("maxversionspertrigger").map { v =>
      val n = v.toInt
      require(n > 0, s"graft-delta: maxVersionsPerTrigger $n must be positive")
      n
    }
    val maxBytesPerTrigger: Option[Long] = lower.get("maxbytespertrigger").map { v =>
      val n = v.toLong
      require(n > 0, s"graft-delta: maxBytesPerTrigger $n must be positive")
      n
    }
    // delta-spark's maxFilesPerTrigger: caps the FILES a batch admits —
    // the cap that also SPLITS the initial snapshot (a 100-TB table's
    // snapshot as one micro-batch is a batch no cluster sizes for)
    val maxFilesPerTrigger: Option[Int] = lower.get("maxfilespertrigger").map { v =>
      val n = v.toInt
      require(n > 0, s"graft-delta: maxFilesPerTrigger $n must be positive")
      n
    }
    // mutation tolerance for the append tail (delta-spark's options):
    // ignoreDeletes skips delete-only versions, skipChangeCommits skips
    // every version that removes data. CDF mode refuses them — the
    // change feed REPRESENTS those versions instead of skipping them.
    val ignoreDeletes: Boolean = lower.get("ignoredeletes").exists(_.toBoolean)
    val skipChangeCommits: Boolean = lower.get("skipchangecommits").exists(_.toBoolean)
    require(!cdf || (!ignoreDeletes && !skipChangeCommits),
      "graft-delta: ignoreDeletes/skipChangeCommits are append-tail options — " +
        "a readChangeFeed stream represents deletes and updates as change rows " +
        "instead of skipping them")
  }

  /** The directory a `table` option names — name-based streaming:
    * `.option("table", "graft.db.t")` resolves through the V2 catalog
    * root exactly like the SQL surface, for the reader and the sink
    * alike. None without the option.
    */
  private[graft] def tablePath(spark: SparkSession,
                               lower: Map[String, String]): Option[String] =
    lower.get("table").map { name =>
      name.split('.') match {
        case Array(cat, db, t) =>
          graft.catalog.GraftCatalogPaths.tablePath(spark, cat, db, t)
            .getOrElse(throw new IllegalArgumentException(
              s"graft-delta: table '$name' — spark.sql.catalog.$cat is not a " +
                "registered GraftCatalog with a root"))
        case _ => throw new IllegalArgumentException(
          s"graft-delta: table '$name' must be a three-part catalog name " +
            "(<catalog>.<db>.<table>)")
      }
    }

  /** Timestamp option value: epoch millis, a SQL timestamp
    * ("2026-08-15 12:00:00"), or an ISO-8601 instant.
    */
  private[graft] def parseTimestampMillis(v: String, what: String): Long = {
    val t = v.trim
    if (t.matches("\\d+")) t.toLong
    else try java.sql.Timestamp.valueOf(t).getTime
    catch {
      case _: IllegalArgumentException =>
        try java.time.Instant.parse(t).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"graft-delta: unparseable $what '$v' — pass epoch millis, " +
                "'yyyy-MM-dd HH:mm:ss[.fff]' or an ISO-8601 instant")
        }
    }
  }

  private[graft] def sourceSchema(spark: SparkSession, dir: String,
                                  cdf: Boolean): StructType =
    schemaOf(DeltaReader.snapshot(spark, dir, None), cdf)

  private def schemaOf(snap: DeltaReader.Snapshot, cdf: Boolean): StructType =
    if (cdf) DeltaReader.cdfSchema(snap)
    else org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]

  /** A custom read limit the engine passes back verbatim — versions
    * (and optionally their staged BYTES) are this source's admission
    * units: `maxVersionsPerTrigger` bounds commit count,
    * `maxBytesPerTrigger` bounds the sum of the admitted versions'
    * add sizes (a soft cap, delta-spark style: at least one unit
    * always admits so the stream makes progress). An over-sized
    * commit does not ride alone: the initial snapshot, an append
    * commit and a CDF version whose payload exceeds the file/byte
    * caps all SPLIT across micro-batches via
    * `{"version":N,"index":K[,"tail":true]}` offsets over a
    * path-sorted file list.
    */
  final case class MaxVersions(versions: Option[Int], files: Option[Int],
                               bytes: Option[Long])
      extends ReadLimit
}

class GraftDeltaSource(spark: SparkSession, opts: GraftDeltaSource.Options)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import GraftDeltaSource._

  // the schema is pinned at construction, from the version current then
  private val (pinnedAt: Long, pinnedSchema: StructType) = {
    val snap = DeltaReader.snapshot(spark, opts.path, None)
    (snap.version, schemaOf(snap, opts.cdf))
  }

  override val schema: StructType = pinnedSchema

  // startingTimestamp resolves to a starting VERSION exactly once, at
  // stream construction (delta-spark's rule): the first version
  // stamped at or after the timestamp on the monotone series time
  // travel uses, or latest+1 when the timestamp is beyond the newest
  // commit — the stream then tails only future commits. After the
  // first batch the checkpoint offset governs; this never re-resolves.
  private val startingVersion: Option[Long] =
    opts.startingVersion.map {
      // "latest": only commits AFTER the version current at stream
      // construction (delta-spark's semantics); resolved exactly once
      case -1L => DeltaReader.snapshot(spark, opts.path, None).version + 1
      case n => n
    }.orElse(opts.startingTimestampMillis.map { ts =>
      val logPath = new org.apache.hadoop.fs.Path(opts.path, "_delta_log")
      val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
      val mono = DeltaReader.commitTimestamps(fs, logPath, Long.MaxValue)
      require(mono.nonEmpty, s"graft-delta: not a Delta table (no commits): ${opts.path}")
      mono.find(_._2 >= ts).map(_._1).getOrElse(mono.last._1 + 1)
    })

  // Trigger.AvailableNow: everything at or below this version counts as
  // "available now"; set once when the trigger starts, so a writer
  // racing the drain cannot keep the stream alive forever.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(DeltaReader.snapshot(spark, opts.path, None).version)

  override def getDefaultReadLimit: ReadLimit =
    if (opts.maxVersionsPerTrigger.isEmpty && opts.maxBytesPerTrigger.isEmpty &&
        opts.maxFilesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else MaxVersions(opts.maxVersionsPerTrigger, opts.maxFilesPerTrigger,
      opts.maxBytesPerTrigger)

  override def initialOffset(): OffsetV2 =
    // append mode's "position before the initial snapshot" and CDF's
    // "position before startingVersion" have no version number — the
    // engine models them as a null start, which getBatch/latestOffset
    // already handle; nothing meaningful to return here.
    throw new UnsupportedOperationException(
      "graft-delta drives offsets through latestOffset(start, limit)")

  override def getOffset: Option[OffsetV1] =
    // the engine prefers the admission-control path for sources that
    // implement it; this fallback is the uncapped form
    Option(latestOffset(null, ReadLimit.allAvailable()))
      .map(o => GraftDeltaSourceOffset(GraftDeltaSourceOffset.versionOf(o)))

  // the path-sorted file list an indexed offset pins, resolved once
  // per pin (latestOffset probes it, getBatch re-reads it; the log
  // below a version is immutable, so a restart re-resolves the SAME
  // list from the offset alone)
  @volatile private var pinnedMemo: Option[((Boolean, Long), IndexedSeq[DeltaReader.AddFile])] =
    None

  /** The list `{"version":v,"index":k}` indexes: the initial
    * snapshot's path-sorted adds when `snapshot`, else version v's
    * sliceable payload ([[versionPayload]]).
    */
  private def pinned(snapshot: Boolean, v: Long): IndexedSeq[DeltaReader.AddFile] =
    pinnedMemo match {
      case Some((key, files)) if key == ((snapshot, v)) => files
      case _ =>
        val files =
          if (snapshot)
            DeltaReader.snapshot(spark, opts.path, Some(v)).active.sortBy(_.path).toIndexedSeq
          else versionPayload(v)
        pinnedMemo = Some(((snapshot, v), files))
        files
    }

  /** Version v's sliceable payload: its change payload in CDF mode,
    * its append's adds on the tail — a removing version is never
    * sliced, it rides whole through DeltaTail's refusal /
    * ignoreDeletes / skipChangeCommits semantics.
    */
  private def versionPayload(v: Long): IndexedSeq[DeltaReader.AddFile] = {
    val ch = DeltaReader.versionChanges(spark, opts.path, v,
      if (opts.cdf) DeltaReader.ChangeDataLost else DeltaReader.TailLost)
    if (opts.cdf) ch.cdfPayload else ch.appendPayload
  }

  /** An indexed offset pins the initial snapshot when it is an
    * append-mode index without `tail` (every pre-r15 checkpoint's
    * meaning), else its version's payload.
    */
  private def pinsSnapshot(o: GraftDeltaSourceOffset): Boolean = !opts.cdf && !o.tail

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val snapV = DeltaReader.snapshot(spark, opts.path, None).version
    val latest = availableNowCap.fold(snapV)(math.min(_, snapV))
    val start = Option(startOffset).map(GraftDeltaSourceOffset.of)
    val (capV, capF, capB) = limit match {
      case MaxVersions(v, f, b) => (v.map(_.toLong).getOrElse(Long.MaxValue), f, b)
      case _ => (Long.MaxValue, None, None)
    }
    // admit versions (s, end]: the count cap bounds how many, the
    // file/byte caps additionally walk the commits summing their adds
    // (KB-scale JSON parses, the same cost class as the tail itself)
    // and stop BEFORE the version that would overflow — always
    // admitting at least one so the stream progresses
    def admitted(s: Long): Long = {
      val vEnd =
        if (capV == Long.MaxValue) latest else math.min(latest, s + capV)
      if (capB.isEmpty && capF.isEmpty) vEnd
      else {
        var end = s
        var accB = 0L
        var accF = 0L
        var full = false
        while (!full && end < vEnd) {
          // a version budgets what will actually be scanned — its
          // sliceable payload, the unit list the slicer walks (a
          // CommitParseCache hit, not a re-parse): the change payload
          // in CDF mode, the dataChange adds DeltaTail delivers on the
          // append tail (a layout commit's adds budget as zero)
          val payload = versionPayload(end + 1)
          val nb = payload.map(_.size).sum
          if (end > s && (capB.exists(accB + nb > _) ||
              capF.exists(f => accF + payload.size > f.toLong))) full = true
          else { end += 1; accB += nb; accF += payload.size }
        }
        end
      }
    }
    // pinned-list admission: deliver files [done, k) of the list the
    // offset pins (the initial snapshot at `v`, or version v's
    // payload), k bounded by the file and byte caps (at least one
    // file — the stream must progress; an over-sized file rides
    // alone); a completed list drops the index into the plain tail
    // form {"version":v}, from which tailing resumes. Restart-safe:
    // the pin rides in the offset, the list is a pure function of it.
    def slicePhase(snapshot: Boolean, v: Long, done: Long): OffsetV2 = {
      if (capF.isEmpty && capB.isEmpty) return GraftDeltaSourceOffset(v)
      val files = pinned(snapshot, v)
      val fCap = capF.map(_.toLong).getOrElse(Long.MaxValue)
      var k = done
      var bytes = 0L
      var full = false
      while (!full && k < files.length && (k - done) < fCap) {
        val sz = files(k.toInt).size
        if (k > done && capB.exists(bytes + sz > _)) full = true
        else { bytes += sz; k += 1 }
      }
      if (k >= files.length) GraftDeltaSourceOffset(v)
      // `tail` disambiguates a version's index from the snapshot's
      else GraftDeltaSourceOffset(v, k, tail = !snapshot && !opts.cdf)
    }
    // whole versions after doneV — unless the NEXT version's payload
    // alone exceeds the caps: then it slices (delta-spark's CDF offsets
    // carry file indexes the same way). A batch is EITHER whole
    // versions OR one version's slice, never a mix.
    def versionsPhase(doneV: Long): OffsetV2 = {
      if (capF.isEmpty && capB.isEmpty) return GraftDeltaSourceOffset(admitted(doneV))
      if (doneV >= latest) return GraftDeltaSourceOffset(doneV)
      val payload = pinned(snapshot = false, doneV + 1)
      val fits = capF.forall(payload.size <= _) &&
        capB.forall(payload.map(_.size).sum <= _)
      if (fits) GraftDeltaSourceOffset(admitted(doneV))
      else slicePhase(snapshot = false, doneV + 1, 0L)
    }
    val end: OffsetV2 = start match {
      case None => startingVersion match {
        // replay from sv (CDF rows or append-mode add tailing): the
        // rate caps apply from sv-1 — these are version tails, not
        // the snapshot
        case Some(sv) => versionsPhase(sv - 1)
        // CDF start-after-current: first batch just records the
        // position; append mode: the initial snapshot at the current
        // version, split by the file/byte caps
        case None if !opts.cdf => slicePhase(snapshot = true, latest, 0L)
        case None => GraftDeltaSourceOffset(latest)
      }
      // mid-snapshot / mid-version: keep draining the pinned list
      case Some(g) if g.index >= 0 => slicePhase(pinsSnapshot(g), g.version, g.index)
      case Some(g) => versionsPhase(g.version)
    }
    val endG = GraftDeltaSourceOffset.of(end)
    val progressed = start match {
      case None => true
      case Some(s) =>
        endG.version > s.version ||
          (endG.version == s.version &&
            ((s.index >= 0 && endG.index < 0) || endG.index > s.index))
    }
    if (progressed) end else startOffset
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endO = GraftDeltaSourceOffset.of(end)
    val endV = endO.version
    val df = start.map(GraftDeltaSourceOffset.of) match {
      // mid-list continuation: the next slice of the pinned list (an
      // end without an index completes it)
      case Some(s) if s.index >= 0 =>
        slice(pinsSnapshot(s), s.version, s.index,
          if (endO.index >= 0) endO.index else Long.MaxValue)
      // an indexed end after a whole position: the first slice of the
      // list it pins (the snapshot, or by construction version
      // start + 1 / startingVersion)
      case _ if endO.index >= 0 => slice(pinsSnapshot(endO), endV, 0L, endO.index)
      case Some(s) => versions(s.version, endV)
      case None => startingVersion match {
        case Some(sv) => versions(sv - 1, endV)
        case None if opts.cdf => emptyBatch // start-after-current
        case None => DeltaReader.read(spark, opts.path, Some(endV))
      }
    }
    GraftColumnBridge.asStreaming(adopt(df, endV))
  }

  /** A batch ending at `endV` in the pinned schema. A batch at or below
    * the pinned version — what a restarted stream sees when Spark
    * replays its last committed batch, or tails history from a
    * `startingVersion` — projects onto the pinned schema when each of
    * its columns is still there under the same name, type and IDENTITY
    * ([[DeltaReader.carriedColumns]]: the column-mapping id), the
    * columns added since null. A rename, drop or retype since, a name
    * re-added after a rename or drop (another column), or any change
    * after the pin refuses loudly rather than silently misreading.
    */
  private def adopt(df: DataFrame, endV: Long): DataFrame = {
    val got = df.schema.map(f => (f.name, f.dataType))
    val want = schema.map(f => (f.name, f.dataType))
    val pinnedIds = schema.fields.flatMap(f => DeltaReader.columnId(f).map(f.name -> _)).toMap
    val sameIds = pinnedIds.isEmpty ||
      DeltaReader.tableFields(spark, opts.path, endV).forall(f =>
        DeltaReader.columnId(f).forall(i => pinnedIds.get(f.name).forall(_ == i)))
    if (got == want && sameIds) return df
    // each table column must reach the pin as itself; the change-feed
    // columns keep their names
    val carried =
      if (endV <= pinnedAt) DeltaReader.carriedColumns(spark, opts.path, endV, pinnedAt)
      else Map.empty[String, StructField]
    val feed = if (opts.cdf) DeltaReader.CdfColumns.map(_.name).toSet else Set.empty[String]
    require(endV <= pinnedAt && df.schema.fields.forall(f => feed(f.name) ||
        carried.get(f.name).exists(p => p.name == f.name && p.dataType == f.dataType)),
      s"graft-delta: table schema changed mid-stream for ${opts.path} " +
        s"(stream pinned ${want.mkString(",")}, version $endV scans ${got.mkString(",")}) " +
        "— restart the stream to adopt the evolved schema")
    df.select(schema.map { f =>
      if (df.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Whole versions (after, to]: the append tail's adds
    * ([[DeltaTail.changes]], its refusals included) or the split change
    * feed ([[DeltaReader.readChangesSplit]] — the batch API makes the
    * caller split a window crossing a column-mapping transition; the
    * source IS that caller).
    */
  private def versions(after: Long, to: Long): DataFrame =
    if (after >= to) emptyBatch
    else if (opts.cdf) DeltaReader.readChangesSplit(spark, opts.path, after + 1, to)
    else DeltaTail.changes(spark, opts.path, after, to,
      opts.ignoreDeletes, opts.skipChangeCommits)

  /** Files [from, until) of the list `snapshot`/`v` pins, scanned under
    * version v's metadata — the same distributed scan (DV anti-join,
    * column mapping) as every reader; CDF slices carry the change
    * columns.
    */
  private def slice(snapshot: Boolean, v: Long, from: Long, until: Long): DataFrame =
    if (opts.cdf) DeltaReader.readChangesSlice(spark, opts.path, v, from, until)
    else {
      val files = DeltaReader.fileSlice(pinned(snapshot, v), from, until)
      if (files.isEmpty) emptyBatch
      else DeltaReader.scanFiles(spark, opts.path,
        DeltaReader.snapshot(spark, opts.path, Some(v)), files)
    }

  private def emptyBatch: DataFrame =
    // deliberately NOT wrapped via asStreaming: Spark 4's microbatch
    // engine accepts a plain empty batch relation here, and an
    // isStreaming-marked LogicalRDD over an already-planned empty
    // frame trips the batch-execution checker instead (measured —
    // the opposite of the non-empty paths, which the engine grafts
    // in place of the streaming relation before planning)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  override def commit(end: OffsetV1): Unit = () // retention governs the log

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftDeltaSource[${opts.path}, cdf=${opts.cdf}]"
}
