package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** One WHEN clause of a general MERGE (see
  * [[LakeWriter.mergeIntoClauses]]): an optional SQL condition over
  * the `t` (target) and `s` (source) struct namespaces, and the action
  * taken by the first clause in its group whose condition holds.
  */
final case class MergeClause(condition: Option[String], action: MergeClauseAction)

sealed trait MergeClauseAction
/** WHEN MATCHED THEN UPDATE SET * — every column takes the source's. */
case object MergeUpdateAll extends MergeClauseAction
/** UPDATE SET col = <sql over t.*, s.*> for the listed columns; the
  * rest keep the target's value. WHEN NOT MATCHED BY SOURCE updates
  * may reference `t` only (`s` is null there by construction).
  */
final case class MergeUpdate(sets: Map[String, String]) extends MergeClauseAction
/** WHEN [NOT] MATCHED [BY SOURCE] THEN DELETE. */
case object MergeDelete extends MergeClauseAction
/** WHEN NOT MATCHED THEN INSERT * — source must carry every column. */
case object MergeInsertAll extends MergeClauseAction
/** INSERT (cols) VALUES (<sql over s.*>); unlisted nullable columns
  * take null, unlisted non-nullable columns refuse.
  */
final case class MergeInsert(values: Map[String, String]) extends MergeClauseAction

/** Lake-side sinks. The layout choices are the query accelerators:
  * directory partitioning turns equality/range predicates on the
  * partition column into file-listing pruning (no footer reads at
  * all), and in-file sorting makes parquet min/max stats selective for
  * the remaining columns — see also `LakeIndexer.writeIndex`, which
  * lays the cell index out the same way and commits it as a Delta
  * table through [[writeDelta]].
  */
object LakeWriter {

  /** Directory-partitioned parquet: one directory per `partitionCol`
    * value, rows sorted by `sortCols` within each file. Queries
    * filtering on the partition column scan only matching directories
    * (`PartitionFilters` in the plan, zero data files touched
    * elsewhere).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCols: Seq[String] = Nil,
                       mode: SaveMode = SaveMode.Overwrite): Unit = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.repartition(df.col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortCols).map(df.col): _*)
    sorted.write.mode(mode).partitionBy(partitionCol).parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-order (Morton-curve) clustered parquet: rows are laid out along
    * an interleaved-bit curve over BOTH columns' quantile-bucket ranks,
    * so every output file covers a small rectangle of (c1, c2) space
    * and parquet min/max stats prune scans filtering on EITHER column —
    * a single-column sort only ever prunes itself. This is the layout
    * discipline behind Delta's OPTIMIZE ZORDER, exposed as a write
    * option for the plain parquet sink.
    *
    * Scale: bucket boundaries come from ONE approx_percentile aggregate
    * (255 doubles per column to the driver — corpus-size independent),
    * bucketing is a broadcast binary search per row, and the only data
    * movement is the range exchange on the z-value.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    numFiles: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    val qs = (1 until 256).map(_ / 256.0)
    val bounds = df.select(
      percentile_approx(df.col(c1).cast("double"), lit(qs.toArray), lit(10000)),
      percentile_approx(df.col(c2).cast("double"), lit(qs.toArray), lit(10000)))
      .head()
    val b1 = bounds.getSeq[Double](0).toArray
    val b2 = bounds.getSeq[Double](1).toArray
    // the Morton rank is a codegen kernel (ZOrderKernel.mortonCol) —
    // the rewrite is data-sized, so no boxed UDF on it
    df.withColumn("__z", graft.functions.ZOrderKernel.mortonCol(
        df.col(c1).cast("double"), df.col(c2).cast("double"), b1, b2))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** IN-COMMIT TIMESTAMPS (the protocol's `inCommitTimestamp` writer
    * feature): graft logs are deterministic by default — every
    * informational timestamp is 0, which makes results reproducible
    * but leaves `timestampAsOf` and hour-based retention meaningless
    * on graft-authored tables. A table declaring
    * `delta.enableInCommitTimestamps=true` opts into wall-clock
    * commits: every commit's leading commitInfo carries a MONOTONE
    * `inCommitTimestamp` (max of the wall clock and the predecessor's
    * stamp + 1 — a commit is never older than its parent even when
    * the clock runs backwards), audits/retention get real time, and
    * the deterministic default stays untouched for everyone else.
    */
  private[graft] def ictEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableInCommitTimestamps").contains("true")

  /** The next commit's monotone stamp: wall clock, floored by the
    * predecessor's ICT + 1. A missing predecessor commit (version 0,
    * or a log-compacted/cleaned file) falls back to the wall clock —
    * documented: retention that removes the newest commit cannot
    * happen, so the floor is only ever absent at the log's trimmed
    * tail where monotonicity has no witness either.
    */
  private[graft] def nextIct(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                             log: org.apache.hadoop.fs.Path, prevVersion: Long): Long = {
    val prev =
      if (prevVersion < 0) -1L
      else DeltaReader.commitIct(fs, log, prevVersion).getOrElse(-1L)
    math.max(System.currentTimeMillis(), prev + 1)
  }

  /** Stamp a rendered commit's leading commitInfo with the table's
    * in-commit timestamp; identity when the table doesn't declare the
    * feature or the content is already stamped (callers that must
    * know the exact value — the ALTER enablement commit — pre-stamp).
    */
  private[graft] def ictStampContent(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, commitPath: org.apache.hadoop.fs.Path,
      conf: Map[String, String], content: Array[Byte]): Array[Byte] = {
    if (!ictEnabled(conf)) return content
    val text = new String(content, "UTF-8")
    val prefix = """{"commitInfo":{"""
    // already-stamped check reads the whole commitInfo LINE, not the
    // prefix position — operationMetrics injection may legitimately
    // sit in front of an existing stamp
    if (!text.startsWith(prefix) ||
        text.linesIterator.next().contains("\"inCommitTimestamp\":"))
      return content
    val version = commitPath.getName.take(20).toLong
    // the ENABLEMENT commit's stamp must equal the provenance the
    // protocol records in its configuration — take it from there
    val t = conf.get("delta.inCommitTimestampEnablementVersion")
      .filter(_.toLong == version)
      .flatMap(_ => conf.get("delta.inCommitTimestampEnablementTimestamp").map(_.toLong))
      .getOrElse(nextIct(spark, fs, commitPath.getParent, version - 1))
    (prefix + s""""inCommitTimestamp":$t,""" + text.stripPrefix(prefix)).getBytes("UTF-8")
  }

  /** Inject delta-spark-shaped `operationMetrics` into a commit's
    * commitInfo line, derived from the commit's OWN file actions:
    * numAddedFiles / numAddedBytes, numRemovedFiles, numCdcFiles /
    * numCdcBytes, and numOutputRows when every add carries footer
    * stats (values rendered as strings — delta-spark's wire shape).
    * Beside the uniform vocabulary, per-operation ALIASES delta-spark
    * consumers key on ride along where the quantity is file-derivable:
    * WRITE-family commits add numFiles/numOutputBytes, MERGE adds
    * numTargetFilesAdded/numTargetFilesRemoved, DELETE/UPDATE add
    * numAddedChangeFiles. Row-level metrics delta-spark computes
    * inside its command execution (numDeletedRows, numCopiedRows) are
    * NOT derivable from file actions and are deliberately absent — a
    * DESCRIBE HISTORY consumer gets the file/byte/output-row story on
    * both engines, not the per-command row accounting. Runs once on
    * the bytes the writer just rendered (same order of work as
    * rendering them); metadata-only commits stay untouched. Skips
    * commits whose commitInfo already carries metrics (a rebase
    * re-render passes through twice) — scoped to the FIRST line, so
    * an action or parameter value containing the literal elsewhere
    * cannot suppress injection.
    */
  private[graft] def injectOperationMetrics(content: Array[Byte]): Array[Byte] = {
    val text = new String(content, "UTF-8")
    val prefix = """{"commitInfo":{"""
    // empty/odd content passes through untouched — nextOption, so an
    // empty byte array cannot throw inside the commit path
    val firstLine = text.linesIterator.nextOption().getOrElse("")
    if (!text.startsWith(prefix) ||
        firstLine.contains("\"operationMetrics\":")) return content
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // parsed lazily: metadata-only commits return before ever needing it
    lazy val operation =
      Option(om.readTree(firstLine).get("commitInfo"))
        .flatMap(ci => Option(ci.get("operation"))).map(_.asText()).getOrElse("")
    var addN = 0L; var addB = 0L; var remN = 0L; var cdcN = 0L; var cdcB = 0L
    var rows = 0L; var rowsKnown = true
    text.linesIterator.foreach { line =>
      // graft renders one action per line with the action name first —
      // the startsWith guard keeps the scan O(actions), not O(bytes²)
      if (line.startsWith("""{"add"""")) {
        val a = om.readTree(line).get("add")
        addN += 1
        if (a.has("size") && !a.get("size").isNull) addB += a.get("size").asLong()
        val st = if (a.has("stats") && !a.get("stats").isNull) a.get("stats").asText() else null
        val nr = if (st == null) null else om.readTree(st).get("numRecords")
        if (nr == null || nr.isNull) rowsKnown = false else rows += nr.asLong()
      } else if (line.startsWith("""{"remove"""")) remN += 1
      else if (line.startsWith("""{"cdc"""")) {
        val c = om.readTree(line).get("cdc")
        cdcN += 1
        if (c.has("size") && !c.get("size").isNull) cdcB += c.get("size").asLong()
      }
    }
    if (addN == 0 && remN == 0 && cdcN == 0) return content
    val m = Seq.newBuilder[(String, String)]
    if (addN > 0) { m += "numAddedFiles" -> addN.toString; m += "numAddedBytes" -> addB.toString }
    if (remN > 0) m += "numRemovedFiles" -> remN.toString
    if (cdcN > 0) { m += "numCdcFiles" -> cdcN.toString; m += "numCdcBytes" -> cdcB.toString }
    if (addN > 0 && rowsKnown) m += "numOutputRows" -> rows.toString
    // delta-spark's per-operation names (same derived quantities)
    operation match {
      case "WRITE" | "CREATE TABLE" | "CREATE TABLE AS SELECT" |
           "REPLACE TABLE AS SELECT" | "COPY INTO" | "STREAMING UPDATE" if addN > 0 =>
        m += "numFiles" -> addN.toString; m += "numOutputBytes" -> addB.toString
      case "MERGE" =>
        if (addN > 0) m += "numTargetFilesAdded" -> addN.toString
        if (remN > 0) m += "numTargetFilesRemoved" -> remN.toString
        if (cdcN > 0) m += "numTargetChangeFilesAdded" -> cdcN.toString
      case "DELETE" | "UPDATE" if cdcN > 0 =>
        m += "numAddedChangeFiles" -> cdcN.toString
      case _ =>
    }
    val json = m.result().map { case (k, v) =>
      s"${om.writeValueAsString(k)}:${om.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    (prefix + s""""operationMetrics":$json,""" + text.stripPrefix(prefix)).getBytes("UTF-8")
  }

  /** Version checksum (`<version>.crc` beside the commit) —
    * delta-spark's VersionChecksum: table-level facts (live bytes,
    * live file count, current metaData and protocol) a reader can
    * verify a replay against without resolving the file list, and the
    * early-warning signal for a non-atomic store silently losing a
    * commit. Folded INCREMENTALLY: the previous version's .crc plus
    * this commit's OWN actions (adds add size/count, removes subtract
    * via their `size` field, metaData/protocol replace) — O(commit
    * bytes) driver work, no Spark job, no snapshot resolve. The chain
    * seeds at version 0 (every graft CREATE) and RE-SEEDS at each
    * checkpoint (whose author already aggregates the live set), so a
    * foreign-history table heals at checkpoint cadence. Best-effort by
    * contract: the commit is durable before this runs, and a checksum
    * failure (foreign remove without size, absent predecessor) writes
    * nothing rather than writing a wrong chain.
    */
  private[graft] def writeVersionChecksum(fs: org.apache.hadoop.fs.FileSystem,
                                          commitPath: org.apache.hadoop.fs.Path,
                                          content: Array[Byte],
                                          replacedSizes: Seq[Long] = Nil): Unit = try {
    val name = commitPath.getName
    if (!name.matches("\\d{20}\\.json")) return
    val version = name.take(20).toLong
    val log = commitPath.getParent
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var size = 0L
    var files = 0L
    var metadata: com.fasterxml.jackson.databind.JsonNode = null
    var protocol: com.fasterxml.jackson.databind.JsonNode = null
    if (version > 0) {
      val prev = new org.apache.hadoop.fs.Path(log, f"${version - 1}%020d.crc")
      val in = try fs.open(prev) catch { case _: java.io.IOException => return }
      val prevN = try om.readTree(in) finally in.close()
      size = prevN.get("tableSizeBytes").asLong()
      files = prevN.get("numFiles").asLong()
      metadata = prevN.get("metadata")
      protocol = prevN.get("protocol")
    }
    // Remove-liveness: graft's own funnel only ever removes paths it
    // resolved LIVE under OCC (every rebase tier re-checks its removes
    // disjoint from the winners'), so each remove here is -1 live file
    // by construction. The one protocol-legal shape that would skew
    // the fold — the same path removed twice in one commit (an
    // idempotent retry folded into one version) — is detected below
    // and makes the chain unfoldable (write nothing; the checkpoint
    // re-seed heals). Foreign commits never reach this fold at all:
    // they carry no graft .crc, so the chain breaks at them and
    // re-seeds at the next checkpoint.
    val removedPaths = scala.collection.mutable.HashSet.empty[String]
    new String(content, "UTF-8").linesIterator.foreach { line =>
      if (line.startsWith("""{"add"""")) {
        val a = om.readTree(line).get("add")
        files += 1
        size += (if (a.has("size") && !a.get("size").isNull) a.get("size").asLong() else 0L)
      } else if (line.startsWith("""{"remove"""")) {
        val r = om.readTree(line).get("remove")
        files -= 1
        // a remove without size makes the byte chain unfoldable —
        // write nothing (the checkpoint re-seed will heal it)
        if (!r.has("size") || r.get("size").isNull)
          throw new IllegalStateException("unfoldable")
        if (!removedPaths.add(r.get("path").asText()))
          throw new IllegalStateException("unfoldable: duplicate remove")
        size -= r.get("size").asLong()
      } else if (line.startsWith("""{"metaData""""))
        metadata = om.readTree(line).get("metaData")
      else if (line.startsWith("""{"protocol""""))
        protocol = om.readTree(line).get("protocol")
    }
    // last-writer-wins re-adds (backfill/restore shapes): each add
    // that replaced a live path counted +1/+newSize above but removed
    // nothing from the replay — subtract the replaced entries here
    // (the caller, who resolved the pre-commit snapshot, names them)
    files -= replacedSizes.size
    size -= replacedSizes.sum
    if (metadata == null || protocol == null || files < 0 || size < 0) return
    writeCrcFile(fs, log, version, size, files, metadata, protocol, om)
  } catch { case scala.util.control.NonFatal(_) => () }

  private[graft] def writeCrcFile(fs: org.apache.hadoop.fs.FileSystem,
                                  log: org.apache.hadoop.fs.Path, version: Long,
                                  size: Long, files: Long,
                                  metadata: com.fasterxml.jackson.databind.JsonNode,
                                  protocol: com.fasterxml.jackson.databind.JsonNode,
                                  om: com.fasterxml.jackson.databind.ObjectMapper): Unit = {
    val root = om.createObjectNode()
    root.put("tableSizeBytes", size)
    root.put("numFiles", files)
    root.put("numMetadata", 1L)
    root.put("numProtocol", 1L)
    root.set[com.fasterxml.jackson.databind.JsonNode]("metadata", metadata)
    root.set[com.fasterxml.jackson.databind.JsonNode]("protocol", protocol)
    // deterministic content — overwrite is safe, no arbitration needed
    val out = fs.create(new org.apache.hadoop.fs.Path(log, f"$version%020d.crc"), true)
    try out.write(om.writeValueAsString(root).getBytes("UTF-8")) finally out.close()
  }

  /** `delta.checkpoint.writeStatsAsStruct`: the typed per-leaf
    * `stats_parsed` schema — the table schema restricted to skippable
    * leaves — or None when the property is off.
    */
  private[graft] def statsParsedSchemaOf(conf: Map[String, String],
                                         schemaJson: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    if (!conf.get("delta.checkpoint.writeStatsAsStruct").contains("true")) None
    else {
      // stats JSON is keyed by the files' PHYSICAL names — on a
      // column-mapped table the struct fields must be physical too, or
      // from_json parses every bound to null (and delta-spark, which
      // keys stats_parsed physically, couldn't read ours)
      def physName(f: StructField): String =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      def prunable(st: StructType): StructType = StructType(st.fields.flatMap { f =>
        f.dataType match {
          case s: StructType =>
            val inner = prunable(s)
            if (inner.isEmpty) None else Some(StructField(physName(f), inner))
          case dt @ (LongType | IntegerType | ShortType | ByteType | DoubleType |
                     FloatType | BooleanType | StringType | DateType |
                     TimestampType | TimestampNTZType | _: DecimalType) =>
            Some(StructField(physName(f), dt))
          case _ => None
        }
      })
      def longs(st: StructType): StructType = StructType(st.fields.map { f =>
        f.dataType match {
          case s: StructType => StructField(f.name, longs(s))
          case _ => StructField(f.name, LongType)
        }
      })
      val tbl = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      val mins = prunable(tbl)
      Some(StructType(Seq(
        StructField("numRecords", LongType),
        StructField("minValues", mins),
        StructField("maxValues", mins),
        StructField("nullCount", longs(mins)))))
    }
  }

  /** `add.stats_parsed` column for a checkpoint author: the JSON stats
    * parsed into the typed struct (explicit micros formats so temporal
    * bounds round-trip losslessly).
    */
  private[graft] def statsParsedColumn(sps: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.from_json(
      org.apache.spark.sql.functions.col("stats"), sps, Map(
        "timeZone" -> "UTC",
        "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .as("stats_parsed")

  /** Re-seed the version-checksum chain at a checkpoint: ONE
    * aggregation over the live set (which the checkpoint author needs
    * counted anyway) yields (numFiles, tableSizeBytes); writes the
    * .crc if absent. Returns the counts for the author's own use.
    */
  private[graft] def reseedChecksum(spark: SparkSession,
                                    fs: org.apache.hadoop.fs.FileSystem,
                                    log: org.apache.hadoop.fs.Path, dir: String,
                                    snap: DeltaReader.Snapshot, version: Long)
      : (Long, Long) = {
    val r = snap.activeDf(spark).agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("size"),
        org.apache.spark.sql.functions.lit(0L))).head()
    val (nLive, liveBytes) = (r.getLong(0), r.getLong(1))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val crc = new org.apache.hadoop.fs.Path(log, f"$version%020d.crc")
    if (!fs.exists(crc)) try {
      // the table's REAL metaData action, verbatim (delta-spark loads
      // protocol/metadata straight from the .crc and compares against
      // replayed state — a reconstructed field subset would diverge
      // there, and the incremental fold would inherit it at every
      // subsequent version); the synthesis below is only the fallback
      // for a snapshot whose source never carried the raw node
      val md: com.fasterxml.jackson.databind.JsonNode = snap.metaRaw match {
        case Some(raw) => om.readTree(raw)
        case None =>
          val m = om.createObjectNode()
          m.put("id", snap.metaId.getOrElse(
            java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString))
          m.put("schemaString", snap.schemaJson)
          m.set[com.fasterxml.jackson.databind.JsonNode]("partitionColumns",
            om.valueToTree(scala.jdk.CollectionConverters.SeqHasAsJava(snap.partCols).asJava))
          m.set[com.fasterxml.jackson.databind.JsonNode]("configuration",
            om.valueToTree[com.fasterxml.jackson.databind.JsonNode](
              new java.util.TreeMap[String, String](
                scala.jdk.CollectionConverters.MapHasAsJava(snap.configuration).asJava)))
          m
      }
      val pr = om.createObjectNode()
      pr.put("minReaderVersion", snap.minReader)
      pr.put("minWriterVersion", snap.minWriter)
      if (snap.minReader >= 3) pr.set[com.fasterxml.jackson.databind.JsonNode](
        "readerFeatures", om.valueToTree(
          scala.jdk.CollectionConverters.SeqHasAsJava(snap.readerFeatures.toSeq.sorted).asJava))
      if (snap.minWriter >= 7) pr.set[com.fasterxml.jackson.databind.JsonNode](
        "writerFeatures", om.valueToTree(
          scala.jdk.CollectionConverters.SeqHasAsJava(snap.writerFeatures.toSeq.sorted).asJava))
      writeCrcFile(fs, log, version, liveBytes, nLive, md, pr, om)
    } catch { case scala.util.control.NonFatal(_) => () }
    (nLive, liveBytes)
  }

  /** Oldest retained version stamped at or after `cutoffMillis` — the
    * VACUUM RETAIN n HOURS horizon on an in-commit-timestamp table.
    * When every retained commit is older than the cutoff the latest
    * version is the horizon (vacuum always keeps the current state);
    * unstamped commits (pre-enablement) count as older-than-cutoff.
    */
  private[graft] def ictHorizonVersion(spark: SparkSession, dir: String,
                                       latest: Long, cutoffMillis: Long): Long = {
    val log = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).sorted
    versions.find(v => DeltaReader.commitIct(fs, log, v).exists(_ >= cutoffMillis))
      .getOrElse(latest)
  }

  /** Create a Delta table at `dir` (version 0) from `df` — the write
    * side of [[DeltaReader]], emitting spec-conformant protocol /
    * metaData / add actions (PROTOCOL.md; minReaderVersion 1, no
    * column mapping). Single-writer discipline: real Delta arbitrates
    * concurrent commits through an atomic log rename, which a
    * single-pipeline sink does not need — concurrent writers to one
    * table are out of scope and would need that arbitration.
    *
    * All log/file manipulation goes through the Hadoop FileSystem of
    * the table path, so the sink works on any scheme the session can
    * reach, matching [[DeltaReader]].
    *
    * `checkpointInterval` > 0 writes a classic checkpoint parquet (+
    * `_last_checkpoint` hint) every that-many commits — without it a
    * long-lived graft-written table replays every JSON commit forever,
    * which is exactly the unbounded-log failure the format's
    * checkpoints exist to prevent.
    */
  def writeDelta(df: DataFrame, dir: String, checkpointInterval: Int = 0,
                 partitionBy: Seq[String] = Nil,
                 txn: Option[(String, Long)] = None,
                 configuration: Map[String, String] = Map.empty): Unit = {
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"writeDelta: partition column '$c' not in ${df.columns.mkString(", ")}"))
    IdentityColumns.validate(df.schema, partitionBy, "writeDelta")
    DeltaStats.validateStatsColumns(configuration, df.schema, "writeDelta")
    // CREATE-time CHECK constraints bind the creating batch too — a
    // violating row admitted at version 0 would lie to every reader.
    // ONE combined pass over the batch (per-constraint re-checks only
    // on the failure path, to name the violated constraint)
    locally {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val checks = configuration.toSeq.filter(_._1.startsWith("delta.constraints."))
      def violates(cond: String) = not(coalesce(expr(cond).cast("boolean"), lit(true)))
      if (checks.nonEmpty &&
          !df.where(checks.map(c => violates(c._2)).reduce(_ || _)).isEmpty) {
        checks.foreach { case (k, cond) =>
          require(df.where(violates(cond)).isEmpty,
            s"writeDelta: the creating batch violates CHECK constraint " +
              s"${k.stripPrefix("delta.constraints.")} ($cond)")
        }
      }
    }
    commitDelta(df, dir, 0L, includeMeta = true, checkpointInterval, partitionBy, txn,
      configuration = configuration, operation = "CREATE TABLE",
      // CREATE with rows seeds the watermark from whatever the batch
      // carries (the creator defines the table's initial content); the
      // metaData this commit renders is patched in place
      identity = IdentityColumns.advanceOf(df.schema, Map.empty).map(adv => (adv, None)))
  }

  /** EVERY legacy obligation a table with configuration `conf` and
    * schema `schema` carries, made explicit when a protocol restates to
    * the (*, 7) feature form — a feature list that DROPPED one
    * (generated columns, identity, constraints, CDF, CM) would license a
    * v7 writer to violate it. Callers pass what the commit LEAVES the
    * table with, so an obligation the same commit introduces is listed.
    */
  private def legacyObligations(conf: Map[String, String],
                                schema: org.apache.spark.sql.types.StructType): Set[String] =
    Set("appendOnly", "invariants") ++
      (if (conf.get("delta.enableChangeDataFeed").contains("true")) Set("changeDataFeed")
       else Set.empty) ++
      (if (conf.keys.exists(_.startsWith("delta.constraints."))) Set("checkConstraints")
       else Set.empty) ++
      (if (conf.getOrElse("delta.columnMapping.mode", "none") != "none")
        Set("columnMapping") else Set.empty) ++
      (if (schema.fields.exists(_.metadata.contains("delta.generationExpression")))
        Set("generatedColumns") else Set.empty) ++
      (if (IdentityColumns.hasIdentity(schema)) Set(IdentityColumns.Feature)
       else Set.empty)

  /** The feature-form protocol of a commit that leaves the table with
    * `conf` and `schema` and needs `writerFeatures` and the reader+writer
    * `readerWriterFeatures` declared: minWriter 7; minReader 3 when a
    * reader+writer feature is requested, else the larger of `minReader`
    * and the snapshot's. The lists union the snapshot's features, every
    * [[legacyObligations]] and the requested ones (reader+writer
    * features in both lists; `columnMapping`, the one legacy obligation
    * readers share, in the reader list too). None when the table is
    * already v7 and declares everything requested plus any obligation
    * the commit introduces.
    */
  private def restateProtocol(snap: DeltaReader.Snapshot, conf: Map[String, String],
                              schema: org.apache.spark.sql.types.StructType,
                              writerFeatures: Set[String] = Set.empty,
                              readerWriterFeatures: Set[String] = Set.empty,
                              minReader: Long = 1L): Option[String] = {
    val obligations = legacyObligations(conf, schema)
    val needed = writerFeatures ++ readerWriterFeatures ++
      (obligations -- legacyObligations(snap.configuration, tableSchema(snap)))
    val reader = math.max(snap.minReader, if (readerWriterFeatures.nonEmpty) 3L else minReader)
    if (snap.minWriter == 7 && reader == snap.minReader &&
        needed.subsetOf(snap.writerFeatures.toSet) &&
        readerWriterFeatures.subsetOf(snap.readerFeatures.toSet)) None
    else Some(protocolLine(reader, 7,
      snap.readerFeatures.toSet ++ obligations.intersect(Set("columnMapping")) ++
        readerWriterFeatures,
      snap.writerFeatures.toSet ++ obligations ++ writerFeatures ++ readerWriterFeatures))
  }

  /** The one renderer of `protocol` actions: reader features are listed
    * only in the feature form (minReader ≥ 3), writer features only at
    * minWriter ≥ 7, each sorted and distinct.
    */
  private def protocolLine(minReader: Long, minWriter: Long,
                           readerFeatures: Iterable[String],
                           writerFeatures: Iterable[String]): String = {
    def jarr(xs: Iterable[String]): String =
      xs.toSeq.distinct.sorted.map(jsonMapper.writeValueAsString).mkString("[", ",", "]")
    val rf = if (minReader >= 3) s""","readerFeatures":${jarr(readerFeatures)}""" else ""
    val wf = if (minWriter >= 7) s""","writerFeatures":${jarr(writerFeatures)}""" else ""
    s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter$rf$wf}}"""
  }

  /** The table's CURRENT protocol restated verbatim — what a
    * metadata-updating commit carries alongside its new metaData
    * (emitting (1,2) would DOWNGRADE a feature table's declared
    * requirements, the same trap checkpointDelta documents).
    */
  private def protocolJson(snap: DeltaReader.Snapshot): String =
    protocolLine(snap.minReader, snap.minWriter, snap.readerFeatures, snap.writerFeatures)

  /** The `commitInfo` action leading every graft commit (delta-spark's
    * layout): pure provenance — excluded from checkpoints, ignored by
    * state folding, surfaced by DeltaReader.history. Its timestamp is 0
    * like every informational field of graft's deterministic logs;
    * `readVersion` is absent on a creating commit.
    */
  private def commitInfoLine(operation: String, operationParameters: String,
                             readVersion: Option[Long]): String =
    s"""{"commitInfo":{"timestamp":0,"operation":${jsonMapper.writeValueAsString(operation)},"operationParameters":$operationParameters,${readVersion.map(v => s""""readVersion":$v,""").getOrElse("")}"engineInfo":"graft"}}"""

  /** The metadata-class commit — ALTERs, protocol and feature changes,
    * CLUSTER BY, domain metadata, row-tracking enablement, the DV family
    * and RESTORE: [[commitInfoLine]] for `operation`, then `actions`,
    * written create-if-absent at `snap.version + 1` through
    * [[GraftLogStore.commitOrThrow]]. `conf` is the configuration the
    * commit leaves the table with (its in-commit timestamp and
    * checkpoint cadence read it); `crcReplaced` names the sizes of live
    * entries re-added without a remove. No OCC rebase, optimizeWrite or
    * autoCompact (that is commitDelta's funnel): a lost race refuses,
    * and the loser's sidecars and staged files are unreferenced debris,
    * the same class as a failed writer's. ALTERs are version bumps that
    * touch no data file; time travel below them replays the old
    * metadata.
    */
  private def commitLog(spark: SparkSession, snap: DeltaReader.Snapshot, dir: String,
                        operation: String, conf: Map[String, String], actions: Seq[String],
                        operationParameters: String = "{}",
                        crcReplaced: Seq[Long] = Nil): Unit = {
    val version = snap.version + 1
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
    fs.mkdirs(log)
    GraftLogStore.commitOrThrow(spark, fs, new org.apache.hadoop.fs.Path(log, f"$version%020d.json"),
      (commitInfoLine(operation, operationParameters, Some(snap.version)) +: actions)
        .mkString("\n").getBytes("UTF-8"),
      s"a concurrent writer won version $version; re-read the table and retry the $operation",
      ictConf = conf, crcReplaced = crcReplaced)
  }

  /** ALTER TABLE ... ALTER COLUMN c SET DEFAULT expr / DROP DEFAULT —
    * the `allowColumnDefaults` writer feature. The default must be a
    * CONSTANT expression castable to the column's type; it is recorded
    * in the field's metadata (Spark's own CURRENT_DEFAULT key, which
    * delta-spark also uses) and applies to FUTURE writes that omit the
    * column — INSERT column lists, appends, MERGE insert clauses.
    * Existing rows are untouched and read what they stored; like
    * delta-spark, `ADD COLUMN ... DEFAULT` stays refused (add the
    * column, then set its default — a default that rewrites history
    * does not exist in the protocol).
    */
  def alterColumnDefault(spark: SparkSession, dir: String, colName: String,
                         default: Option[String]): Unit = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = tableSchema(snap)
    val f = table.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"alterColumnDefault: column '$colName' not in (${table.fieldNames.mkString(", ")})"))
    default.foreach { d =>
      val parsed = spark.sessionState.sqlParser.parseExpression(d)
      require(parsed.references.isEmpty,
        s"alterColumnDefault: DEFAULT '$d' references columns " +
          s"(${parsed.references.map(_.name).mkString(", ")}) — defaults must be " +
          "constant expressions (they evaluate with no row in scope)")
      // prove it evaluates and casts NOW — a malformed default must
      // refuse at ALTER time, not poison every future insert
      spark.range(1).select(org.apache.spark.sql.functions.expr(d).cast(f.dataType)).head()
    }
    val newField = default match {
      case Some(d) => f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString("CURRENT_DEFAULT", d).build())
      case None =>
        require(f.metadata.contains("CURRENT_DEFAULT"),
          s"alterColumnDefault: column '$colName' has no default to drop")
        val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        mb.remove("CURRENT_DEFAULT")
        f.copy(metadata = mb.build())
    }
    val newSchema = org.apache.spark.sql.types.StructType(
      table.fields.map(x => if (x.name == colName) newField else x))
    val proto =
      if (default.isEmpty) None
      else restateProtocol(snap, snap.configuration, newSchema, Set("allowColumnDefaults"))
    commitLog(spark, snap, dir, "ALTER COLUMN", snap.configuration, Seq(
      proto.getOrElse(protocolJson(snap)),
      metaLineFor(dir, snap, newSchema, snap.configuration)))
  }

  /** VARIANT anywhere in a type tree — the shape that requires the
    * protocol's `variantType` reader+writer feature.
    */
  private[graft] def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: VariantType => true
      case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
      case a: ArrayType => hasVariant(a.elementType)
      case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
      case _ => false
    }
  }

  /** TIMESTAMP_NTZ anywhere in a type tree — the shape that requires
    * the protocol's `timestampNtz` reader+writer feature: the physical
    * parquet column is isAdjustedToUTC=false, and a reader unaware of
    * the feature would interpret those wall-clock values as UTC
    * instants (a silent timezone-sized shift in every row), so the
    * protocol gates the TYPE behind minReader 3.
    */
  private[graft] def hasNtz(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
  }

  /** The reader+writer features a schema's TYPES demand that `snap`
    * does not already declare — variant and NTZ columns are the two
    * reader-visible shapes a schema change can introduce, and BOTH can
    * arrive in one ALTER/evolution.
    */
  private def typeFeaturesNeeded(snap: DeltaReader.Snapshot,
                                 dts: Iterable[org.apache.spark.sql.types.DataType]): Seq[String] =
    (if (dts.exists(hasVariant) && !snap.readerFeatures.contains("variantType"))
      Seq("variantType") else Nil) ++
    (if (dts.exists(hasNtz) && !snap.readerFeatures.contains("timestampNtz"))
      Seq("timestampNtz") else Nil)

  private def tableSchema(snap: DeltaReader.Snapshot): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** ALTER TABLE ADD COLUMNS: append nullable columns as a
    * metadata-only commit — existing files simply lack them and the
    * schema-first scan reads null (the protocol's evolution model,
    * the same rule [[appendDeltaEvolve]] uses when an APPEND carries
    * the new columns; this is the pure-DDL form). On column-mapped
    * tables the new fields get fresh physical names and field ids and
    * `delta.columnMapping.maxColumnId` advances — the reason the mode
    * makes ADD COLUMN safe on a 100-TB table: zero files rewritten.
    */
  def alterAddColumns(spark: SparkSession, dir: String,
                      cols: Seq[(String, String)],
                      comments: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "alterAddColumns: no columns given")
    val badComments = comments.keySet -- cols.map(_._1).toSet
    require(badComments.isEmpty,
      s"alterAddColumns: comments for columns not being added: ${badComments.mkString(", ")}")
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = tableSchema(snap)
    val cm = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    // DOTTED names add NESTED fields (r16 — `ALTER TABLE t ADD COLUMNS
    // (s.score DOUBLE)`): each path is validated against the declared
    // shape (every intermediate segment must be a struct; the leaf
    // must not exist), then the whole batch routes through
    // [[evolveSchema]]'s recursive merge — the same discipline
    // appendDeltaEvolve uses, so CM id/physical-name assignment and
    // maxColumnId advancement are identical in both entry points
    def checkPath(st: StructType, path: List[String], full: String): Unit =
      path match {
        case name :: Nil =>
          require(!st.fieldNames.contains(name),
            s"alterAddColumns: column '$full' already exists")
        case head :: rest =>
          // a missing intermediate is an ERROR, not an auto-created
          // parent (delta-spark's missing-field behavior) — silently
          // materializing a new top-level struct for a typo'd parent
          // ('adress.x' vs existing 'address') would hide the typo
          val f = st.fields.find(_.name == head).getOrElse(
            throw new IllegalArgumentException(
              s"alterAddColumns: parent field '$head' in '$full' does not exist " +
                s"(have: ${st.fieldNames.mkString(", ")})"))
          f.dataType match {
            case inner: StructType => checkPath(inner, rest, full)
            case dt => throw new IllegalArgumentException(
              s"alterAddColumns: '$head' in '$full' is ${dt.simpleString}, " +
                "not a struct — nested adds need a struct at every level")
          }
        case Nil =>
      }
    def insertPath(into: StructType, path: List[String], dt: DataType,
                   comment: Option[String]): StructType =
      path match {
        case name :: Nil =>
          // a user-declared COMMENT rides the new leaf's metadata
          // (evolveSchema's CM id assignment preserves it — the
          // builder starts withMetadata(f.metadata))
          val md = comment.map(c => new MetadataBuilder()
            .putString("comment", c).build()).getOrElse(Metadata.empty)
          StructType(into.fields :+ StructField(name, dt, nullable = true, md))
        case head :: rest =>
          into.fields.find(_.name == head) match {
            case Some(f) =>
              val inner = f.dataType match {
                case s: StructType => s
                case other => throw new IllegalArgumentException(
                  s"alterAddColumns: '$head' is ${other.simpleString}, not a struct")
              }
              StructType(into.fields.map(x =>
                if (x.name == head) f.copy(dataType = insertPath(inner, rest, dt, comment))
                else x))
            case None =>
              // unreachable: checkPath already required every
              // intermediate to exist
              throw new IllegalArgumentException(
                s"alterAddColumns: parent field '$head' does not exist")
          }
        case Nil => into
      }
    val parsed = cols.map { case (n, ddl) =>
      val path = n.split('.').toList
      checkPath(table, path, n)
      (path, DataType.fromDDL(ddl), comments.get(n))
    }
    // the incoming shape: the TABLE's existing fields plus the new
    // paths — evolveSchema's merge keeps existing fields verbatim and
    // appends only what's new
    val incoming = parsed.foldLeft(table) { case (acc, (path, dt, cmt)) =>
      insertPath(acc, path, dt, cmt)
    }
    val (newSchema, newConf) = evolveSchema(snap, table, cm, incoming.fields.toSeq)
    require(newSchema != table, "alterAddColumns: nothing to add")
    // an added VARIANT or TIMESTAMP_NTZ column changes what READERS
    // must understand — the upgrade rides the same commit as the
    // schema change
    val typeFeats = typeFeaturesNeeded(snap, parsed.map(_._2))
    val proto =
      if (typeFeats.isEmpty) None
      else restateProtocol(snap, newConf, newSchema, readerWriterFeatures = typeFeats.toSet)
    commitLog(spark, snap, dir, "ADD COLUMNS", newConf, Seq(
      proto.getOrElse(protocolJson(snap)), metaLineFor(dir, snap, newSchema, newConf)))
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — the protocol's
    * `typeWidening` reader+writer feature: ONE metadata commit changes
    * the column's declared type along the spec's widening lattice
    * (byte→short→int→long, any of those →double or →decimal with
    * enough integral digits, float→double, date→timestamp_ntz,
    * decimal precision/scale growth that never loses digits). Zero
    * bytes rewrite at ANY table size: existing files keep their narrow
    * parquet type and every reader up-casts through the declared
    * schema (Spark 4's parquet readers do this natively in both the
    * vectorized and parquet-mr paths — verified for every lattice
    * edge in DeltaTypeWideningSpec); the field's `delta.typeChanges`
    * metadata records each hop (`fromType`/`toType`, the protocol
    * shape), so other engines know narrow-typed files are legitimate.
    *
    * Refusals: narrowing or cross-family changes (the lattice is the
    * whole contract), partition columns (partitionValues parse by the
    * declared type — a silent re-type would re-route directories),
    * identity columns (the protocol pins them to BIGINT).
    */
  def widenColumnType(spark: SparkSession, dir: String, colName: String,
                      to: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = tableSchema(snap)
    // dotted names widen NESTED leaves (r16) — the typeChanges history
    // attaches to the leaf field, exactly like a top-level widening
    def leafOf(st: StructType, path: List[String]): StructField = path match {
      case name :: Nil => st.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumnType: column '$colName' not in (${st.fieldNames.mkString(", ")})"))
      case head :: rest =>
        st.fields.find(_.name == head).map(_.dataType) match {
          case Some(inner: StructType) => leafOf(inner, rest)
          case Some(dt) => throw new IllegalArgumentException(
            s"widenColumnType: '$head' in '$colName' is ${dt.simpleString}, not a struct")
          case None => throw new IllegalArgumentException(
            s"widenColumnType: column '$colName' not in (${st.fieldNames.mkString(", ")})")
        }
      case Nil => throw new IllegalArgumentException("widenColumnType: empty name")
    }
    val pathParts = colName.split('.').toList
    val f = leafOf(table, pathParts)
    require(!snap.partCols.contains(colName),
      s"widenColumnType: '$colName' is a partition column — partitionValues parse " +
        "by the declared type; refusing a silent directory re-route")
    require(!f.metadata.contains(IdentityColumns.StartKey),
      s"widenColumnType: '$colName' is an identity column — the protocol pins " +
        "identity columns to BIGINT")
    def widens(from: DataType, t: DataType): Boolean = (from, t) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
      case _ => false
    }
    require(widens(f.dataType, to),
      s"widenColumnType: ${f.dataType.simpleString} → ${to.simpleString} is not a " +
        "widening the protocol allows (byte→short→int→long, integrals→double/" +
        "decimal, float→double, date→timestamp_ntz, decimal growth)")
    def protoName(dt: DataType): String = dt.json.stripPrefix("\"").stripSuffix("\"")
    // append this hop to the field's recorded type-change history
    val prior =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges").toSeq
      else Nil
    val hop = new MetadataBuilder()
      .putString("fromType", protoName(f.dataType))
      .putString("toType", protoName(to)).build()
    val newField = f.copy(dataType = to,
      metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putMetadataArray("delta.typeChanges", (prior :+ hop).toArray).build())
    def replaceAt(st: StructType, path: List[String]): StructType = path match {
      case name :: Nil =>
        StructType(st.fields.map(x => if (x.name == name) newField else x))
      case head :: rest => StructType(st.fields.map { x =>
        if (x.name != head) x
        else x.copy(dataType = replaceAt(x.dataType.asInstanceOf[StructType], rest))
      })
      case Nil => st
    }
    val newSchema = replaceAt(table, pathParts)
    // reader+writer feature: minReader 3 / minWriter 7, existing
    // features and legacy obligations preserved; the date→NTZ edge
    // introduces a second reader-visible shape in the same commit
    commitLog(spark, snap, dir, "ALTER COLUMN TYPE", snap.configuration, Seq(
      restateProtocol(snap, snap.configuration, newSchema, readerWriterFeatures =
        typeFeaturesNeeded(snap, Seq(to)).toSet + "typeWidening").getOrElse(protocolJson(snap)),
      metaLineFor(dir, snap, newSchema, snap.configuration)))
  }

  /** ALTER TABLE RENAME COLUMN — column-mapped tables only (name OR
    * id mode), where a rename is what the mode EXISTS for: the parquet
    * files carry stable physical names, so the logical rename is one
    * metadata commit and zero rewritten bytes. Partition columns
    * rename too (metaData.partitionColumns holds logical names; the
    * directories carry physical ones and never move). Non-CM tables
    * refuse: their files carry the logical name, and a metadata-only
    * rename would silently read nulls forever.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String, to: String): Unit = {
    import org.apache.spark.sql.types._
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cmR = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cmR == "name" || cmR == "id",
      "renameColumn: table is not column-mapped — a metadata-only rename needs " +
        "stable physical names; rewrite via read + writeDeltaMapped")
    require(!to.contains("."),
      s"renameColumn: '$to' must be a bare name — a rename cannot move a column " +
        "to a different nesting level")
    val table = tableSchema(snap)
    val maxId = snap.configuration.get("delta.columnMapping.maxColumnId")
      .map(_.toLong).getOrElse(0L)
    var stamped = false
    // NESTED rename (r16, dotted `from`): metadata-only too — but a
    // nested field graft's own writer mapped only at the top level may
    // LACK per-level physicalName metadata, and renaming it logically
    // would orphan the on-disk name; such a leaf gets its CURRENT name
    // stamped as physicalName (+ a fresh field id, maxColumnId bumped)
    // in the SAME commit, making it stable exactly like the none→name
    // upgrade does
    def renameAt(st: StructType, path: List[String], full: String): StructType =
      path match {
        case name :: Nil =>
          require(st.fieldNames.contains(name), s"renameColumn: no column '$full'")
          require(!st.fieldNames.contains(to),
            s"renameColumn: column '$to' already exists beside '$full'")
          StructType(st.fields.map { f =>
            if (f.name != name) f
            else if (f.metadata.contains("delta.columnMapping.physicalName"))
              f.copy(name = to)
            else {
              stamped = true
              f.copy(name = to, metadata = new MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong("delta.columnMapping.id", maxId + 1)
                .putString("delta.columnMapping.physicalName", name)
                .build())
            }
          })
        case head :: rest =>
          val f = st.fields.find(_.name == head).getOrElse(
            throw new IllegalArgumentException(s"renameColumn: no column '$full'"))
          f.dataType match {
            case inner: StructType =>
              StructType(st.fields.map(x =>
                if (x.name == head) f.copy(dataType = renameAt(inner, rest, full))
                else x))
            case dt => throw new IllegalArgumentException(
              s"renameColumn: '$head' in '$full' is ${dt.simpleString}, not a struct")
          }
        case Nil => st
      }
    val newSchema = renameAt(table, from.split('.').toList, from)
    val newConf =
      if (!stamped) snap.configuration
      else snap.configuration + ("delta.columnMapping.maxColumnId" -> (maxId + 1).toString)
    val newPartCols = snap.partCols.map(c => if (c == from) to else c)
    commitLog(spark, snap, dir, "RENAME COLUMN", newConf, Seq(protocolJson(snap),
      metaLineRaw(dir, snap, newSchema.json, newPartCols, newConf)))
  }

  /** ALTER TABLE DROP COLUMN — column-mapped tables only (the data
    * files keep the physical column; the schema-first scan simply
    * stops projecting it — zero rewritten bytes, and time travel
    * below the drop still reads it). Refuses partition columns and
    * dropping the last column.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    import org.apache.spark.sql.types._
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cmD = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cmD == "name" || cmD == "id",
      "dropColumn: table is not column-mapped — physical files carry " +
        "the logical name; a metadata-only drop needs column mapping")
    val table = tableSchema(snap)
    require(!snap.partCols.contains(name),
      s"dropColumn: '$name' is a partition column — the layout depends on it")
    // NESTED drop (r16, dotted name): the struct keeps its remaining
    // fields; the files keep the physical column and the schema-first
    // scan stops projecting it — exactly the top-level semantics
    def dropAt(st: StructType, path: List[String], full: String): StructType =
      path match {
        case leaf :: Nil =>
          require(st.fieldNames.contains(leaf), s"dropColumn: no column '$full'")
          require(st.fields.length > 1,
            s"dropColumn: cannot drop the last column" +
              (if (full.contains(".")) s" of the struct holding '$full'" else ""))
          StructType(st.fields.filterNot(_.name == leaf))
        case head :: rest =>
          val f = st.fields.find(_.name == head).getOrElse(
            throw new IllegalArgumentException(s"dropColumn: no column '$full'"))
          f.dataType match {
            case inner: StructType =>
              StructType(st.fields.map(x =>
                if (x.name == head) f.copy(dataType = dropAt(inner, rest, full))
                else x))
            case dt => throw new IllegalArgumentException(
              s"dropColumn: '$head' in '$full' is ${dt.simpleString}, not a struct")
          }
        case Nil => st
      }
    val newSchema = dropAt(table, name.split('.').toList, name)
    commitLog(spark, snap, dir, "DROP COLUMNS", snap.configuration, Seq(protocolJson(snap),
      metaLineFor(dir, snap, newSchema, snap.configuration)))
  }

  /** `ALTER TABLE t ALTER COLUMN c COMMENT 'text'` — one metadata
    * commit stamping the standard `comment` metadata key on the
    * (possibly nested, dotted) field; `None` drops it. Works on every
    * mapping mode: comments are pure metadata and never touch files.
    */
  def alterColumnComment(spark: SparkSession, dir: String, colName: String,
                         comment: Option[String]): Unit = {
    import org.apache.spark.sql.types._
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = tableSchema(snap)
    def at(st: StructType, path: List[String]): StructType = path match {
      case name :: Nil =>
        require(st.fieldNames.contains(name),
          s"alterColumnComment: no column '$colName'")
        StructType(st.fields.map { f =>
          if (f.name != name) f
          else {
            val b = new MetadataBuilder().withMetadata(f.metadata)
            comment match {
              case Some(c) => b.putString("comment", c)
              case None => b.remove("comment")
            }
            f.copy(metadata = b.build())
          }
        })
      case head :: rest =>
        val f = st.fields.find(_.name == head).getOrElse(
          throw new IllegalArgumentException(s"alterColumnComment: no column '$colName'"))
        f.dataType match {
          case inner: StructType =>
            StructType(st.fields.map(x =>
              if (x.name == head) f.copy(dataType = at(inner, rest)) else x))
          case dt => throw new IllegalArgumentException(
            s"alterColumnComment: '$head' in '$colName' is ${dt.simpleString}, not a struct")
        }
      case Nil => st
    }
    val newSchema = at(table, colName.split('.').toList)
    commitLog(spark, snap, dir, "CHANGE COLUMN", snap.configuration, Seq(protocolJson(snap),
      metaLineFor(dir, snap, newSchema, snap.configuration)))
  }

  /** Feature names a `delta.feature.<name>=supported` TBLPROPERTIES
    * declaration may introduce, split by protocol class. Features with
    * an OWNING operation (row tracking's backfill, clustering's layout
    * domain) are deliberately absent — declaring the bare feature would
    * produce a table claiming semantics no commit materialized.
    */
  private[graft] val DeclarableReaderWriter: Set[String] = Set(
    "columnMapping", "deletionVectors", "v2Checkpoints", "typeWidening",
    "variantType", "timestampNtz", "vacuumProtocolCheck")
  private[graft] val DeclarableWriterOnly: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "changeDataFeed", "inCommitTimestamp", "allowColumnDefaults",
    IdentityColumns.Feature, "domainMetadata")

  /** Split a configuration map into (kept properties, declared feature
    * names) — delta-spark's `delta.feature.<name>=supported` spelling.
    * The keys are CONSUMED: they lift the protocol in the same commit
    * and are never persisted in `metaData.configuration`. A name this
    * writer cannot honor refuses loudly (committing it would declare
    * obligations no graft mutation enforces).
    */
  private[graft] def splitFeatureProperties(conf: Map[String, String],
                                            op: String): (Map[String, String], Set[String]) = {
    val (featKeys, rest) = conf.partition(_._1.startsWith("delta.feature."))
    val feats = featKeys.map { case (k, v) =>
      val name = k.stripPrefix("delta.feature.")
      require(v == "supported" || v == "enabled",
        s"$op: '$k' must be 'supported' (got '$v') — the property declares a " +
          "protocol feature, it has no other values")
      if (name == "rowTracking" || name == "clustering")
        throw new IllegalArgumentException(
          s"$op: feature '$name' is declared by its owning operation " +
            "(enableRowTracking / CLUSTER BY), not a bare property — the feature " +
            "without its materialized state would misdescribe the table")
      require(DeclarableReaderWriter(name) || DeclarableWriterOnly(name),
        s"$op: feature '$name' is not supported by this writer — declaring it " +
          "would advertise obligations no mutation here enforces; supported: " +
          (DeclarableReaderWriter ++ DeclarableWriterOnly).toSeq.sorted.mkString(", "))
      name
    }.toSet
    (rest, feats)
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES. Enabling Change Data Feed
    * bumps the protocol to its legacy writer floor (1,4) in the same
    * commit — later mutations must write change data and legacy
    * writers that can't must refuse the table. Setting
    * `delta.columnMapping.mode` = name on an UNMAPPED table routes to
    * the metadata-only upgrade ([[upgradeToNameMapping]], r16); every
    * other mode transition refuses — it would re-key every file's
    * columns, a rewrite, not a property. `delta.feature.<name>=
    * supported` keys are consumed into a protocol upgrade riding the
    * same commit.
    */
  def alterProperties(spark: SparkSession, dir: String,
                      set: Map[String, String],
                      unset: Seq[String] = Nil): Unit = {
    require(set.nonEmpty || unset.nonEmpty, "alterProperties: nothing to change")
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cur = snap.configuration
    val (setP0, featsDeclared) = splitFeatureProperties(set, "alterProperties")
    // delta.minReaderVersion / delta.minWriterVersion are CONSUMED
    // protocol-upgrade requests (delta-spark's documented upgrade
    // spelling), never stored configuration
    val reqMinReader = setP0.get("delta.minReaderVersion").map(_.trim.toInt)
    val reqMinWriter = setP0.get("delta.minWriterVersion").map(_.trim.toInt)
    val setP = setP0 -- Seq("delta.minReaderVersion", "delta.minWriterVersion")
    reqMinReader.foreach { r =>
      require(r >= snap.minReader && r <= 3,
        s"alterProperties: delta.minReaderVersion $r must be in " +
          s"[${snap.minReader} (current — no downgrades), 3]")
      require(r < 3 || reqMinWriter.contains(7) || snap.minWriter == 7,
        "alterProperties: minReaderVersion 3 is the feature-table form and " +
          "requires minWriterVersion 7 (PROTOCOL.md)")
    }
    reqMinWriter.foreach(w => require(w >= snap.minWriter && w <= 7,
      s"alterProperties: delta.minWriterVersion $w must be in " +
        s"[${snap.minWriter} (current — no downgrades), 7]"))
    // delta.columnMapping.mode: the none -> name UPGRADE is supported
    // (delta-spark's documented spelling) and is METADATA-ONLY — every
    // existing column takes its CURRENT name as its physical name, so
    // the files already on disk keep resolving, and ids assign at
    // every nesting level with maxColumnId stamped alongside. All
    // other transitions (name/id -> none, name <-> id, none -> id)
    // re-key every file's columns — a rewrite, not a property; refused.
    val curMode = cur.getOrElse("delta.columnMapping.mode", "none")
    val modeReq = setP.get("delta.columnMapping.mode").filter(_ != curMode)
    if (modeReq.isDefined) {
      require((modeReq.contains("name") && curMode == "none") ||
          (modeReq.contains("none") && (curMode == "name" || curMode == "id")),
        s"alterProperties: column mapping transition '$curMode' -> '${modeReq.get}' " +
          "is not supported; supported: the metadata-only none -> name upgrade " +
          "and the name/id -> none REMOVAL (a full-table rewrite)")
      require((setP - "delta.columnMapping.mode").isEmpty && unset.isEmpty &&
          featsDeclared.isEmpty,
        "alterProperties: the column-mapping transition must ride alone (with " +
          "optional delta.minReaderVersion/delta.minWriterVersion)")
      if (modeReq.contains("none")) {
        require(reqMinReader.isEmpty && reqMinWriter.isEmpty,
          "alterProperties: the column-mapping REMOVAL never changes the protocol " +
            "(the feature stays declared, inert at mode none; DROP FEATURE is the " +
            "downgrade path) — drop the version requests")
        removeColumnMapping(spark, dir)
        return
      }
      reqMinWriter.foreach(w => require(w >= 5,
        s"alterProperties: column mapping binds writers from version 5; " +
          s"requested minWriterVersion $w is below the floor"))
      upgradeToNameMapping(spark, dir, snap,
        featureForm = snap.minWriter == 7 || reqMinWriter.contains(7))
      return
    }
    unset.foreach(k => require(!k.startsWith("delta.columnMapping"),
      s"alterProperties: unsetting '$k' would orphan the mapped schema; refusing"))
    DeltaStats.validateStatsColumns(setP,
      org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType], "alterProperties")
    val newConf0 = (cur ++ setP) -- unset
    val enablingCdf = set.get("delta.enableChangeDataFeed").contains("true") &&
      !cur.get("delta.enableChangeDataFeed").contains("true")
    // CHECK constraints bind writers from version 3 (PROTOCOL.md) —
    // stamping one on a v2 table without the floor would let legacy
    // writers append unchecked rows
    val addingConstraint = set.keys.exists(_.startsWith("delta.constraints."))
    // enabling IN-COMMIT TIMESTAMPS mid-life: writer feature + the
    // enablement provenance the protocol requires (from which version
    // timestamps are authoritative, and that commit's own stamp —
    // ictStampContent reads it back so they agree to the millisecond)
    val enablingIct = set.get("delta.enableInCommitTimestamps").contains("true") &&
      !cur.get("delta.enableInCommitTimestamps").contains("true")
    val newConf =
      if (!enablingIct) newConf0
      else {
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
        val t = nextIct(spark, fs, log, snap.version)
        newConf0 ++ Map(
          "delta.inCommitTimestampEnablementVersion" -> (snap.version + 1).toString,
          "delta.inCommitTimestampEnablementTimestamp" -> t.toString)
      }
    // declared features, ICT enablement and v7/reader-3 requests restate
    // the feature form, as does every change to an already-v7 table (a
    // v7 list omitting a newly enabled changeDataFeed or constraint would
    // license a foreign v7 writer to violate it); a bare CDF/constraint
    // enablement on a legacy table lifts to the legacy floor delta-spark
    // would stamp
    val rw = featsDeclared.intersect(DeclarableReaderWriter)
    val proto =
      if (snap.minWriter == 7 || featsDeclared.nonEmpty || enablingIct ||
          reqMinWriter.contains(7) || reqMinReader.contains(3)) {
        require(!reqMinReader.contains(3) || rw.nonEmpty || snap.readerFeatures.nonEmpty ||
            curMode != "none",
          "alterProperties: minReaderVersion 3 with NO reader features would be a " +
            "malformed table (the feature form declares its reader requirements " +
            "explicitly) — declare one via delta.feature.<name>=supported")
        restateProtocol(snap, newConf, tableSchema(snap),
          featsDeclared -- rw ++ (if (enablingIct) Set("inCommitTimestamp") else Set.empty),
          rw, reqMinReader.getOrElse(1).toLong).getOrElse(protocolJson(snap))
      } else {
        val floor = Seq(if (enablingCdf) 4 else 0, if (addingConstraint) 3 else 0).max
        protocolLine(math.max(snap.minReader, reqMinReader.getOrElse(0).toLong),
          Seq(snap.minWriter, floor.toLong, reqMinWriter.getOrElse(0).toLong).max, Nil, Nil)
      }
    commitLog(spark, snap, dir, "SET TBLPROPERTIES", newConf, Seq(proto,
      metaLineRaw(dir, snap, snap.schemaJson, snap.partCols, newConf)))
  }

  /** The none -> name column-mapping UPGRADE: one metadata commit, zero
    * rewritten bytes. Every field at EVERY nesting level (struct
    * members, array/map element structs) takes `physicalName` = its
    * current name — the name the existing files already carry, so they
    * keep resolving — plus the next depth-first field id;
    * `maxColumnId` stamps the final counter. The protocol lifts to the
    * legacy column-mapping floor (reader 2 / writer 5, existing higher
    * versions kept) or, on feature-form tables (or when the caller
    * requested minWriterVersion 7), restates (3,7) with columnMapping
    * in BOTH feature lists. After the upgrade, renameColumn /
    * dropColumn / evolution all work — the point of the mode.
    */
  private def upgradeToNameMapping(spark: SparkSession, dir: String,
                                   snap: DeltaReader.Snapshot,
                                   featureForm: Boolean): Unit = {
    import org.apache.spark.sql.types._
    val table = tableSchema(snap)
    var next = 0L
    def walkT(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        next += 1
        val id = next
        f.copy(dataType = walkT(f.dataType),
          metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", f.name)
            .build())
      })
      case ArrayType(e, n) => ArrayType(walkT(e), n)
      case MapType(k, v, n) => MapType(walkT(k), walkT(v), n)
      case other => other
    }
    val newSchema = walkT(table).asInstanceOf[StructType]
    val newConf = snap.configuration +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> next.toString)
    val proto =
      if (!featureForm) protocolLine(math.max(snap.minReader, 2), math.max(snap.minWriter, 5), Nil, Nil)
      else restateProtocol(snap, newConf, newSchema, readerWriterFeatures = Set("columnMapping"))
        .getOrElse(protocolJson(snap))
    commitLog(spark, snap, dir, "SET TBLPROPERTIES", newConf, Seq(proto,
      metaLineFor(dir, snap, newSchema, newConf)))
  }

  /** REMOVE column mapping (`name`/`id` → `none`) — the inverse of
    * [[upgradeToNameMapping]] (delta-spark 3.3's remove-column-mapping
    * rewrite): every live file re-stages with the table's LOGICAL
    * column names in its parquet footer, and the SAME atomic commit
    * restates metaData with the mapping configuration dropped and
    * every field's `delta.columnMapping.*` metadata stripped. All
    * actions carry `dataChange=false` (no rows changed — only their
    * column keys), so no CDF rows stage and streams skip the commit.
    * Time travel below the commit keeps reading the mapped history
    * through the historic metaData; a batch CDF window that CROSSES
    * the removal refuses loudly (pre-removal change files are keyed
    * by the old physical names — split the read at the removal
    * commit; the per-version streaming slices are unaffected). The PROTOCOL keeps declaring
    * columnMapping where it did — inert at mode none, and exactly
    * what delta-spark leaves behind; [[dropFeature]] stays the
    * separate protocol-downgrade path.
    *
    * [[compactDelta]]'s maintenance path: the [[requireRewritable]]
    * gate, [[rewriteBins]] with no re-staging (the scan resolves
    * physical→logical itself, and logical footers without field ids
    * ARE the point) and partitionValues / partition directories
    * re-keyed logical, then [[commitFiles]] with the metaData action
    * first — which keeps the commit out of the rebase tiers: a lost
    * version race refuses. Row-tracked tables rewrite through the
    * preserved profile: surviving rows keep their ids in the
    * materialized columns, fresh (shadowed) baseRowIds satisfy the
    * every-add invariant, the watermark advances in the commit.
    *
    * Cost: a FULL-TABLE rewrite — re-keying every parquet footer is
    * what removal IS (the reason the upgrade direction is free and
    * this one is not; a 100-TB table should schedule it like a
    * compaction campaign), bin-packed per partition into
    * ≤`targetFileBytes` outputs with OPTIMIZE's zero-shuffle shape.
    * SQL spelling: `ALTER TABLE t SET TBLPROPERTIES
    * ('delta.columnMapping.mode'='none')`.
    */
  def removeColumnMapping(spark: SparkSession, dir: String,
                          targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.types._
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cm == "name" || cm == "id",
      s"removeColumnMapping: column mapping mode is '$cm' — nothing to remove")
    requireRewritable(snap, "removeColumnMapping")
    val table = tableSchema(snap)
    // the stripped LOGICAL schema: no ids, no physical names — while
    // comments, defaults, generation expressions and widening history
    // all stay (they are logical facts, not mapping facts)
    def stripT(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val b = new MetadataBuilder().withMetadata(f.metadata)
        b.remove("delta.columnMapping.id")
        b.remove("delta.columnMapping.physicalName")
        f.copy(dataType = stripT(f.dataType), metadata = b.build())
      })
      case ArrayType(e, n) => ArrayType(stripT(e), n)
      case MapType(k, v, n) => MapType(stripT(k), stripT(v), n)
      case other => other
    }
    val newSchema = stripT(table).asInstanceOf[StructType]
    val newConf = snap.configuration -
      "delta.columnMapping.mode" - "delta.columnMapping.maxColumnId"
    // historic partitionValues are keyed physical (foreign fixtures may
    // carry logical keys — accept either, the reader's own fallback);
    // the new adds re-key logical
    val physPart = physNameMap(
      StructType(table.fields.filter(f => snap.partCols.contains(f.name))), cm,
      "removeColumnMapping")
    val groups = snap.active.groupBy(_.partitionValues).toSeq.map { case (pv, files) =>
      snap.partCols.map(c => c -> pv.get(physPart.getOrElse(c, c)).orElse(pv.get(c)).orNull) -> files
    }
    val (staged, stage) = rewriteBins(spark, dir, snap, groups, targetFileBytes,
      "cmremove", "removeColumnMapping", identity)
    commitFiles(spark, dir, snap.version + 1, staged, stage,
      extraActions = metaLineFor(dir, snap, newSchema, newConf) +:
        snap.active.sortBy(_.path).map(removeLine(_, dataChange = false)),
      addDataChange = false, operation = "REMOVE COLUMN MAPPING",
      rowIdBase = RowTracking.rowIdBase(snap), ictConf = newConf,
      statsSchema = Some(newSchema))
  }

  /** CONVERT TO DELTA: turn an existing plain-parquet directory (flat
    * or hive-partitioned col=value layout) into a Delta table IN
    * PLACE — one metadata commit referencing the files where they
    * already are, no data read beyond footers, no rewrite. This is the
    * migration path for a 100-TB parquet lake: the alternative (read +
    * writeDelta) costs a full copy of the table.
    *
    * `partitionCols` declares the hive layout's partition columns with
    * their Spark SQL types, e.g. `Seq("region" -> "string")` — the
    * directory's `col=value` strings are typed through
    * `metaData.schemaString` exactly like any Delta read (Hive
    * escaping and the `__HIVE_DEFAULT_PARTITION__` null marker
    * honored). The data schema comes from the first file's footer
    * (the convert contract: one schema across files — a mismatched
    * file surfaces loudly at scan time, never silently).
    *
    * Every add carries footer-derived `stats`, so data skipping works
    * from the first post-convert query. Refuses an existing Delta log
    * (never clobbers a table) and a file whose directory layout does
    * not match `partitionCols`. Returns the number of files converted.
    */
  def convertToDelta(spark: SparkSession, dir: String,
                     partitionCols: Seq[(String, String)] = Nil): Int = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    require(!DeltaReader.hasLogEntries(dir, hconf),
      s"convertToDelta: $dir already holds a Delta log — refusing to overwrite a table")
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st) else Nil
      }
    val files = walk(root).sortBy(_.getPath.toString)
    require(files.nonEmpty, s"convertToDelta: no parquet files under $dir")
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val names = partitionCols.map(_._1)
    val entries = files.map { st =>
      val rel = fs.makeQualified(st.getPath).toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      val segs = rel.split('/').dropRight(1)
      require(segs.length == names.length,
        s"convertToDelta: '$rel' sits under ${segs.length} partition dirs but " +
          s"${names.length} partition columns were declared")
      segs.zip(names).foreach { case (seg, expect) =>
        require(expect.nonEmpty && seg.startsWith(s"$expect="),
          s"convertToDelta: segment '$seg' of '$rel' does not match declared " +
            s"partition column '$expect'")
      }
      DeltaReader.AddFile(percentEncode(rel),
        scala.collection.immutable.ListMap(partitionValuesOf(rel): _*), st.getLen)
    }
    // data schema from the first footer; partition columns appended
    val dataSchema = spark.read.parquet(files.head.getPath.toString).schema
    names.foreach(c => require(!dataSchema.fieldNames.contains(c),
      s"convertToDelta: partition column '$c' also exists INSIDE the data files — " +
        "ambiguous; hive layouts keep partition columns directory-only"))
    val tableSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ partitionCols.map { case (c, ddl) =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DataType.fromDDL(ddl), nullable = true)
      })
    // footer stats in a bounded pool — same as commitFiles'
    val fileStats = boundedParMap(files, 16)(st => DeltaStats.fileStats(st.getPath, hconf))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    actions += commitInfoLine("CONVERT", s"""{"numFiles":${files.size}}""", None)
    // NTZ (and in principle variant) columns in the converted files are
    // reader-visible shapes — the creating protocol must gate them or a
    // feature-unaware reader shifts every wall-clock value to UTC
    val convRw = (if (hasVariant(tableSchema)) Seq("variantType") else Nil) ++
      (if (hasNtz(tableSchema)) Seq("timestampNtz") else Nil)
    actions += (
      if (convRw.isEmpty) protocolLine(1, 2, Nil, Nil)
      else protocolLine(3, 7, convRw, legacyObligations(Map.empty, tableSchema) ++ convRw))
    val pcJson = names.map(om.writeValueAsString).mkString("[", ",", "]")
    actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(tableSchema.json)},"partitionColumns":$pcJson,"configuration":{}}}"""
    actions ++= entries.zip(fileStats).map { case (a, stats) =>
      addLine(a.copy(stats = stats), dataChange = true)
    }
    val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
    fs.mkdirs(log)
    val commit = new org.apache.hadoop.fs.Path(log, f"${0L}%020d.json")
    GraftLogStore.commitOrThrow(spark, fs, commit,
      actions.mkString("\n").getBytes("UTF-8"), "a concurrent writer won version 0")
    // same giant-commit fold as cloneDelta: a 100-TB conversion's
    // version-0 commit would re-parse on the driver at every replay
    if (files.size >= 10000) checkpointDelta(spark, dir, 0L)
    files.size
  }

  /** LOG COMPACTION (PROTOCOL.md `<x>.<y>.compacted.json`): reconcile
    * the commit range [fromVersion, toVersion] into one file — per
    * path the FINAL file action (verbatim line, so DV descriptors and
    * stats survive byte-identically), the last metaData/protocol, the
    * latest txn per appId and the last domainMetadata per domain (a
    * removal included); commitInfo/cdc stay per-version (a
    * compaction file is state, not history). Readers substitute it
    * for the whole range during replay, so a long commit suffix reads
    * as a few files and retention may clean the covered commits
    * WITHOUT breaking snapshot reconstruction (time travel to
    * versions INSIDE a cleaned range refuses — only the range's end
    * state is preserved; readChanges/DeltaTail over cleaned versions
    * refuse per their existing contracts).
    *
    * This is the driver-JSON-parse reliever for hot tables: a
    * streaming sink at 10^4 commits/day makes every cold replay
    * re-parse the whole suffix; compacting 100-commit windows cuts
    * that 100×, without the (heavier) checkpoint write. Refuses a
    * range with a missing commit (no partial reconciliations) and an
    * already-existing output (create-if-absent, like every commit).
    */
  def compactLog(spark: SparkSession, dir: String,
                 fromVersion: Long, toVersion: Long): String = {
    require(0 <= fromVersion && fromVersion < toVersion,
      s"compactLog: bad range [$fromVersion, $toVersion]")
    val hconf = spark.sessionState.newHadoopConf()
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(hconf)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var metaLine: Option[String] = None
    var protoLine: Option[String] = None
    val fileFinal = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val txnLatest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val domainLatest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (fromVersion to toVersion).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(log, f"$v%020d.json")
      require(fs.exists(p),
        s"compactLog: commit $v missing — refusing a partial reconciliation")
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(rd.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).foreach { line =>
          val n = om.readTree(line)
          if (n.has("add")) fileFinal(n.get("add").get("path").asText()) = line
          if (n.has("remove")) fileFinal(n.get("remove").get("path").asText()) = line
          if (n.has("metaData")) metaLine = Some(line)
          if (n.has("protocol")) protoLine = Some(line)
          if (n.has("txn")) txnLatest(n.get("txn").get("appId").asText()) = line
          if (n.has("domainMetadata"))
            domainLatest(n.get("domainMetadata").get("domain").asText()) = line
        } finally rd.close()
    }
    val name = f"$fromVersion%020d.$toVersion%020d.compacted.json"
    val outPath = new org.apache.hadoop.fs.Path(log, name)
    val actions = protoLine.toSeq ++ metaLine.toSeq ++ txnLatest.values ++
      domainLatest.values ++ fileFinal.values
    val out = try fs.create(outPath, false)
    catch { case e: java.io.IOException =>
      throw new IllegalStateException(
        s"compactLog: $outPath already exists — the range is already compacted", e)
    }
    try out.write(actions.mkString("\n").getBytes("UTF-8")) finally out.close()
    name
  }

  /** GENERATE symlink_format_manifest: the interop bridge to engines
    * that read parquet-with-manifests but not the Delta log (Presto /
    * Trino / Athena / Hive external tables). One text file per
    * partition directory under `_symlink_format_manifest/`, each line
    * the fully-qualified URI of a live data file at the CURRENT
    * version — exactly delta-spark's `GENERATE symlink_format_manifest`
    * layout. Re-running replaces the whole manifest tree (stale
    * partition dirs from before a delete/compaction are removed, not
    * left pointing at tombstoned files).
    *
    * Refuses DV-carrying snapshots loudly: a manifest can only point
    * at whole files, and an external reader following it would
    * resurrect deleted rows (delta-spark refuses the same way —
    * compact first, which folds DVs away). Column-mapped tables
    * refuse too: the manifest consumer reads physical parquet names
    * with no log to map them back.
    *
    * Scale: O(live files) driver work and manifest bytes — the same
    * class as planning a scan; data files are never read.
    */
  def generateManifest(spark: SparkSession, dir: String): Seq[String] = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    require(snap.configuration.getOrElse("delta.columnMapping.mode", "none") == "none",
      "generateManifest: column-mapped tables not supported — manifest consumers " +
        "cannot resolve physical column names")
    val withDv = snap.active.count(_.dv.isDefined)
    require(withDv == 0,
      s"generateManifest: $withDv live files carry deletion vectors — a manifest " +
        "reader would resurrect their deleted rows; run compactDelta first")
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val manifestRoot = new org.apache.hadoop.fs.Path(root, "_symlink_format_manifest")
    if (fs.exists(manifestRoot)) fs.delete(manifestRoot, true)
    val byPartDir = snap.active.groupBy { a =>
      if (DeltaReader.isAbsoluteAddPath(a.path)) {
        // partition dir from the log's values, like compactDelta
        partitionDirOf(snap.partCols.map(c =>
          c -> a.partitionValues.get(c).flatMap(Option(_)).orNull))
      } else DeltaReader.percentDecode(a.path).split('/').dropRight(1).mkString("/")
    }
    val written = byPartDir.toSeq.sortBy(_._1).map { case (partDir, files) =>
      val mDir = if (partDir.isEmpty) manifestRoot
        else new org.apache.hadoop.fs.Path(manifestRoot, partDir)
      fs.mkdirs(mDir)
      val mFile = new org.apache.hadoop.fs.Path(mDir, "manifest")
      val lines = files.map { a =>
        fs.makeQualified(DeltaReader.resolveAddPath(root, a.path)).toUri.toString
      }.sorted
      val out = fs.create(mFile, true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
      (if (partDir.isEmpty) "manifest" else s"$partDir/manifest")
    }
    written.sorted
  }

  /** COPY INTO: idempotent FILE-LEVEL ingestion of external parquet
    * files into an existing Delta table — the landing-zone loader.
    * Each call loads only the source files no previous COPY INTO
    * commit on this table has loaded (matched by fully-qualified URI)
    * and records the loaded set in the commit's own
    * `commitInfo.operationParameters.files` — state and data are ONE
    * atomic commit, so a crash either loads a file with its record or
    * neither, and a retried call re-derives the set from the log and
    * skips clean. Returns the URIs actually loaded this call (empty =
    * everything was already in, no commit written).
    *
    * Appends go through the full [[appendDelta]] discipline: schema
    * compatibility, CHECK constraints / invariants / generated
    * columns, column-mapping staging, partitioned layout.
    *
    * Scale + retention contract: dedup state is replayed from the
    * log's commits (driver JSON parse, O(commits in retention) — the
    * same class as DESCRIBE HISTORY); `vacuumDelta` cleaning commits
    * below its horizon FORGETS their loaded-file sets, exactly the
    * bounded-retention tracking window real COPY INTO implementations
    * document. Re-presenting a file whose record was vacuumed loads it
    * again — feed stable landing paths and vacuum horizons longer than
    * the ingestion replay window.
    */
  def copyInto(spark: SparkSession, dir: String, sources: Seq[String],
               checkpointInterval: Int = 0): Seq[String] = {
    require(sources.nonEmpty, "copyInto: no source files given")
    val hconf = spark.sessionState.newHadoopConf()
    val qualified = sources.map { s0 =>
      val p = new org.apache.hadoop.fs.Path(s0)
      p.getFileSystem(hconf).makeQualified(p).toUri.toString
    }.distinct
    val snap = DeltaReader.snapshot(spark, dir, None)
    val loaded = copyIntoLoaded(spark, dir)
    val fresh = qualified.filterNot(loaded).sorted
    if (fresh.isEmpty) return Nil
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val df = spark.read.parquet(fresh.map(u =>
      new org.apache.hadoop.fs.Path(new java.net.URI(u)).toString): _*)
    val params = s"""{"files":${fresh.map(om.writeValueAsString).mkString("[", ",", "]")}}"""
    appendDeltaWithSnapshot(df, dir, checkpointInterval, txn = None, snap,
      operation = "COPY INTO", operationParameters = params)
    fresh
  }

  /** Every source URI a COPY INTO commit on this table has recorded —
    * replayed from the retained commits' commitInfo lines.
    */
  private def copyIntoLoaded(spark: SparkSession, dir: String): Set[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val logPath = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(hconf)
    if (!fs.exists(logPath)) return Set.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = Set.newBuilder[String]
    fs.listStatus(logPath).toSeq.map(_.getPath).filter(_.getName.matches("\\d{20}\\.json"))
      .foreach { p =>
        val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
        try Iterator.continually(rd.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).foreach { line =>
            val n = om.readTree(line)
            if (n.has("commitInfo")) {
              val ci = n.get("commitInfo")
              if (Option(ci.get("operation")).exists(_.asText() == "COPY INTO")) {
                val files = Option(ci.get("operationParameters")).map(_.get("files")).orNull
                if (files != null && files.isArray) {
                  val it = files.elements()
                  while (it.hasNext) out += it.next().asText()
                }
              }
            }
          } finally rd.close()
      }
    out.result()
  }

  /** Create a COLUMN-MAPPED (name mode) Delta table: logical names
    * live only in `metaData.schemaString`, the parquet files and
    * partition directories carry stable physical `col-<uuid>` names,
    * and renames become metadata-only operations — the reason the mode
    * exists. Physical names are drawn from a random UUID per column, as
    * delta-spark does, so a later column can never inherit the physical
    * name of one dropped or renamed before it. Protocol is the legacy column-mapping
    * floor (2, 5), exactly what delta-spark stamps on upgraded tables.
    */
  def writeDeltaMapped(df: DataFrame, dir: String, checkpointInterval: Int = 0,
                       partitionBy: Seq[String] = Nil,
                       txn: Option[(String, Long)] = None): Unit = {
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"writeDeltaMapped: partition column '$c' not in ${df.columns.mkString(", ")}"))
    require(!IdentityColumns.hasIdentity(df.schema),
      "writeDeltaMapped: identity columns on a column-mapped CREATE are not " +
        "supported — create the identity table unmapped")
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName",
          s"col-${java.util.UUID.randomUUID()}")
        .build())
    }
    val logical = StructType(fields)
    val phys = fields.map(f =>
      f.name -> f.metadata.getString("delta.columnMapping.physicalName")).toMap
    val dfPhys = df.select(df.columns.map(c => df.col(c).as(phys(c))).toIndexedSeq: _*)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val pcJson = partitionBy.map(om.writeValueAsString).mkString("[", ",", "]")
    val metaLine =
      s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))}","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":$pcJson,"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"${fields.length}"}}}"""
    // variant/NTZ columns lift the CM create to the (3,7) feature form
    // — minReader 2 has no way to declare the type features
    val cmRw = (if (hasVariant(logical)) Seq("variantType") else Nil) ++
      (if (hasNtz(logical)) Seq("timestampNtz") else Nil)
    val protoLine =
      if (cmRw.isEmpty) protocolLine(2, 5, Nil, Nil)
      else protocolLine(3, 7, "columnMapping" +: cmRw,
        legacyObligations(Map("delta.columnMapping.mode" -> "name"), logical) ++ cmRw)
    commitDelta(dfPhys, dir, 0L, includeMeta = true, checkpointInterval,
      partitionBy.map(phys), txn,
      operation = "CREATE TABLE",
      metaOverride = Some(protoLine -> metaLine),
      statsSchema = Some(logical))
  }

  /** Append `df` to an existing Delta table as its next version —
    * readers at older versions (versionAsOf) are unaffected, the new
    * snapshot sees old + new files. `LakeIndexer.addTables` and
    * `Similarity.addVectors` maintain the persisted indexes through it.
    */
  def appendDelta(df: DataFrame, dir: String, checkpointInterval: Int = 0,
                  txn: Option[(String, Long)] = None): Unit =
    // Replay the log before writing: the snapshot is both the version
    // counter (snapshot.version covers commits AND checkpoints, so
    // appends survive log retention) and the compatibility gate. An
    // append that skipped these checks could corrupt the table for
    // every OTHER reader: parquet files whose schema contradicts
    // metaData.schemaString, logical column names in a column-mapped
    // table that expects physical ones, or a commit that silently
    // violates writer features (constraints, generated columns) this
    // writer does not implement.
    appendDeltaWithSnapshot(df, dir, checkpointInterval, txn,
      DeltaReader.snapshot(df.sparkSession, dir, None))

  /** Optimistic-concurrency retry: re-run `op` when it loses the
    * create-if-absent commit race (the IllegalStateException every
    * writer here throws when a concurrent writer wins its version).
    *
    * PURE APPENDS rarely reach here: commitDelta's append-rebase path
    * re-targets the same staged files at the next free version when
    * the winner's commits carry only file actions (the common
    * concurrent-append/delete case commits with zero re-execution);
    * this retry is the fallback for metadata-class conflicts and for
    * every op that READS table state (delete/update/merge/compact),
    * where re-running from a fresh log replay is the only correct
    * recovery. SEMANTIC conflicts remain the caller's contract,
    * exactly as with real Delta's OCC: a delete retried after a
    * concurrent delete simply matches fewer (or no) rows; an append
    * retried after a schema change hits the append gate. Ops that
    * stage files before losing the race leave them as unreferenced
    * debris for VACUUM, the same class as a crashed writer's. Throws
    * the last conflict after `attempts` exhausted.
    */
  def retryOnConflict[T](attempts: Int = 3)(op: => T): T = {
    require(attempts > 0, s"retryOnConflict: attempts $attempts must be positive")
    var last: IllegalStateException = null
    var i = 0
    while (i < attempts) {
      try return op
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("a concurrent writer won") =>
          last = e; i += 1
      }
    }
    throw last
  }

  /** Schema EVOLUTION: merge `incoming` fields not yet in the table
    * into the schema — appended after the existing fields, forced
    * nullable (old rows have no value). On a column-mapped table each
    * new field gets a fresh random physical name + field id and
    * `maxColumnId` advances — the assignment [[alterAddColumns]]
    * makes. Returns (merged schema, new configuration); identical
    * schema back when nothing is new.
    */
  private[graft] def evolveSchema(snap: DeltaReader.Snapshot,
      table: org.apache.spark.sql.types.StructType, cm: String,
      incoming: Seq[org.apache.spark.sql.types.StructField])
      : (org.apache.spark.sql.types.StructType, Map[String, String]) = {
    import org.apache.spark.sql.types._
    val maxId = snap.configuration.get("delta.columnMapping.maxColumnId")
      .map(_.toLong).getOrElse(0L)
    var next = maxId
    // a NEW column (top-level or nested) is forced nullable and, on a
    // mapped table, gets a fresh physical name + field id at EVERY
    // level of its own subtree
    def newField(f0: StructField): StructField = {
      val f = f0.copy(nullable = true)
      // walk EVERY nesting shape (mirror of upgradeToNameMapping's
      // walkT): map key/value and arbitrary array depth included — a
      // new map-of-struct column on a mapped table must carry
      // per-level ids/physicalNames or a foreign reader's CM schema
      // validation refuses the whole table
      def walk(dt: DataType): DataType = dt match {
        case st: StructType => StructType(st.fields.map(newField))
        case ArrayType(e, n) => ArrayType(walk(e), n)
        case MapType(k, v, n) => MapType(walk(k), walk(v), n)
        case other => other
      }
      val dt = walk(f.dataType)
      if (cm == "none") f.copy(dataType = dt)
      else {
        next += 1
        f.copy(dataType = dt, metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", next)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }
    }
    // NESTED evolution (r16, delta-spark's mergeSchema semantics): new
    // fields inside an existing struct (directly or through an array
    // element) append after that struct's existing fields; existing
    // fields keep their declared types and metadata untouched
    def merge(tbl: StructType, inc: StructType): StructType = {
      val incByName = inc.fields.map(f => f.name -> f).toMap
      val kept = tbl.fields.map { tf =>
        incByName.get(tf.name) match {
          case Some(af) => (tf.dataType, af.dataType) match {
            case (ts: StructType, as: StructType) =>
              tf.copy(dataType = merge(ts, as))
            case (ArrayType(ts: StructType, n), ArrayType(as: StructType, _)) =>
              tf.copy(dataType = ArrayType(merge(ts, as), n))
            case _ => tf
          }
          case None => tf
        }
      }
      val newOnes = inc.fields.filterNot(f => tbl.fieldNames.contains(f.name))
        .map(newField)
      StructType(kept ++ newOnes)
    }
    val merged = merge(table, StructType(incoming.toArray))
    val newConf =
      if (cm == "none" || next == maxId) snap.configuration
      else snap.configuration + ("delta.columnMapping.maxColumnId" -> next.toString)
    (merged, newConf)
  }

  /** Evolve-side type compatibility: like [[typeCompatible]] but the
    * batch may carry EXTRA struct fields (the nested evolution) and
    * may OMIT struct fields (nested null-fill, hole nullability
    * checked separately) — each batch field must exist in the merged
    * type with a compatible shape and may not put nulls into a
    * non-nullable slot.
    */
  private[graft] def evolveCompatible(a: org.apache.spark.sql.types.DataType,
                                      t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, t) match {
      case (as: StructType, ts: StructType) =>
        as.fields.forall { af =>
          ts.fields.find(_.name == af.name).exists(tf =>
            evolveCompatible(af.dataType, tf.dataType) &&
              (tf.nullable || !af.nullable))
        }
      case (ArrayType(ae, an), ArrayType(te, tn)) =>
        evolveCompatible(ae, te) && (tn || !an)
      case (MapType(ak, av, an), MapType(tk, tv, tn)) =>
        typeCompatible(ak, tk) && evolveCompatible(av, tv) && (tn || !an)
      case _ => typeCompatible(a, t)
    }
  }

  /** Refuse a nested HOLE into a non-nullable slot: a merged struct
    * field absent from the batch null-fills, which the declared
    * nullability must allow (same rule as top-level holes).
    */
  private def checkNestedHoles(from: org.apache.spark.sql.types.DataType,
                               to: org.apache.spark.sql.types.DataType,
                               path: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (fs: StructType, ts: StructType) =>
        val fNames = fs.fieldNames.toSet
        ts.fields.foreach { tf =>
          if (!fNames.contains(tf.name))
            require(tf.nullable,
              s"$op: nested column '$path${tf.name}' is non-nullable and missing " +
                "from the appended data — cannot null-fill")
          else checkNestedHoles(fs(tf.name).dataType, tf.dataType,
            s"$path${tf.name}.", op)
        }
      case (ArrayType(fe, _), ArrayType(te, _)) =>
        checkNestedHoles(fe, te, path + "element.", op)
      case _ =>
    }
  }

  /** Align a batch column to its MERGED type: equal types pass
    * through; a struct rebuilds in merged field order with absent
    * fields null-filled (null structs stay null); arrays align their
    * elements through `transform`. The rebuild only happens where the
    * shapes actually differ, so schema-stable batches keep their
    * exact previous plans.
    */
  private def alignToMerged(c: org.apache.spark.sql.Column,
                            from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType,
                            fromNullable: Boolean)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{lit, struct, transform, when}
    (from, to) match {
      case (f, t) if f == t => c
      case (fs: StructType, ts: StructType) =>
        val fByName = fs.fields.map(x => x.name -> x).toMap
        val rebuilt = struct(ts.fields.map { tf =>
          (fByName.get(tf.name) match {
            case Some(ff) => alignToMerged(c.getField(tf.name), ff.dataType,
              tf.dataType, fromNullable || ff.nullable)
            case None => lit(null).cast(tf.dataType)
          }).as(tf.name)
        }.toIndexedSeq: _*)
        // the null-guard only when the source can BE null — wrapping a
        // non-nullable struct would make it nullable and trip the
        // declared-nullability append gate
        if (!fromNullable) rebuilt
        else when(c.isNull, lit(null)).otherwise(rebuilt)
      case (ArrayType(fe, fn), ArrayType(te, _)) =>
        transform(c, x => alignToMerged(x, fe, te, fn))
      case _ => c.cast(to)
    }
  }

  /** The metaData action restating the table under an evolved schema
    * and configuration (same id, partitioning, format). Built over the
    * table's RAW metaData node when the snapshot carries one (r16):
    * only schemaString / partitionColumns / configuration change, so a
    * foreign table's `name`, `description` and `createdTime` survive
    * graft's metadata commits instead of silently dropping.
    */
  private[graft] def metaLineFor(dir: String, snap: DeltaReader.Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      conf: Map[String, String]): String =
    metaLineRaw(dir, snap, schema.json, snap.partCols, conf)

  private[graft] def metaLineRaw(dir: String, snap: DeltaReader.Snapshot,
      schemaJson: String, partCols: Seq[String],
      conf: Map[String, String]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md: com.fasterxml.jackson.databind.node.ObjectNode = snap.metaRaw match {
      case Some(raw) =>
        om.readTree(raw).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      case None =>
        val m = om.createObjectNode()
        m.put("id", snap.metaId.getOrElse(
          java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString))
        m.set[com.fasterxml.jackson.databind.JsonNode]("format",
          om.readTree("""{"provider":"parquet","options":{}}"""))
        m
    }
    md.put("schemaString", schemaJson)
    md.set[com.fasterxml.jackson.databind.JsonNode]("partitionColumns",
      om.valueToTree(scala.jdk.CollectionConverters.SeqHasAsJava(partCols).asJava))
    md.set[com.fasterxml.jackson.databind.JsonNode]("configuration",
      om.valueToTree[com.fasterxml.jackson.databind.JsonNode](
        new java.util.TreeMap[String, String](
          scala.jdk.CollectionConverters.MapHasAsJava(conf).asJava)))
    val wrapper = om.createObjectNode()
    wrapper.set[com.fasterxml.jackson.databind.JsonNode]("metaData", md)
    om.writeValueAsString(wrapper)
  }

  /** APPEND with SCHEMA EVOLUTION (delta-spark's mergeSchema=true):
    * columns the table doesn't have yet are ADDED (appended after the
    * existing fields, forced nullable — pre-evolution files simply
    * lack them, and the schema-first scan reads those as null, which
    * is the protocol's evolution model); since r16 this includes
    * NESTED additions — a new field inside an existing struct (directly
    * or through an array element) appends after that struct's fields,
    * and old files null-fill it on read; table columns missing from
    * `df` fill with nulls when the table declares them nullable
    * (refused otherwise, nested fields included); common columns obey
    * [[appendDelta]]'s compatibility rules against the merged shape. When the schema actually changes, the commit
    * carries the new `metaData` action (same table id — readers track
    * identity by it) plus the CURRENT protocol restated verbatim; when
    * it doesn't, this is a plain append. Time travel below the
    * evolution replays the OLD schemaString, so historic reads keep
    * their historic shape.
    *
    * Refusals: type changes on existing columns (this writer does not
    * rewrite old files), dropping into a non-nullable hole, partition
    * columns missing from `df`, and the same writer-obligation gates
    * as [[appendDelta]]. Column-mapped tables (name AND id mode, r16)
    * evolve like unmapped ones: each new field gets a fresh physical
    * name + field id and `maxColumnId` advances ([[evolveSchema]]);
    * the grew-path batch stages through [[stagePhysicalRows]], so
    * nested struct leaves land under their PER-LEVEL physical names
    * (a foreign table whose inner fields carry their own physical
    * names must not receive files keyed by logical nested names) and
    * id-mode files carry parquet field ids.
    */
  def appendDeltaEvolve(df0: DataFrame, dir: String, checkpointInterval: Int = 0,
                        txn: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.StructType
    val spark = df0.sparkSession
    val snap = DeltaReader.snapshot(spark, dir, None)
    // the same gate as appendDelta — evolution is still an append, and
    // the table's declared constraints bind it
    val cm = requireMutable(snap, "appendDeltaEvolve", removesRows = false)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    // obligations enforce on the PRE-alignment batch: omitted generated
    // columns compute from their expressions (not null-fill), provided
    // ones verify, constraints/invariants check in one pass
    val df = enforceObligations(df0, snap, table, "appendDeltaEvolve")

    // new columns — TOP-LEVEL and NESTED (r16) — append after their
    // parent's existing fields, forced nullable; CM gets fresh
    // physical names/ids at every level ([[evolveSchema]])
    val dfByName = df.schema.fields.map(f => f.name -> f).toMap
    val (merged, newConf) = evolveSchema(snap, table, cm, df.schema.fields.toSeq)
    // common columns: the batch must fit the MERGED shape — extra
    // nested fields are the evolution itself; a type CHANGE on an
    // existing (possibly nested) field still refuses
    merged.fields.foreach { t =>
      dfByName.get(t.name).foreach { a =>
        require(evolveCompatible(a.dataType, t.dataType),
          s"appendDeltaEvolve: type mismatch at '${t.name}': appended " +
            s"${a.dataType.simpleString}, table declares ${t.dataType.simpleString} — " +
            "evolution adds columns, it does not change existing ones")
        require(t.nullable || !a.nullable,
          s"appendDeltaEvolve: column '${t.name}' may carry nulls but the table " +
            "declares it non-nullable")
        checkNestedHoles(a.dataType, t.dataType, s"${t.name}.", "appendDeltaEvolve")
      }
    }
    // holes: table columns absent from df — null-fill, nullable only
    // (identity holes are generated instead, below)
    table.fields.filterNot(t => dfByName.contains(t.name) ||
        t.metadata.contains(IdentityColumns.StartKey)).foreach { t =>
      require(t.nullable,
        s"appendDeltaEvolve: table column '${t.name}' is non-nullable and missing " +
          "from the appended data — cannot null-fill")
      require(!snap.partCols.contains(t.name),
        s"appendDeltaEvolve: partition column '${t.name}' missing from the appended " +
          "data — every row needs a partition value")
    }
    // nested growth changes the schema without changing the top-level
    // arity — compare the full structure, not the length
    val schemaGrew = merged != table
    // absent IDENTITY columns are GENERATED holes, not null-fill:
    // leave them out here; appendDeltaWithSnapshot (or the completion
    // below on the grew path) generates them
    val idHoles = IdentityColumns.specs(merged).map(_.name)
      .filterNot(dfByName.contains).toSet
    val aligned0 = df.select(merged.fields.filterNot(f => idHoles(f.name)).map { f =>
      if (dfByName.contains(f.name))
        alignToMerged(col(f.name), dfByName(f.name).dataType, f.dataType,
          dfByName(f.name).nullable).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

    if (!schemaGrew) {
      appendDeltaWithSnapshot(aligned0, dir, checkpointInterval, txn, snap)
    } else {
      val aligned = IdentityColumns.complete(aligned0, merged, "appendDeltaEvolve")
      val metaLine = metaLineFor(dir, snap, merged, newConf)
      // CM tables stage parquet + partition dirs under PHYSICAL names
      // (what the table's readers resolve) through the SAME walker the
      // read schemas use — a top-level-only rename here would write
      // nested struct leaves under logical names a per-level foreign
      // table's readers null-fill (silent corruption); id mode
      // additionally needs parquet field ids on every staged file
      val physE = physNameMap(merged, cm, "appendDeltaEvolve")
      val staged = stagePhysicalRows(aligned, merged, cm, physE, "appendDeltaEvolve")
      val stagePartCols = snap.partCols.map(c => physE.getOrElse(c, c))
      // an evolution that INTRODUCES variant or NTZ upgrades the
      // protocol in the same commit (readers must understand the new
      // column)
      val protoLine = restateProtocol(snap, newConf, merged, readerWriterFeatures =
        typeFeaturesNeeded(snap, merged.fields.map(_.dataType)).toSet).getOrElse(protocolJson(snap))
      commitDelta(staged, dir, snap.version + 1, includeMeta = true,
        checkpointInterval, partCols = stagePartCols, txn = txn,
        metaOverride = Some((protoLine, metaLine)),
        operation = "WRITE", rowIdBase = RowTracking.rowIdBase(snap),
        ictConf = snap.configuration,
        identity = IdentityColumns.advanceOf(merged, physE).map(adv => (adv, None)),
        statsSchema = Some(merged))
    }
  }

  /** REPLACE WHERE — atomically overwrite exactly the rows matching
    * `predicate` with `df` in ONE commit (delta-spark's replaceWhere):
    * files holding matching live rows rewrite to their NON-matching
    * survivors, the matching rows drop, and the new batch stages as
    * fresh adds — the daily-partition-reload idiom (`INSERT OVERWRITE
    * ... PARTITION (dt='x')` routes here with the partition equality
    * as the predicate). EVERY new row must satisfy the predicate
    * (verified in one distributed pass before the commit — rows
    * outside it would silently survive the next replace of the same
    * window; delta-spark refuses identically). The new batch gets
    * appendDelta's full contract (obligations, schema compatibility,
    * CM physical staging, declared partition layout, fresh row ids);
    * CDF tables stage complete change data (matching rows as delete +
    * new rows as insert). A partition-equality predicate never reads
    * non-matching partitions (stats/partition pruning in the find
    * phase), and the commit is mutation-REBASEABLE: losing a race to
    * a winner provably disjoint from both the rewrite set and the
    * predicate re-commits without re-running. Returns the rewritten
    * (removed) file paths, sorted.
    */
  def overwriteWhere(df0: DataFrame, dir: String, predicate: String,
                     txn: Option[(String, Long)] = None): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val spark = df0.sparkSession
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "overwriteWhere", removesRows = true)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val df = enforceObligations(
      IdentityColumns.complete(df0, table, "overwriteWhere"), snap, table,
      "overwriteWhere")
    require(df.schema.length == table.length,
      s"overwriteWhere: batch has ${df.schema.length} columns, table has " +
        s"${table.length} (${table.fieldNames.mkString(", ")})")
    df.schema.fields.zip(table.fields).foreach { case (a, t) =>
      require(a.name == t.name && typeCompatible(a.dataType, t.dataType),
        s"overwriteWhere: schema mismatch at '${t.name}': batch " +
          s"${a.name}:${a.dataType.simpleString}, table declares ${t.dataType.simpleString}")
      require(t.nullable || !a.nullable,
        s"overwriteWhere: column '${a.name}' may carry nulls but the table declares " +
          "it non-nullable")
    }
    val pred = expr(predicate)
    // every new row must land INSIDE the replaced window
    val outside = df.where(not(coalesce(pred, lit(false)))).limit(1).collect()
    require(outside.isEmpty,
      s"overwriteWhere: the batch carries rows NOT matching ($predicate) — e.g. " +
        s"${outside.headOption.map(_.toString).getOrElse("")}; they would silently " +
        "survive the next replace of this window. Filter the batch or widen the " +
        "predicate")

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val candidates = DeltaStats.prune(spark, snap.active, predicate, snap)
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val affected = affectedFiles(snap, root, fs, lineage.where(pred), "overwriteWhere")

    // CDF tables read the affected files again for the deleted-rows
    // change data — persist the scan so they are read once (lazy, no
    // extra job; released after the commit)
    val affScanOw =
      if (affected.isEmpty) null
      else {
        val sc = DeltaReader.scanFiles(spark, dir, snap, affected)
        if (cdfEnabled(snap)) sc.persist() else sc
      }
    val survivors =
      if (affected.isEmpty) null
      else affScanOw.where(not(coalesce(pred, lit(false))))
    val replaced = Option(survivors).map(_.unionByName(df)).getOrElse(df)
    val phys: Map[String, String] =
      if (cm == "none") Map.empty
      else table.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"overwriteWhere: column mapping is '$cm' but field '${f.name}' carries " +
            "no physicalName metadata — malformed schemaString")
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")
      }.toMap
    val staged = stagePhysicalRows(replaced, table, cm, phys, "overwriteWhere")
    val stagePartCols = snap.partCols.map(c => phys.getOrElse(c, c))
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val inserts = df.withColumn("_change_type", lit("insert"))
        val all =
          if (affected.isEmpty) inserts
          else {
            val deleted = affScanOw.where(coalesce(pred, lit(false)))
            deleted.withColumn("_change_type", lit("delete"))
              .unionByName(inserts)
          }
        stageCdc(stagePhysicalRows(all, table, cm, phys, "overwriteWhere"),
          dir, snap.version + 1, stagePartCols)
      }
    val removes = affected.map(removeLine(_, dataChange = true))
    commitDelta(staged, dir, snap.version + 1, includeMeta = false,
      checkpointInterval = 0, partCols = stagePartCols, txn = txn,
      extraActions = removes ++ cdcActions, operation = "WRITE",
      operationParameters =
        s"""{"mode":"Overwrite","predicate":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(predicate)}}""",
      rowIdBase = RowTracking.rowIdBase(snap),
      rebase = Some((snap, predicate, affected.map(_.path).toSet)),
      ictConf = snap.configuration, statsSchema = Some(table),
      identity = IdentityColumns.advanceOf(table, phys).map(adv =>
        (adv, Some(metaLineFor(dir, snap, table, snap.configuration)))))
    if (affScanOw != null && cdfEnabled(snap)) affScanOw.unpersist(false)
    affected.map(_.path).sorted
  }

  /** INSERT OVERWRITE — atomically replace the table's ENTIRE live
    * contents with `df` in ONE commit: dataChange=true removes for
    * every live file + adds for the staged batch, so readers see the
    * old table or the new one, never an empty or mixed state (the
    * non-atomic delete-then-append alternative exposes both). The
    * truncate-and-load pattern every periodic full-refresh pipeline
    * uses.
    *
    * The new batch obeys exactly [[appendDelta]]'s contract: schema
    * compatibility by position-free name/type/nullability match,
    * obligations (CHECK constraints / invariants / generated columns)
    * enforced in one distributed pass, column-mapped tables staged
    * under physical names, partitioned tables staged in the table's
    * declared layout. Row-tracked tables assign fresh ids (overwrite
    * is a row-CHANGING write — the protocol's non-preserving profile
    * legally re-identifies every row it rewrites).
    *
    * Composes: time travel below the overwrite sees the old contents
    * (tombstones keep the files until [[vacuumDelta]]); RESTORE
    * rewinds across it; [[graft.streaming.DeltaTail]] and the
    * registered streaming source refuse the version loudly
    * (dataChange removes — their append-only contract). On a CDF
    * table the commit stages its COMPLETE change data — every old
    * live row as `delete`, every new row as `insert` — which is by
    * definition table-sized: a table refreshed by overwrite pays one
    * extra scan + change-data write per refresh, so only enable CDF
    * on one when downstream actually folds the feed.
    *
    * Scale: one distributed scan of the old table (CDF tables only),
    * one staging write of the new batch; driver state is O(live
    * files) remove actions — the same maxSnapshotFiles-gated bound as
    * every snapshot. appendOnly tables refuse (an overwrite removes
    * rows).
    */
  def overwriteDelta(df0: DataFrame, dir: String, checkpointInterval: Int = 0,
                     txn: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = df0.sparkSession
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "overwriteDelta", removesRows = true)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val df = enforceObligations(
      IdentityColumns.complete(df0, table, "overwriteDelta"), snap, table,
      "overwriteDelta")
    require(df.schema.length == table.length,
      s"overwriteDelta: batch has ${df.schema.length} columns, table has " +
        s"${table.length} (${table.fieldNames.mkString(", ")})")
    df.schema.fields.zip(table.fields).foreach { case (a, t) =>
      require(a.name == t.name && typeCompatible(a.dataType, t.dataType),
        s"overwriteDelta: schema mismatch at '${t.name}': batch " +
          s"${a.name}:${a.dataType.simpleString}, table declares ${t.dataType.simpleString}")
      require(t.nullable || !a.nullable,
        s"overwriteDelta: column '${a.name}' may carry nulls but the table declares " +
          "it non-nullable")
    }
    val phys: Map[String, String] =
      if (cm == "none") Map.empty
      else table.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"overwriteDelta: column mapping is '$cm' but field '${f.name}' carries no " +
            "physicalName metadata — malformed schemaString")
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")
      }.toMap
    val staged = stagePhysicalRows(df, table, cm, phys, "overwriteDelta")
    val stagePartCols = snap.partCols.map(c => phys.getOrElse(c, c))
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val inserts = df.withColumn("_change_type", lit("insert"))
        val all =
          if (snap.active.isEmpty) inserts
          else {
            val oldRows = DeltaReader.scanFiles(spark, dir, snap, snap.active)
            oldRows.withColumn("_change_type", lit("delete"))
              .unionByName(inserts)
          }
        stageCdc(stagePhysicalRows(all, table, cm, phys, "overwriteDelta"),
          dir, snap.version + 1, stagePartCols)
      }
    val removes = snap.active.map(removeLine(_, dataChange = true))
    commitDelta(staged, dir, snap.version + 1, includeMeta = false,
      checkpointInterval, partCols = stagePartCols, txn = txn,
      extraActions = removes ++ cdcActions, operation = "WRITE",
      operationParameters = """{"mode":"Overwrite"}""",
      rowIdBase = RowTracking.rowIdBase(snap), ictConf = snap.configuration,
      statsSchema = Some(table),
      // the watermark NEVER rewinds on overwrite: replaced rows' ids
      // stay burned (a rewound mark would re-mint them)
      identity = IdentityColumns.advanceOf(table, phys).map(adv =>
        (adv, Some(metaLineFor(dir, snap, table, snap.configuration)))))
  }

  /** Create or replace the table at `dir`: [[writeDelta]] when it holds
    * no table (or only the empty log a crashed creator leaves), else
    * [[overwriteDelta]], a new version replacing every row. An existing
    * table must already have `partitionBy` and `configuration`; a
    * mismatch is refused, not silently kept. The directory is never
    * deleted, so readers of the old version keep it, its files stay
    * until [[vacuumDelta]], and the snapshot memos, keyed by the log
    * files' name, length and mtime, never see a recreated version 0.
    */
  private[graft] def writeOrOverwriteDelta(df: DataFrame, dir: String,
                                           partitionBy: Seq[String] = Nil,
                                           configuration: Map[String, String] = Map.empty): Unit =
    if (DeltaReader.hasLogEntries(dir, df.sparkSession.sessionState.newHadoopConf())) {
      val snap = DeltaReader.snapshot(df.sparkSession, dir, None)
      require(snap.partCols == partitionBy,
        s"$dir is partitioned by (${snap.partCols.mkString(", ")}), " +
          s"not (${partitionBy.mkString(", ")})")
      configuration.foreach { case (k, v) =>
        require(snap.configuration.get(k).contains(v),
          s"$dir has $k = ${snap.configuration.getOrElse(k, "<unset>")}, not $v")
      }
      overwriteDelta(df, dir)
    } else writeDelta(df, dir, partitionBy = partitionBy, configuration = configuration)

  /** (path, expression, enforceable) for every `delta.invariants`
    * field: top-level and struct-nested invariants evaluate row-wise
    * (the stored expression references the dotted path), but an
    * invariant INSIDE an array/map element has no single row-wise
    * expression — those stay refuse-territory. The metadata value is
    * the protocol's `{"expression":{"expression":"<sql>"}}` wrapper,
    * with a raw-string fallback for hand-built tables.
    */
  private def invariantExprs(st: org.apache.spark.sql.types.StructType,
                             prefix: String = "",
                             enforceable: Boolean = true): Seq[(String, String, Boolean)] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    st.fields.toSeq.flatMap { f =>
      val here = if (!f.metadata.contains("delta.invariants")) Nil else {
        val raw = f.metadata.getString("delta.invariants")
        val e =
          try {
            val n = om.readTree(raw)
            if (n != null && n.has("expression") && n.get("expression").has("expression"))
              n.get("expression").get("expression").asText()
            else raw
          } catch { case _: Exception => raw }
        Seq((prefix + f.name, e, enforceable))
      }
      val below = f.dataType match {
        case s: StructType => invariantExprs(s, s"$prefix${f.name}.", enforceable)
        case ArrayType(s: StructType, _) =>
          invariantExprs(s, s"$prefix${f.name}.element.", enforceable = false)
        case MapType(_, s: StructType, _) =>
          invariantExprs(s, s"$prefix${f.name}.value.", enforceable = false)
        case _ => Nil
      }
      here ++ below
    }
  }

  /** Logical→physical column-name map for a name-mode table; empty
    * when `cm` is "none". Refuses loudly — naming the op and the
    * field — on a malformed schemaString whose field lacks
    * physicalName metadata, instead of a bare NoSuchElementException.
    */
  private[graft] def physNameMap(table: org.apache.spark.sql.types.StructType,
                                 cm: String, op: String): Map[String, String] =
    if (cm == "none") Map.empty
    else table.fields.map { f =>
      require(f.metadata.contains("delta.columnMapping.physicalName"),
        s"$op: field '${f.name}' carries no delta.columnMapping.physicalName " +
          "metadata — malformed schemaString for a name-mode table")
      f.name -> f.metadata.getString("delta.columnMapping.physicalName")
    }.toMap

  /** ENFORCE the table's declared write obligations on a batch of new
    * values — the writer-protocol duties real delta-spark performs
    * instead of refusing: CHECK constraints (`delta.constraints.*` in
    * configuration; TRUE-or-NULL passes, FALSE refuses — SQL
    * semantics), column invariants (field metadata; same rule), and
    * generated columns (computed from their expression when the batch
    * omits them, VERIFIED null-safe-equal when it provides them). All
    * verifications run in ONE distributed aggregation over the batch;
    * any violation refuses the whole write with the named check and
    * its row count — a partial write of the passing rows would not be
    * the caller's batch. Returns the batch with generated columns
    * completed, in table column order when completion happened.
    */
  private[graft] def enforceObligations(df: DataFrame, snap: DeltaReader.Snapshot,
                                        table: org.apache.spark.sql.types.StructType,
                                        op: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum, when, not}
    val constraints = snap.configuration.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint '${k.stripPrefix("delta.constraints.")}' ($v)", v)
    }
    val invariants = invariantExprs(table)
    val unenforceable = invariants.collect { case (p, _, false) => p }
    require(unenforceable.isEmpty,
      s"$op: columns ${unenforceable.mkString(", ")} declare invariants inside " +
        "array/map elements — no row-wise enforcement exists; refusing")
    val generated = table.fields.filter(_.metadata.contains("delta.generationExpression"))
    val defaulted = table.fields.filter(f =>
      f.metadata.contains("CURRENT_DEFAULT") &&
        !f.metadata.contains("delta.generationExpression"))
    if (constraints.isEmpty && invariants.isEmpty && generated.isEmpty &&
        defaulted.isEmpty) return df

    val present = df.columns.toSet
    // omitted DEFAULTed columns take their declared constant (the
    // allowColumnDefaults contract); omitted GENERATED columns compute
    // from their expressions — both before the width/constraint gates
    val withDefaults = defaulted.filterNot(f => present.contains(f.name)).foldLeft(df) {
      (d, f) => d.withColumn(f.name,
        expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType))
    }
    val completed0 = generated.filterNot(g => present.contains(g.name))
      .foldLeft(withDefaults) {
        (d, g) => d.withColumn(g.name,
          expr(g.metadata.getString("delta.generationExpression")).cast(g.dataType))
      }
    val completed =
      if (completed0 eq df) df
      else if (table.fieldNames.forall(completed0.columns.contains))
        completed0.select(table.fieldNames.map(col).toIndexedSeq: _*)
      else completed0

    def failedCheck(e: String) =
      // SQL CHECK semantics: TRUE and NULL pass, FALSE refuses
      coalesce(expr(e).cast("boolean"), lit(true)) === lit(false)
    val checks: Seq[(String, org.apache.spark.sql.Column)] =
      constraints.map { case (label, e) => (label, failedCheck(e)) } ++
        invariants.map { case (p, e, _) => (s"invariant on '$p' ($e)", failedCheck(e)) } ++
        generated.filter(g => present.contains(g.name)).map { g =>
          val e = g.metadata.getString("delta.generationExpression")
          (s"generated column '${g.name}' ($e)",
            not(col(g.name) <=> expr(e).cast(g.dataType)))
        }
    if (checks.nonEmpty) {
      val aggCols = checks.zipWithIndex.map { case ((_, cond), i) =>
        sum(when(cond, 1L).otherwise(0L)).as(s"__viol_$i")
      }
      val row = completed.agg(aggCols.head, aggCols.tail: _*).head()
      checks.zipWithIndex.foreach { case ((label, _), i) =>
        val n = if (row.isNullAt(i)) 0L else row.getLong(i) // null = empty batch
        require(n == 0L, s"$op: $n row(s) violate $label — refusing to write")
      }
    }
    completed
  }

  /** Structural type compatibility for the append gate: equal shapes
    * with nested StructField METADATA ignored (a table whose fields
    * carry comments or invariant annotations must still accept data
    * whose in-memory schema lacks them) and nested nullability allowed
    * to be STRICTER on the appended side — a non-nullable array element
    * is always safe to store in a nullable-element column. Plain
    * `DataType` equality compares both, spuriously refusing legitimate
    * appends.
    */
  private[graft] def typeCompatible(a: org.apache.spark.sql.types.DataType,
                                    t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (a, t) match {
      case (as: StructType, ts: StructType) =>
        as.length == ts.length && as.fields.zip(ts.fields).forall { case (af, tf) =>
          af.name == tf.name && typeCompatible(af.dataType, tf.dataType) &&
            (tf.nullable || !af.nullable)
        }
      case (ArrayType(ae, an), ArrayType(te, tn)) =>
        typeCompatible(ae, te) && (tn || !an)
      case (MapType(ak, av, an), MapType(tk, tv, tn)) =>
        typeCompatible(ak, tk) && typeCompatible(av, tv) && (tn || !an)
      case _ => a == t
    }
  }

  /** Logical-named rows → the table's PHYSICAL staging shape, shared
    * by every path that writes data files (append, delete/update
    * rewrites, overwrite, merge, CDC images):
    *  - mode "none": untouched;
    *  - mode "name": top-level rename to the declared physical names;
    *  - mode "id" (r15): physical names at EVERY level AND
    *    `parquet.field.id` from each field's `delta.columnMapping.id`
    *    — the resolution contract id-mode readers (ours and
    *    delta-spark's) use. A nested struct reaches its physical shape
    *    via ONE cast (renames positionally, value no-op; the cast's
    *    target type carries the nested field-id metadata into the
    *    write schema); top-level ids ride the alias metadata, and
    *    footer-derived stats key by the full dotted physical path.
    * Columns beyond the table schema (cdc's `_change_type`) pass
    * through by name — protocol-fixed names, no mapping.
    */
  private[graft] def stagePhysicalRows(rows: DataFrame,
      table: org.apache.spark.sql.types.StructType, cm: String,
      physByLogical: Map[String, String], op: String): DataFrame = {
    if (cm == "none") return rows
    require(cm == "name" || cm == "id", s"$op: unknown column mapping mode '$cm'")
    if (cm == "id")
      table.fields.foreach(f => require(f.metadata.contains("delta.columnMapping.id"),
        s"$op: column mapping is 'id' but field '${f.name}' carries no " +
          "delta.columnMapping.id metadata — malformed schemaString"))
    def q(c: String) = s"`${c.replace("`", "``")}`"
    val extras = rows.columns.filterNot(table.fieldNames.contains).toSeq
    // BOTH modes stage the full physical shape through ONE walker
    // (DeltaStats.physicalShape — the same one the read schemas use,
    // so write and read cannot desynchronize on a nested name): a
    // foreign name-mode table with per-level physical names must not
    // receive files keyed by logical nested names no per-level reader
    // resolves. Field ids attach wherever the schema declares them
    // (name-mode tables carry them too — delta-spark writes them in
    // both modes); graft-shaped tables (top-level physical names only)
    // see `deep == f.dataType` and keep their exact previous plans.
    rows.select((table.fields.toSeq.map { f =>
      val md =
        if (!f.metadata.contains("delta.columnMapping.id")) f.metadata
        else new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build()
      val c = rows.col(q(f.name))
      val deep = DeltaStats.physicalShape(f.dataType, attachIds = true)
      (if (deep == f.dataType) c else c.cast(deep))
        .as(physByLogical(f.name), md)
    } ++ extras.map(c => rows.col(q(c)))).toIndexedSeq: _*)
  }

  /** True when `dt` carries `parquet.field.id` metadata at any nesting
    * level — a staging write of that shape needs [[fieldIdSession]].
    */
  private[graft] def hasFieldIds(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => st.fields.exists(f =>
        f.metadata.contains("parquet.field.id") || hasFieldIds(f.dataType))
      case ArrayType(et, _) => hasFieldIds(et)
      case MapType(k, v, _) => hasFieldIds(k) || hasFieldIds(v)
      case _ => false
    }
  }

  /** A session with parquet field-id writing ON when `schema` carries
    * ids anywhere — a CLONE of `s` (shared SparkContext, copied
    * session state), so the caller's session conf is never touched:
    * concurrent writes on `s` can neither observe a flipped flag nor
    * race a restore (r16 — previously this flipped and restored the
    * session-global conf around the write). `s` itself when the
    * schema carries no ids.
    */
  private[graft] def fieldIdSession(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): SparkSession = {
    if (!hasFieldIds(schema)) s
    else {
      val s2 = org.apache.spark.sql.GraftColumnBridge.cloneSession(s)
      s2.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      s2
    }
  }

  /** `df` re-bound for a staging write that must emit parquet field
    * ids: when the schema carries ids the plan re-binds onto a
    * [[fieldIdSession]] clone; otherwise `df` unchanged. One
    * SessionState copy per id-mode staging write — negligible next to
    * the write itself.
    */
  private[graft] def fieldIdStaged(df: DataFrame): DataFrame =
    if (!hasFieldIds(df.schema)) df
    else org.apache.spark.sql.GraftColumnBridge.rebind(
      fieldIdSession(df.sparkSession, df.schema), df)

  /** The append gate + commit against an already-replayed snapshot —
    * the streaming sink takes ONE snapshot per micro-batch for both
    * its txn-watermark check and the append, instead of replaying the
    * log twice per batch.
    */
  private[graft] def appendDeltaWithSnapshot(df0: DataFrame, dir: String,
                                             checkpointInterval: Int,
                                             txn: Option[(String, Long)],
                                             snap: DeltaReader.Snapshot,
                                             operation: String = "WRITE",
                                             operationParameters: String = "{}"): Unit = {
    // deletionVectors is append-safe: the writer obligation it imposes
    // (respect + rewrite DVs when modifying files) only binds writes
    // that TOUCH existing files, and a pure append never does.
    // columnMapping is append-safe because the physical rename below
    // stages parquet in the table's physical names. checkConstraints /
    // generatedColumns / invariants are ENFORCED below, not refused.
    val cm = requireMutable(snap, "appendDelta", removesRows = false)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // the table's declared write obligations — CHECK constraints
    // (configuration), column invariants (field metadata), generated
    // columns (computed when omitted, verified when provided) — are
    // ENFORCED on the batch in one distributed pass; a violation
    // refuses the whole write with the named check
    // identity columns first (an omitted one is GENERATED here, an
    // explicit one gated on BY DEFAULT), then the declared obligations
    // — a CHECK constraint may reference the identity value
    val df = enforceObligations(
      IdentityColumns.complete(df0, table, "appendDelta"), snap, table, "appendDelta")
    require(df.schema.length == table.length,
      s"appendDelta: appended schema has ${df.schema.length} columns, table has " +
        s"${table.length} (${table.fieldNames.mkString(", ")})")
    df.schema.fields.zip(table.fields).foreach { case (a, t) =>
      require(a.name == t.name && typeCompatible(a.dataType, t.dataType),
        s"appendDelta: schema mismatch at '${t.name}': appended " +
          s"${a.name}:${a.dataType.simpleString}, table declares ${t.dataType.simpleString}")
      require(t.nullable || !a.nullable,
        s"appendDelta: column '${a.name}' may carry nulls but the table declares it " +
          "non-nullable")
    }
    // appends to a partitioned table must partition the same way —
    // the layout is table metadata, not a per-commit choice. On a
    // column-mapped table the STAGED data and partition directories
    // carry the physical names (what the table's readers resolve);
    // the logical→physical projection is metadata-only.
    val physByLogical: Map[String, String] =
      if (cm == "none") Map.empty
      else table.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"appendDelta: column mapping is '$cm' but field '${f.name}' carries no " +
            "physicalName metadata — malformed schemaString")
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")
      }.toMap
    val (staged, stagePartCols) =
      (stagePhysicalRows(df, table, cm, physByLogical, "appendDelta"),
        snap.partCols.map(c => physByLogical.getOrElse(c, c)))
    commitDelta(staged, dir, snap.version + 1, includeMeta = false, checkpointInterval,
      stagePartCols, txn, operation = operation, operationParameters = operationParameters,
      rowIdBase = RowTracking.rowIdBase(snap), ictConf = snap.configuration,
      identity = IdentityColumns.advanceOf(table, physByLogical).map(adv =>
        (adv, Some(metaLineFor(dir, snap, table, snap.configuration)))),
      statsSchema = Some(table))
  }

  /** Percent-encoding for `add.path` (PROTOCOL.md stores paths
    * URL-encoded): unreserved chars, '/', and '=' pass through —
    * everything else (space, '%', non-ASCII) becomes %XX so
    * [[DeltaReader.percentDecode]] and a real reader's URI decode both
    * reverse it exactly.
    */
  private def percentEncode(p: String): String = {
    val keep = ('a' to 'z').toSet ++ ('A' to 'Z') ++ ('0' to '9') ++ "-._~/=".toSet
    p.flatMap { ch =>
      if (keep(ch)) ch.toString
      else ch.toString.getBytes("UTF-8").map(b => f"%%${b & 0xff}%02X").mkString
    }
  }

  /** The commit funnel of appends, overwrites, row-level rewrites and
    * cluster OPTIMIZE: stage `df` (partitioned tables through
    * partitionBy, so the files land under `col=value/` directories
    * without the partition columns, which the reader re-attaches from
    * add.partitionValues), fold the staged files when optimizeWrite is
    * on, parse each file's partitionValues back from its directory and
    * commit through [[commitFiles]]. `metaOverride` = (protocol line,
    * metaData line) replaces the default version-(1,2) protocol and
    * df-schema metaData when `includeMeta` — the column-mapping create
    * path authors both itself (physical-name schemaString, mode=name
    * configuration, reader/writer versions (2,5)).
    */
  private[graft] def commitDelta(df: DataFrame, dir: String, version: Long,
                                 includeMeta: Boolean, checkpointInterval: Int,
                                 partCols: Seq[String] = Nil,
                                 txn: Option[(String, Long)] = None,
                                 metaOverride: Option[(String, String)] = None,
                                 extraActions: Seq[String] = Nil,
                                 configuration: Map[String, String] = Map.empty,
                                 addDataChange: Boolean = true,
                                 operation: String = "WRITE",
                                 operationParameters: String = "{}",
                                 rowIdBase: Option[Long] = None,
                                 rebase: Option[(DeltaReader.Snapshot, String, Set[String])] = None,
                                 ictConf: Map[String, String] = Map.empty,
                                 identity: Option[(IdentityColumns.Advance, Option[String])] = None,
                                 clusteringProvider: Option[String] = None,
                                 // the LOGICAL table schema (physicalName metadata
                                 // included) — only consulted to translate
                                 // delta.dataSkippingStatsColumns into the staged
                                 // footers' physical key domain on column-mapped
                                 // tables; None on unmapped paths
                                 statsSchema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val spark = df.sparkSession
    // fail FAST on a store that can't arbitrate commits: before any
    // staging work, before the log directory exists — a refused create
    // must leave "not a table", not a half-created one
    GraftLogStore.requireAtomic(GraftLogStore.resolve(spark))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // stage the parquet files, then move them into the table root —
    // files only become visible through the commit that adds them.
    // (_delta_log is created just before the commit write, AFTER the
    // staging job: a crash mid-staging then leaves no log directory,
    // so a creating writer's retry still sees "not a table" instead of
    // an empty log it refuses to read.)
    val (staged0, stage) = stageFiles(df, root, partCols, version.toString)
    // write-time file sizing (`delta.autoOptimize.optimizeWrite`): the
    // staged partitions coalesce toward delta.targetFileSize BEFORE
    // the commit, so many-task writes and tiny streaming batches don't
    // mint a small-file-per-task debt that only scheduled OPTIMIZE
    // clears. Cost is one extra pass over the BATCH (never the table);
    // sizing reads the real staged byte counts, not an estimate.
    // Gated on dataChange commits: maintenance rewrites
    // (compactDeltaCluster's OPTIMIZE/ZORDER, dataChange=false) stage
    // a deliberately-laid-out file set the fold would scramble — a
    // curve layout folded by size would lose the very envelopes it
    // was built for, while still carrying clusteringProvider tags.
    val sizingConf = if (ictConf.nonEmpty) ictConf else configuration
    // the fold re-reads staged parquet; a bare read would DROP parquet
    // field ids (Spark's reader does not round-trip them into schema
    // metadata), so it re-reads under the staged LEAF schema — df's
    // schema minus the directory-encoded partition columns, field-id
    // metadata included — and rewrites with field-id writing on (r16:
    // previously the fold silently skipped ANY field-id-carrying
    // staged set, quietly ignoring delta.autoOptimize.optimizeWrite on
    // mapped tables)
    val staged =
      if (addDataChange &&
          sizingConf.get("delta.autoOptimize.optimizeWrite").contains("true")) {
        val leafSchema = org.apache.spark.sql.types.StructType(
          df.schema.fields.filterNot(f => partCols.contains(f.name)))
        optimizeWriteFold(spark, fs, stage, staged0.map(_.st), targetFileSizeOf(sizingConf),
          leafSchema)
        stagedUnder(fs, stage)
      } else staged0
    commitFiles(spark, dir, version, staged, stage, includeMeta, checkpointInterval,
      partCols, txn, metaOverride, extraActions, configuration, addDataChange, operation,
      operationParameters, rowIdBase, rebase, ictConf, identity, clusteringProvider,
      statsSchema, df.schema)
  }

  /** A staged data file awaiting its commit: the staged file, its
    * table-relative destination as it sits on disk (partition
    * directories Hive-escaped the way Spark wrote them; the add path is
    * its [[percentEncode]]), and the partitionValues its add carries
    * (directory order).
    */
  private final case class StagedFile(st: org.apache.hadoop.fs.FileStatus, rel: String,
                                      pv: Seq[(String, String)])

  /** The one staging write of appends, overwrites, row-level rewrites,
    * change data and the DV family's new files: `df` written (field ids
    * kept, `partCols` through partitionBy, so files land under
    * `col=value/` directories without the partition columns) under a
    * fresh `_stage_<tag>_<token>` directory of `root`, then listed by
    * [[stagedUnder]]. Writer-unique: concurrent writers may race toward
    * the SAME next version (the rebase path re-commits one of them at
    * version+1), so the staging dir must never be shared — a
    * version-keyed name would collide in ErrorIfExists or let one
    * writer's cleanup delete(stage) sweep the other's in-flight files.
    * Returns the staged files and the stage directory.
    */
  private def stageFiles(df: DataFrame, root: org.apache.hadoop.fs.Path,
                         partCols: Seq[String],
                         tag: String): (Seq[StagedFile], org.apache.hadoop.fs.Path) = {
    val fs = root.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val stage = new org.apache.hadoop.fs.Path(root,
      s"_stage_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    val wdf = fieldIdStaged(df)
    if (partCols.isEmpty) wdf.write.parquet(stage.toString)
    else wdf.write.partitionBy(partCols: _*).parquet(stage.toString)
    (stagedUnder(fs, stage), stage)
  }

  /** The parquet files under `stage` in path order, each with its
    * on-disk path relative to `stage` and the partitionValues parsed
    * from it.
    */
  private def stagedUnder(fs: org.apache.hadoop.fs.FileSystem,
                          stage: org.apache.hadoop.fs.Path): Seq[StagedFile] = {
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
      }
    val stageUri = stage.toUri.getPath.stripSuffix("/")
    walk(stage).sortBy(_.getPath.toString).map { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(stageUri).stripPrefix("/")
      StagedFile(st, rel, partitionValuesOf(rel))
    }
  }

  /** The partitionValues of a relative file path's `col=value`
    * directory segments, in directory order: Hive-unescaped (Spark
    * escaped them when writing), the `__HIVE_DEFAULT_PARTITION__`
    * marker mapped to null (a JSON null the reader types as a null
    * literal).
    */
  private def partitionValuesOf(rel: String): Seq[(String, String)] =
    rel.split('/').toSeq.dropRight(1).map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"unexpected staged partition segment '$seg' in $rel")
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(eq + 1))
      seg.substring(0, eq) -> (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw)
    }

  /** The partition directory `partitionValuesOf` reads back: each
    * column and value Hive-escaped, null as the Hive default marker.
    */
  private def partitionDirOf(pv: Seq[(String, String)]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    pv.map { case (c, v) =>
      s"${escapePathName(c)}=${if (v == null) "__HIVE_DEFAULT_PARTITION__" else escapePathName(v)}"
    }.mkString("/")
  }

  /** The one move of staged data into the table: every file renamed to
    * `root/<rel>` (its on-disk relative path, so the directory is the
    * one its add names), then `stage` deleted.
    */
  private def moveStaged(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
                         staged: Seq[StagedFile], stage: org.apache.hadoop.fs.Path): Unit = {
    staged.foreach { f =>
      val dest = new org.apache.hadoop.fs.Path(root, f.rel)
      if (f.rel.contains("/")) fs.mkdirs(dest.getParent)
      require(fs.rename(f.st.getPath, dest), s"rename ${f.st.getPath} -> $dest failed")
    }
    fs.delete(stage, true)
  }

  /** Staged data files placed as adds: footer-derived stats for every
    * file BEFORE the move (a metadata-only read of the files just
    * written — the data-skipping envelope every predicate-carrying op
    * prunes with; a rewrite without them would silently destroy
    * skipping on everything it replaces), then [[moveStaged]]. Footers
    * are read in PARALLEL: one serial ~10 ms open per file turns a
    * 2000-file commit into ~20 s of driver bookkeeping. `conf` picks the
    * indexed columns, `keepCols` survive the stats cap (identity
    * watermark bounds), `statsSchema` translates configured stats
    * columns to physical names. Returns one AddFile per staged file.
    */
  private def placeStaged(spark: SparkSession, root: org.apache.hadoop.fs.Path,
                          staged: Seq[StagedFile], stage: org.apache.hadoop.fs.Path,
                          conf: Map[String, String], keepCols: Set[String],
                          statsSchema: Option[org.apache.spark.sql.types.StructType])
      : Seq[DeltaReader.AddFile] = {
    val hconf = spark.sessionState.newHadoopConf()
    val indexedCols = DeltaStats.indexedColsOf(conf)
    val statsCols = DeltaStats.physicalStatsColumns(conf, statsSchema)
    val stats = boundedParMap(staged, 16) { f =>
      DeltaStats.fileStats(f.st.getPath, hconf, indexedCols, keepCols, statsCols)
    }
    moveStaged(root.getFileSystem(hconf), root, staged, stage)
    staged.zip(stats).map { case (f, s) =>
      DeltaReader.AddFile(percentEncode(f.rel),
        scala.collection.immutable.ListMap(f.pv: _*), f.st.getLen, stats = s)
    }
  }

  /** Fresh row ids for `adds` in order: each consumes its numRecords
    * (from its stats) starting at `rowIdBase`, stamped with commit
    * `version`; plus the advanced watermark, which commits ATOMICALLY
    * with the adds. `adds` unchanged and no watermark on an untracked
    * table (`rowIdBase` None).
    */
  private def assignRowIds(adds: Seq[DeltaReader.AddFile], rowIdBase: Option[Long],
                           version: Long, op: String): (Seq[DeltaReader.AddFile], Option[String]) =
    rowIdBase match {
      case None => (adds, None)
      case Some(base) =>
        val counts = adds.map { a =>
          a.stats.map(s => jsonMapper.readTree(s).get("numRecords").asLong()).getOrElse(
            throw new IllegalArgumentException(
              s"$op rowTracking: staged file ${a.path} produced no footer stats, so its " +
                "row count is unknown — cannot assign baseRowId; refusing the commit"))
        }
        val bases = counts.scanLeft(base)(_ + _)
        (adds.zip(bases).map { case (a, b) =>
          a.copy(baseRowId = Some(b), defaultRowCommitVersion = Some(version))
        }, Some(RowTracking.watermarkAction(bases.last - 1)))
    }

  /** The `partitionValues` JSON object of `pv`, in its order (null
    * values as JSON null).
    */
  private def partitionValuesJson(pv: Iterable[(String, String)]): String =
    pv.map { case (c, v) =>
      s"${jsonMapper.writeValueAsString(c)}:${if (v == null) "null" else jsonMapper.writeValueAsString(v)}"
    }.mkString("{", ",", "}")

  /** The `deletionVector` JSON object of `d` (`offset` only when set). */
  private def deletionVectorJson(d: DeltaReader.DvDescriptor): String = {
    val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
    s"""{"storageType":${jsonMapper.writeValueAsString(d.storageType)},""" +
      s""""pathOrInlineDv":${jsonMapper.writeValueAsString(d.pathOrInlineDv)},$off""" +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  /** The one renderer of `add` actions: every field `a` carries (path
    * verbatim — log paths are already percent-encoded — partition
    * values, size, modification time, deletion vector, stats, row-id
    * identity, clustering provider), with `dataChange` as given. A
    * re-add (DV commits, RESTORE, clone, row-tracking backfill) thus
    * carries the clustering provider too — losing it would make the
    * next incremental clustering pass re-layout files already on the
    * curve.
    */
  private def addLine(a: DeltaReader.AddFile, dataChange: Boolean): String = {
    def opt(name: String, v: Option[String]): String =
      v.map(x => s""","$name":$x""").getOrElse("")
    s"""{"add":{"path":${jsonMapper.writeValueAsString(a.path)},"partitionValues":""" +
      s"""${partitionValuesJson(a.partitionValues)},"size":${a.size},""" +
      s""""modificationTime":${a.modificationTime},"dataChange":$dataChange""" +
      opt("deletionVector", a.dv.map(deletionVectorJson)) +
      opt("stats", a.stats.map(jsonMapper.writeValueAsString)) +
      RowTracking.carryJson(a) +
      opt("clusteringProvider", a.clusteringProvider.map(jsonMapper.writeValueAsString)) + "}}"
  }

  /** The commit half of [[commitDelta]], shared with the maintenance
    * rewrites of [[rewriteBins]]: the staged files placed as adds
    * ([[placeStaged]]), identity watermarks, row ids ([[assignRowIds]]),
    * the rendered actions, the create-if-absent commit with its three
    * rebase tiers, the checkpoint cadence and autoCompact.
    * The arguments are [[commitDelta]]'s; `schema` (the written
    * DataFrame's) is read only when `includeMeta` renders a create.
    */
  private def commitFiles(spark: SparkSession, dir: String, version: Long,
                          staged: Seq[StagedFile], stage: org.apache.hadoop.fs.Path,
                          includeMeta: Boolean = false, checkpointInterval: Int = 0,
                          partCols: Seq[String] = Nil,
                          txn: Option[(String, Long)] = None,
                          metaOverride: Option[(String, String)] = None,
                          extraActions: Seq[String],
                          configuration: Map[String, String] = Map.empty,
                          addDataChange: Boolean,
                          operation: String,
                          operationParameters: String = "{}",
                          rowIdBase: Option[Long],
                          rebase: Option[(DeltaReader.Snapshot, String, Set[String])] = None,
                          ictConf: Map[String, String],
                          identity: Option[(IdentityColumns.Advance, Option[String])] = None,
                          clusteringProvider: Option[String] = None,
                          statsSchema: Option[org.apache.spark.sql.types.StructType],
                          schema: org.apache.spark.sql.types.StructType =
                            org.apache.spark.sql.types.StructType(Nil)): Unit = {
    val logStore = GraftLogStore.resolve(spark)
    GraftLogStore.requireAtomic(logStore)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val sizingConf = if (ictConf.nonEmpty) ictConf else configuration
    // identity watermark bounds must survive the stats cap
    val keepCols = identity.map(_._1.cols.map(_._2).toSet).getOrElse(Set.empty[String])
    val adds = placeStaged(spark, root, staged, stage, sizingConf, keepCols, statsSchema)
      .map(_.copy(clusteringProvider = clusteringProvider))
    // identity watermark advance — derived from the footer stats just
    // computed (zero extra jobs); a changed watermark restates
    // metaData in this commit and disqualifies the append rebase
    // (two writers generating from one base would mint equal ids)
    val idWm: Map[String, Long] = identity.map { case (adv, _) =>
      IdentityColumns.newWatermarks(adv, adds.map(_.stats), "commitDelta")
    }.getOrElse(Map.empty)
    val idMetaAppend: Option[String] = identity.collect {
      case (_, Some(metaBase)) if idWm.nonEmpty =>
        IdentityColumns.patchMetaLine(metaBase, idWm)
    }
    val om = jsonMapper
    // the action list is a FUNCTION of the commit version (commitInfo
    // readVersion, row-tracking defaultRowCommitVersion) so the rebase
    // loop below can re-render the same staged files at a later version
    def render(version: Long): Seq[String] = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    actions += commitInfoLine(operation, operationParameters,
      if (version > 0) Some(version - 1) else None)
    if (includeMeta) metaOverride match {
      case Some((proto, metaLine)) =>
        actions += proto
        actions += IdentityColumns.patchMetaLine(metaLine, idWm)
      case None =>
        val pcJson = partCols.map(om.writeValueAsString).mkString("[", ",", "]")
        // delta.feature.<name>=supported keys CONSUME into the creating
        // protocol — they never persist as configuration; so do the
        // delta.minReaderVersion / delta.minWriterVersion requests
        val (confKept0, featsCreate) =
          splitFeatureProperties(configuration, "CREATE TABLE")
        val reqMinReader = confKept0.get("delta.minReaderVersion").map(_.trim.toInt)
        val reqMinWriter = confKept0.get("delta.minWriterVersion").map(_.trim.toInt)
        reqMinReader.foreach(r => require(r >= 1 && r <= 3,
          s"CREATE TABLE: delta.minReaderVersion $r must be in [1, 3]"))
        reqMinWriter.foreach(w => require(w >= 1 && w <= 7,
          s"CREATE TABLE: delta.minWriterVersion $w must be in [1, 7]"))
        val confKept = confKept0 -- Seq("delta.minReaderVersion", "delta.minWriterVersion")
        // CDF's legacy writer floor is 4 (PROTOCOL.md): stamping it on
        // the creating commit makes non-CDF-aware legacy writers refuse
        // the table instead of committing changes without change data
        val cdfCreate = configuration.get("delta.enableChangeDataFeed").contains("true")
        // legacy floors: CDF = 4, CHECK constraints = 3 (PROTOCOL.md) —
        // a creating commit that under-declared either would let legacy
        // writers append unchecked/changeless rows
        val constraintsCreate =
          configuration.keys.exists(_.startsWith("delta.constraints."))
        val minWriter = Seq(2, if (cdfCreate) 4 else 2,
          if (constraintsCreate) 3 else 2).max
        val confJson = confKept.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${om.writeValueAsString(k)}:${om.writeValueAsString(v)}"
        }.mkString("{", ",", "}")
        // writer-version-7 FEATURES a creating table can declare:
        // in-commit timestamps (configuration), identity / generated /
        // DEFAULTed columns (field metadata), explicit delta.feature.*
        // declarations. Any of them lifts the protocol to v7 with the
        // feature plus the legacy obligations v7 makes explicit; none
        // keeps the legacy version.
        val v7Features = featsCreate.toSeq ++
          (if (ictEnabled(configuration)) Seq("inCommitTimestamp") else Nil) ++
          (if (IdentityColumns.hasIdentity(schema)) Seq(IdentityColumns.Feature) else Nil) ++
          (if (schema.fields.exists(_.metadata.contains("delta.generationExpression")))
            Seq("generatedColumns") else Nil) ++
          (if (schema.fields.exists(_.metadata.contains("CURRENT_DEFAULT")))
            Seq("allowColumnDefaults") else Nil) ++
          // VARIANT / TIMESTAMP_NTZ anywhere in the schema are
          // READER-visible shapes: reader+writer features, minReader 3
          // — a reader that doesn't know them would misread the binary
          // pair / shift wall-clock values to UTC instants
          (if (hasVariant(schema)) Seq("variantType") else Nil) ++
          (if (hasNtz(schema)) Seq("timestampNtz") else Nil)
        val rwCreate = v7Features.distinct.filter(DeclarableReaderWriter)
        require(!reqMinReader.contains(3) || rwCreate.nonEmpty,
          "CREATE TABLE: delta.minReaderVersion=3 with NO reader features would " +
            "be a malformed table — declare one via delta.feature.<name>=supported " +
            "or use a schema that requires one")
        actions += (
          if (v7Features.isEmpty && !reqMinWriter.contains(7))
            protocolLine(reqMinReader.getOrElse(1).toLong, (minWriter +: reqMinWriter.toSeq).max,
              Nil, Nil)
          else protocolLine(if (rwCreate.nonEmpty) 3 else reqMinReader.getOrElse(1).toLong, 7, rwCreate,
            legacyObligations(confKept, schema) ++ v7Features))
        actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(
          IdentityColumns.patchSchema(schema, idWm).json)},"partitionColumns":$pcJson,"configuration":$confJson}}"""
    }
    // an advanced identity watermark restates metaData atomically with
    // the adds whose values it covers (mutation commits pass the
    // current metaData as the base; the create path patches its own
    // render above)
    if (!includeMeta) idMetaAppend.foreach(actions += _)
    // transaction identifier (PROTOCOL.md): records "this application
    // has committed up to here" in the SAME atomic commit as the data,
    // so a streaming batch and its watermark can never diverge
    txn.foreach { case (appId, v) =>
      actions += s"""{"txn":{"appId":${om.writeValueAsString(appId)},"version":$v}}"""
    }
    // caller-authored actions (deleteWhere's removes) ride the SAME
    // atomic commit as the adds staged above
    actions ++= extraActions
    // row tracking: fresh ids in the staged files' sorted order
    val (rowIdAdds, watermark) = assignRowIds(adds, rowIdBase, version, operation)
    actions ++= rowIdAdds.map(addLine(_, addDataChange)) ++= watermark
    actions.toSeq
    }
    fs.mkdirs(log)
    // create-if-absent (overwrite = false) IS the commit arbitration: a
    // second writer racing to the same version must fail loudly here —
    // an overwrite would silently replace the winner's committed
    // actions with this writer's, orphaning its data files.
    //
    // APPEND REBASE (real Delta's OCC conflict check, the cheap half):
    // a PURE append — no metadata/protocol change, no extra actions,
    // no txn identifier, no row-id assignment — reads nothing from the
    // table except its metadata, protocol and row-id watermark. If
    // every winner commit since our target carries ONLY file actions
    // (add/remove/cdc/commitInfo), that read set is untouched: the
    // same staged files re-commit at the next free version WITHOUT
    // re-running the op (no re-stage, no re-scan). Any metaData /
    // protocol / domainMetadata / txn action in a winner invalidates
    // the read set -> the original loud conflict, and the caller's
    // retryOnConflict re-runs from a fresh snapshot.
    // MUTATION REBASE (the second tier, r10): a predicate mutation
    // (delete/update) read exactly (a) table metadata/protocol/
    // watermark and (b) the files it rewrites plus the certainty that
    // NO OTHER live file holds predicate-matching rows. A winner whose
    // commits carry only file actions, whose removes are DISJOINT from
    // our rewrite set, and whose dataChange adds CANNOT hold matching
    // rows (the same conservative three-valued stats/partition pruner
    // reads use — may-match counts as conflict) left that read set
    // intact: re-commit the same staged rewrite at the next free
    // version with zero re-execution. Anything else -> the loud
    // conflict, and retryOnConflict re-runs from a fresh snapshot —
    // exactly real Delta's WriteSerializable discipline, evaluated
    // file-level.
    val appendShape = !includeMeta && extraActions.isEmpty && txn.isEmpty &&
      rowIdBase.isEmpty && idWm.isEmpty
    val mutationShape = rebase.isDefined && !includeMeta && txn.isEmpty
    // MAINTENANCE REBASE (the third tier, r13): a dataChange=false
    // layout rewrite (compaction, REORG PURGE, z-order / clustering
    // OPTIMIZE) read only (a) table metadata/protocol and (b) the live
    // files it removes. A winner carrying only file actions whose
    // removes are DISJOINT from ours left that read set intact: its
    // fresh rows live in files this rewrite never touches, and it
    // cannot have deleted rows out of our inputs (every graft DV add
    // pairs with a remove of the same path, so merge-on-read deletes
    // surface in the remove overlap too) — re-commit the same staged
    // rewrite at the next free version with zero re-execution (at
    // 100 TB the rewrite IS the cost; a nightly OPTIMIZE racing routine
    // appends must not start over per append). Row-tracked rewrites
    // stay excluded (rowIdBase carries a version-dependent watermark
    // and defaultRowCommitVersion), and so does any rewrite carrying a
    // non-remove action (column-mapping removal's metaData).
    val maintenanceShape = !includeMeta && txn.isEmpty && !addDataChange &&
      rebase.isEmpty && rowIdBase.isEmpty && idWm.isEmpty &&
      extraActions.nonEmpty && extraActions.forall(_.startsWith("""{"remove":"""))
    val maintRemoves: Set[String] =
      if (!maintenanceShape) Set.empty
      else extraActions.map(l => om.readTree(l).get("remove").get("path").asText()).toSet
    val rebaseable = appendShape || mutationShape || maintenanceShape
    var v = version
    var committed = false
    while (!committed) {
      val commit = new org.apache.hadoop.fs.Path(log, f"$v%020d.json")
      val effIctConf = if (ictEnabled(ictConf)) ictConf else configuration
      val stamped = ictStampContent(spark, fs, commit,
        effIctConf, injectOperationMetrics(render(v).mkString("\n").getBytes("UTF-8")))
      val won = logStore.writeIfAbsent(fs, commit, stamped)
      if (won) {
        committed = true
        writeVersionChecksum(fs, commit, stamped)
      } else {
        val e = new java.io.IOException(s"commit $commit already exists")
        val newest = newestCommitVersion(fs, log)
        if (!rebaseable || newest < v)
          throw new IllegalStateException(
            s"Delta commit $commit already exists — a concurrent writer won version $v; " +
              "re-read the table and retry the operation", e)
        val conflicts = (v to newest).flatMap { w =>
          val base = appendConflicts(fs, log, w)
          if (base.nonEmpty) base
          else rebase match {
            case Some((snap, pred, readSet)) =>
              mutationConflicts(spark, fs, log, w, snap, pred, readSet)
            case None if maintenanceShape =>
              maintenanceRemoveConflicts(fs, log, w, maintRemoves)
            case None => base
          }
        }
        if (conflicts.nonEmpty)
          throw new IllegalStateException(
            s"Delta commit $commit already exists — a concurrent writer won version $v " +
              s"and its commit conflicts with this operation (${conflicts.mkString("; ")}); " +
              "re-read the table and retry", e)
        v = newest + 1
      }
    }
    // checkpoint cadence: the caller's explicit interval wins, else the
    // TABLE's own `delta.checkpointInterval` property (delta-spark's
    // knob) keeps the replay suffix bounded for every writer without
    // each call site having to plumb an interval — on a 100-TB table
    // written by many jobs, an unbounded commit suffix is a driver-side
    // replay tax every reader pays until someone checkpoints. The
    // property cadence is best-effort like every other commit's (the
    // commit above is durable); an explicit interval fails loudly.
    if (checkpointInterval > 0) {
      if (v > 0 && v % checkpointInterval == 0) checkpointDelta(spark, dir, v)
    } else
      maybeCheckpointAtProperty(spark, new org.apache.hadoop.fs.Path(log, f"$v%020d.json"),
        sizingConf)
    // post-commit small-file maintenance (`delta.autoOptimize.autoCompact`):
    // once a partition accumulates minNumFiles sub-threshold files, a
    // follow-up OPTIMIZE-shaped commit folds exactly those — gated on
    // dataChange commits so maintenance rewrites never re-trigger it,
    // and on THIS commit having added a sub-threshold file at all
    // (a commit of target-sized files cannot create new debt, so it
    // skips the snapshot probe entirely). The fold is best-effort by
    // contract: the APPEND above is durably committed, so a lost
    // OPTIMIZE race (a concurrent writer winning the next version) or
    // any other maintenance failure must not fail the caller
    // retroactively — it logs and leaves the debt for the next
    // trigger.
    if (addDataChange && sizingConf.get("delta.autoOptimize.autoCompact").contains("true")
        && adds.exists(_.size < targetFileSizeOf(sizingConf) / 2)) {
      try autoCompactMaybe(spark, dir, sizingConf)
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"autoCompact after commit $v of $dir skipped: ${e.getMessage}")
      }
    }
  }

  /** The `delta.checkpointInterval` TABLE-property cadence — called by
    * [[GraftLogStore.commitOrThrow]] after every successful commit and
    * by [[commitFiles]] when no explicit interval is given. Best-effort (the commit is already
    * durable); no-op unless the table declares the property and the
    * just-won version sits on the cadence.
    */
  private[graft] def maybeCheckpointAtProperty(spark: SparkSession,
      commitPath: org.apache.hadoop.fs.Path, conf: Map[String, String]): Unit = {
    val name = commitPath.getName
    if (!name.matches("\\d{20}\\.json")) return
    conf.get("delta.checkpointInterval").map(_.trim.toInt).filter(_ > 0).foreach { n =>
      val v = name.take(20).toLong
      if (v > 0 && v % n == 0) {
        val dir = commitPath.getParent.getParent.toString
        try checkpointDelta(spark, dir, v)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"property-cadence checkpoint at $v of $dir skipped: ${e.getMessage}")
        }
      }
    }
  }

  /** `interval N <unit>` duration strings (delta-spark's
    * CalendarInterval spellings for retention properties) in
    * milliseconds. Units that don't have a fixed millisecond width
    * (month, year) refuse — a retention boundary must be a point in
    * time, not a calendar question.
    */
  private[graft] def parseDuration(s0: String, key: String): Long = {
    val re = "(?i)^\\s*interval\\s+(\\d+)\\s+(millisecond|second|minute|hour|day|week)s?\\s*$".r
    // delta-spark prepends the keyword when absent ("30 days" and
    // "interval 30 days" are the same property value)
    val s = if (s0.trim.toLowerCase(java.util.Locale.ROOT).startsWith("interval")) s0
            else s"interval ${s0.trim}"
    s match {
      case re(n, unit) =>
        val ms = unit.toLowerCase match {
          case "millisecond" => 1L
          case "second" => 1000L
          case "minute" => 60000L
          case "hour" => 3600000L
          case "day" => 86400000L
          case "week" => 7L * 86400000L
        }
        n.toLong * ms
      case _ => throw new IllegalArgumentException(
        s"$key: cannot parse duration '$s0' — use 'interval N <unit>' with unit " +
          "millisecond/second/minute/hour/day/week")
    }
  }

  /** Metadata cleanup — delete the EXPIRED LOG PREFIX at a checkpoint
    * boundary (delta-spark's `delta.enableExpiredLogCleanup`, default
    * on, with `delta.logRetentionDuration`, default interval 30 days;
    * runs best-effort after every checkpoint). A 100-TB table that
    * commits every minute writes half a million log files a year —
    * without cleanup the `_delta_log` listing itself becomes the
    * bottleneck of every snapshot, and no VACUUM touches it.
    *
    * Chooses the LARGEST complete-checkpoint version k such that every
    * commit json below k is older than the cutoff, then deletes all
    * log files with version < k: commit jsons, checkpoint files
    * (classic, multi-part, v2 manifests — shared `_sidecars` stay put;
    * orphaned sidecars fall to the vacuum sweep), and log compactions
    * ending below k. Anything at or above k is untouched, so state at
    * any retained version still reconstructs from k's checkpoint plus
    * the retained suffix; history, CDF, the ICT horizon and time
    * travel now start at k, and a read below k refuses loudly (the
    * retention contract). Returns the deleted names, sorted.
    *
    * checkpointProtection interplay: the protocol lets a writer clean
    * metadata below `delta.requireCheckpointProtectionBeforeVersion`
    * only when it supports every feature the protected history
    * dropped — graft qualifies by construction (it only ever drops
    * features it fully implements, and the boundary checkpoint it
    * authored at the drop version is exactly the ≥-boundary base the
    * cleanup anchors to), so no extra gate is needed here.
    */
  def cleanExpiredLogs(spark: SparkSession, dir: String,
                       nowMillis: Option[Long] = None): Seq[String] =
    cleanExpiredLogsWithConf(spark, dir,
      DeltaReader.snapshot(spark, dir, None).configuration, nowMillis)

  /** [[cleanExpiredLogs]] against a caller-supplied configuration —
    * the checkpoint authors pass the snapshot they already hold, so
    * the post-checkpoint hook never pays a fresh replay just to read
    * two properties.
    */
  private[graft] def cleanExpiredLogsWithConf(spark: SparkSession, dir: String,
      conf: Map[String, String], nowMillis: Option[Long] = None): Seq[String] = {
    val log = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), "_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(log)) return Nil
    if (conf.get("delta.enableExpiredLogCleanup").contains("false")) return Nil
    val retention = parseDuration(
      conf.getOrElse("delta.logRetentionDuration", "interval 30 days"),
      "delta.logRetentionDuration")
    val cutoff = nowMillis.getOrElse(System.currentTimeMillis()) - retention
    val entries = fs.listStatus(log).toSeq.filter(_.isFile)
    val commits = entries
      .filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .map(st => st.getPath.getName.take(20).toLong -> st)
    if (commits.isEmpty) return Nil
    // complete checkpoint versions: classic single file, v2 manifest,
    // or a multi-part set whose distinct part numbers cover 1..total
    val MultiRe = "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
    val completeCp: Seq[Long] = entries.map(_.getPath.getName)
      .filter(n => n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet") ||
        n.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.(json|parquet)"))
      .groupBy(_.take(20).toLong)
      .collect { case (v, names) if {
          val classicOrV2 = names.exists(n =>
            n.matches("\\d{20}\\.checkpoint\\.parquet") ||
              (n.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.(json|parquet)") &&
                !MultiRe.pattern.matcher(n).matches()))
          val parts = names.collect { case MultiRe(_, p, t) => (p.toInt, t.toInt) }
          // complete = part numbers are EXACTLY 1..total (a corrupt
          // {1,3}-of-2 set must never anchor a deletion boundary)
          classicOrV2 || (parts.nonEmpty && parts.map(_._2).distinct.size == 1 &&
            parts.map(_._1).toSet == (1 to parts.head._2).toSet)
        } => v }
      .toSeq.sorted
    val k = completeCp
      .filter(k0 => commits.forall { case (v, st) =>
        v >= k0 || st.getModificationTime < cutoff })
      .maxOption.getOrElse(return Nil)
    val victims = entries.filter { st =>
      val n = st.getPath.getName
      if (n.matches("\\d{20}\\.json") || n.matches("\\d{20}\\.crc") ||
          n.matches("\\d{20}\\.checkpoint([._].*)?\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.json"))
        n.take(20).toLong < k
      else if (n.matches("\\d{20}\\.\\d{20}\\.compacted\\.json"))
        n.slice(21, 41).toLong < k
      else false
    }
    // the vacuum reclaim path: inline under 64 victims, executor-
    // parallel above — a year of minute-commits is ~500k files, and
    // driver-sequential deletes at object-store latency would turn the
    // "best-effort after checkpoint" hook into a half-hour stall
    vacuumReclaimPaths(spark, log, victims.map(_.getPath.getName),
      dryRun = false, checkExists = false)
    victims.map(_.getPath.getName).sorted
  }

  /** `delta.targetFileSize` in bytes (default 1 GiB) — the sizing knob
    * optimizeWrite coalesces toward and autoCompact counts debt
    * against (a file under half of it is "small").
    */
  private def targetFileSizeOf(conf: Map[String, String]): Long = {
    // delta-spark stores the property as a byte string (parsed with
    // byteStringAsBytes) — plain digits OR digits with a binary unit
    // suffix ("100mb", "1g"); a foreign table using the suffixed form
    // must compact, not throw
    val t = conf.get("delta.targetFileSize").map(parseByteString).getOrElse(1L << 30)
    require(t > 0, s"delta.targetFileSize must be positive, got $t")
    t
  }

  private val byteStringRe = "(?i)^([0-9]+)\\s*([a-z]*)$".r

  /** `byteStringAsBytes` semantics: digits plus an optional
    * case-insensitive binary suffix (b, k/kb, m/mb, g/gb, t/tb, p/pb).
    */
  private[graft] def parseByteString(s: String): Long = {
    s.trim match {
      case byteStringRe(num, suf) =>
        val mult = suf.toLowerCase match {
          case "" | "b"  => 1L
          case "k" | "kb" => 1L << 10
          case "m" | "mb" => 1L << 20
          case "g" | "gb" => 1L << 30
          case "t" | "tb" => 1L << 40
          case "p" | "pb" => 1L << 50
          case o => throw new IllegalArgumentException(
            s"delta.targetFileSize: unknown byte suffix '$o' in '$s'")
        }
        java.lang.Math.multiplyExact(num.toLong, mult)
      case o => throw new IllegalArgumentException(
        s"delta.targetFileSize: unparseable byte string '$o'")
    }
  }

  /** optimizeWrite's staged-partition fold: within each staged
    * directory, files BIN-PACK into bins of ≤ target bytes (greedy in
    * task order — [[rewriteBins]]' shape) and each multi-file bin
    * rewrites as ONE coalesce(1) job, jobs submitted concurrently
    * from a bounded driver pool. No shuffle anywhere: a repartition
    * fold would pay a network exchange of the batch AND spread
    * range-local rows round-robin across outputs, widening every
    * folded file's stats envelope to the whole batch. Each bin's read
    * lists LEAF files explicitly, so no partition-type inference can
    * reinterpret `col=value` directory names; single-file bins are
    * left in place untouched.
    */
  private def optimizeWriteFold(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                                stage: org.apache.hadoop.fs.Path,
                                staged: Seq[org.apache.hadoop.fs.FileStatus],
                                target: Long,
                                leafSchema: org.apache.spark.sql.types.StructType): Unit = {
    val folds = staged.groupBy(_.getPath.getParent).toSeq.flatMap { case (parent, fsts) =>
      binPack(fsts.sortBy(_.getPath.getName), target)(_.getLen)
        .filter(_.size > 1).map(parent -> _)
    }
    boundedParMap(folds, 8) { case (parent, fsts) =>
      val tmp = new org.apache.hadoop.fs.Path(stage,
        s".ow_${java.util.UUID.randomUUID().toString.take(8)}")
      // read under the declared leaf schema (keeps field-id
      // metadata the parquet reader would drop) and write with
      // field-id emission matching the original staging write
      val fsess = fieldIdSession(spark, leafSchema)
      fsess.read.schema(leafSchema)
        .parquet(fsts.map(_.getPath.toString): _*).coalesce(1)
        .write.parquet(tmp.toString)
      val outs = fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      require(outs.nonEmpty, "optimizeWrite fold wrote no files")
      fsts.foreach(st => require(fs.delete(st.getPath, false),
        s"optimizeWrite: delete ${st.getPath} failed"))
      outs.foreach(o => require(fs.rename(o, new org.apache.hadoop.fs.Path(parent, o.getName)),
        s"optimizeWrite: rename $o failed"))
      fs.delete(tmp, true)
    }
  }

  /** Greedy bin-packing in input order: a bin closes when the next
    * item would push it past `target` (an item larger than `target`
    * gets a bin of its own).
    */
  private def binPack[A](xs: Seq[A], target: Long)(size: A => Long): Seq[Seq[A]] = {
    val bins = Seq.newBuilder[Seq[A]]
    var bin = Vector.empty[A]
    var bytes = 0L
    xs.foreach { x =>
      if (bin.nonEmpty && bytes + size(x) > target) {
        bins += bin
        bin = Vector.empty
        bytes = 0L
      }
      bin :+= x
      bytes += size(x)
    }
    if (bin.nonEmpty) bins += bin
    bins.result()
  }

  /** `f` over `xs` on a bounded driver thread pool (at most `width`
    * threads — the per-bin write jobs and per-file footer reads the
    * writers fan out), results in input order; the first failure
    * rethrows once every task has finished.
    */
  private def boundedParMap[A, B](xs: Seq[A], width: Int)(f: A => B): Seq[B] =
    if (xs.isEmpty) Nil
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(width, xs.size))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(xs.map(x => new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        }).asJava).asScala.toSeq.map(_.get())
      } finally pool.shutdown()
    }

  /** autoCompact's trigger: when any partition holds >= minNumFiles
    * files under target/2, fold exactly the small files
    * ([[compactDelta]] with the `smallerThan` candidate filter — cost
    * ∝ debt, converged partitions untouched). The fold runs
    * [[compactDelta]]'s own gate; [[commitFiles]] logs a refusal (or
    * any other failure) and leaves the debt, since the APPEND already
    * committed and failing it retroactively for optional maintenance
    * would be a lie.
    */
  private def autoCompactMaybe(spark: SparkSession, dir: String,
                               conf: Map[String, String]): Unit = {
    val target = targetFileSizeOf(conf)
    val minN = spark.conf.get("spark.graft.delta.autoCompact.minNumFiles", "32").toInt
    val snap = DeltaReader.snapshot(spark, dir, None)
    val debt = snap.active.filter(_.size < target / 2).groupBy(_.partitionValues)
    if (debt.values.exists(_.size >= minN))
      compactDelta(spark, dir, minFiles = minN, targetFileBytes = target,
        operation = "auto compact", smallerThan = Some(target / 2), snapOverride = Some(snap))
  }

  /** Newest committed version in the log (-1 if none). */
  private def newestCommitVersion(fs: org.apache.hadoop.fs.FileSystem,
                                  log: org.apache.hadoop.fs.Path): Long =
    fs.listStatus(log).iterator.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong)
      .foldLeft(-1L)(math.max)

  /** Winner-commit actions that invalidate a pure append's read set
    * (metadata, protocol, domain metadata — the row-id watermark rides
    * there — and transaction identifiers, whose per-app ordering a
    * blind rebase could violate). File actions are benign: an append
    * adds fresh files and reads none, so concurrent adds AND removes
    * are disjoint from it by construction.
    */
  private def appendConflicts(fs: org.apache.hadoop.fs.FileSystem,
                              log: org.apache.hadoop.fs.Path, v: Long): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = new org.apache.hadoop.fs.Path(log, f"$v%020d.json")
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(rd.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).flatMap { line =>
        val root = om.readTree(line)
        Seq("metaData", "protocol", "domainMetadata", "txn").filter(root.has)
          .map(kind => s"version $v carries $kind")
      }.toSeq
    finally rd.close()
  }

  /** Winner-commit removes that invalidate a maintenance rewrite's
    * read set (the maintenance-rebase check — only consulted AFTER
    * [[appendConflicts]] found no metadata-class action): a remove of
    * a file this rewrite folds means its rows were deleted or re-laid
    * out by the winner, and re-committing the staged rewrite would
    * resurrect them. Winner ADDS are benign for a layout rewrite —
    * fresh rows live in files it never touches.
    */
  private def maintenanceRemoveConflicts(fs: org.apache.hadoop.fs.FileSystem,
                                         log: org.apache.hadoop.fs.Path, w: Long,
                                         removes: Set[String]): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = new org.apache.hadoop.fs.Path(log, f"$w%020d.json")
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(rd.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).flatMap { line =>
        val root = om.readTree(line)
        Option(root.get("remove")).map(_.get("path").asText())
          .filter(removes.contains)
          .map(p0 => s"version $w removed '$p0', which this rewrite folds")
      }.toSeq
    finally rd.close()
  }

  /** Winner-commit file actions that invalidate a predicate mutation's
    * read set (the mutation-rebase check — only consulted AFTER
    * [[appendConflicts]] found no metadata-class action): a remove of
    * a file the mutation rewrites is a write-write conflict, and a
    * dataChange add whose stats/partition envelope MAY hold
    * predicate-matching rows invalidates the find phase (those rows
    * did not exist when it ran). May-match counts as conflict — the
    * same conservative three-valued pruner reads skip files with.
    */
  private def mutationConflicts(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                log: org.apache.hadoop.fs.Path, w: Long,
                                snap: DeltaReader.Snapshot, predicate: String,
                                readFiles: Set[String]): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = new org.apache.hadoop.fs.Path(log, f"$w%020d.json")
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    val (removedHits, newAdds) =
      try {
        val removed = scala.collection.mutable.ArrayBuffer.empty[String]
        val adds = scala.collection.mutable.ArrayBuffer.empty[DeltaReader.AddFile]
        Iterator.continually(rd.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).foreach { line =>
            val root = om.readTree(line)
            if (root.has("remove")) {
              val path = root.get("remove").get("path").asText()
              if (readFiles.contains(path)) removed += path
            }
            if (root.has("add")) {
              val a = root.get("add")
              if (a.get("dataChange") != null && a.get("dataChange").asBoolean()) {
                val pv = Option(a.get("partitionValues")).map { n =>
                  import scala.jdk.CollectionConverters._
                  n.fields().asScala.map { e =>
                    e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
                  }.toMap
                }.getOrElse(Map.empty[String, String])
                adds += DeltaReader.AddFile(a.get("path").asText(), pv,
                  stats = Option(a.get("stats")).filterNot(_.isNull).map(_.asText()))
              }
            }
          }
        (removed.toSeq, adds.toSeq)
      } finally rd.close()
    val removeConf = removedHits.map(p0 =>
      s"version $w removed '$p0', which this mutation rewrites")
    val addConf =
      if (newAdds.isEmpty) Nil
      else {
        val mayMatch = DeltaStats.prune(spark, newAdds, predicate, snap)
        if (mayMatch.isEmpty) Nil
        else Seq(s"version $w added ${mayMatch.size} file(s) that may hold rows " +
          s"matching ($predicate)")
      }
    removeConf ++ addConf
  }

  /** Scope a maintenance rewrite to the partitions matching `where` —
    * the predicate may reference PARTITION columns only (a data-column
    * predicate cannot scope whole files; stats-based skipping belongs
    * to reads). Partition strings cast to their declared types, then
    * one tiny local-relation filter picks the matching groups — at
    * 100 TB this is what makes OPTIMIZE usable at all: you compact
    * yesterday's partitions nightly, never the whole table.
    */
  private def partitionScope(spark: SparkSession, snap: DeltaReader.Snapshot,
                             files: Seq[DeltaReader.AddFile], where: String,
                             op: String): Seq[DeltaReader.AddFile] = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    require(snap.partCols.nonEmpty,
      s"$op: WHERE scopes partitions, but the table is unpartitioned — drop the clause")
    val refs = spark.sessionState.sqlParser.parseExpression(where).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.mkString(".")
    }.distinct
    val bad = refs.filterNot(r => snap.partCols.exists(_.equalsIgnoreCase(r)))
    require(bad.isEmpty,
      s"$op: WHERE may reference only partition columns (${snap.partCols.mkString(", ")})" +
        s"; got ${bad.mkString(", ")}")
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    val typeFor = table.fields.map(f => f.name -> f.dataType).toMap
    val keys = files.map(_.partitionValues).distinct.zipWithIndex
    val schema = StructType(StructField("__i", IntegerType) +:
      snap.partCols.map(c => StructField(c, StringType)))
    val rows = keys.map { case (pv, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: snap.partCols.map(c => pv.getOrElse(c, null)))
    }
    import scala.jdk.CollectionConverters._
    val typed = spark.createDataFrame(rows.asJava, schema)
      .select((col("__i") +: snap.partCols.map(c =>
        col(c).cast(typeFor(c)).as(c))).toIndexedSeq: _*)
    val keep = typed.where(expr(where)).select("__i").collect().map(_.getInt(0)).toSet
    val keptPv = keys.collect { case (pv, i) if keep(i) => pv }.toSet
    files.filter(f => keptPv(f.partitionValues))
  }

  /** Compaction (the OPTIMIZE maintenance op; also REORG PURGE,
    * autoCompact, SQL OPTIMIZE/REORG and [[TableMaintenance]]): in every
    * partition holding at least `minFiles` candidate files, the
    * candidates fold into files of ≤ `targetFileBytes`, committed as
    * adds + removes with `dataChange = false` — the snapshot's ROWS are
    * untouched, only their file layout changes, so a streaming reader
    * skips the commit. A micro-batch sink leaves one file per batch per
    * partition, and a 100 TB table pays per-file open cost forever
    * unless someone folds the history (`Similarity.compactAnnIndex`
    * folds the ANN code table through it).
    *
    * Candidates: the live files, scoped to the partitions matching
    * `where` ([[partitionScope]]); with `dvOnly` (REORG PURGE) only
    * files carrying a deletion vector, so cost ∝ DV debt; with
    * `smallerThan` (autoCompact) only files below it, so a converged
    * partition of target-sized files never re-folds.
    *
    * The maintenance path shared with [[removeColumnMapping]]: the
    * [[requireRewritable]] gate, the bin-packed rewrite of
    * [[rewriteBins]] (DV-applied scan, so a fold holds exactly its
    * inputs' live rows; column-mapped tables re-stage physical names
    * and field ids; preserved-profile row ids ride the materialized
    * columns, fresh shadowed baseRowIds satisfy the every-add
    * invariant), and [[commitFiles]]' commit, whose maintenance tier
    * rebases a compaction that lost the version race past winners
    * whose removes are disjoint from its inputs (row-tracked rewrites
    * refuse instead: their watermark is version-dependent).
    *
    * Time travel to PRE-compaction versions still replays the removed
    * files (tombstones do not delete data files); the earliest version
    * at which retention may physically delete them is an operator
    * decision, exactly as the protocol intends.
    */
  def compactDelta(spark: SparkSession, dir: String, minFiles: Int = 2,
                   targetFileBytes: Long = 1L << 30,
                   where: Option[String] = None,
                   dvOnly: Boolean = false,
                   operation: String = "OPTIMIZE",
                   smallerThan: Option[Long] = None,
                   snapOverride: Option[DeltaReader.Snapshot] = None): Unit = {
    require(targetFileBytes > 0, s"compactDelta: targetFileBytes $targetFileBytes")
    // snapOverride = a snapshot the caller already holds (autoCompact's;
    // the OCC test seam, appendDeltaWithSnapshot's pattern)
    val snap = snapOverride.getOrElse(DeltaReader.snapshot(spark, dir, None))
    val cm = requireRewritable(snap, "compactDelta")
    val scoped = where.map(partitionScope(spark, snap, snap.active, _, "compactDelta"))
      .getOrElse(snap.active)
    val candidates = scoped.filter(f =>
      (!dvOnly || f.dv.nonEmpty) && smallerThan.forall(f.size < _))
    val groups = candidates.groupBy(_.partitionValues).filter(_._2.size >= minFiles)
    if (groups.isEmpty) return
    val table = tableSchema(snap)
    val physMap = physNameMap(table, cm, "compactDelta")
    val dataTable = org.apache.spark.sql.types.StructType(
      table.fields.filterNot(f => snap.partCols.contains(f.name)))
    // the new adds keep each group's partitionValues as the log keys
    // them (physical on mapped tables), in partition-column order
    val physPart = snap.partCols.map(c => physMap.getOrElse(c, c))
    val (staged, stage) = rewriteBins(spark, dir, snap,
      groups.toSeq.map { case (pv, files) => (pv.toSeq.sortBy(kv => physPart.indexOf(kv._1)), files) },
      targetFileBytes, "compact", "compactDelta",
      rows => fieldIdStaged(stagePhysicalRows(rows, dataTable, cm, physMap, "compactDelta")))
    commitFiles(spark, dir, snap.version + 1, staged, stage,
      extraActions = groups.values.flatten.toSeq.sortBy(_.path).map(removeLine(_, dataChange = false)),
      addDataChange = false, operation = operation, rowIdBase = RowTracking.rowIdBase(snap),
      ictConf = snap.configuration, statsSchema = Some(table))
  }

  /** The gate of every dataChange=false rewrite (compaction, z-order
    * and cluster OPTIMIZE, column-mapping removal): refuses with
    * [[rewriteRefusal]]. Returns the column-mapping mode.
    */
  private def requireRewritable(snap: DeltaReader.Snapshot, op: String): String = {
    val refusal = rewriteRefusal(snap, op)
    require(refusal.isEmpty, refusal.get)
    snap.configuration.getOrElse("delta.columnMapping.mode", "none")
  }

  /** Why the dataChange=false rewrite `op` of `snap` must refuse, None
    * when it may run: [[requireMutable]]'s refusal (a rewrite re-states
    * existing rows, so it refuses no more than an append does) and a
    * row-tracked table without the preserved profile (watermark and
    * materialized-column names), where the rewrite would silently
    * re-identify every row — both, joined, when both hold.
    * [[TableMaintenance]] reports it as its compaction skip.
    */
  private[graft] def rewriteRefusal(snap: DeltaReader.Snapshot, op: String): Option[String] = {
    val unpreserved =
      if (!RowTracking.enabled(snap) || RowTracking.preservedProfileReady(snap)) None
      else Some(s"$op: row tracking is declared without the preserved profile (watermark " +
        "and materialized-column names; enableRowTracking backfill missing) — a " +
        "dataChange=false rewrite would silently re-identify every row; refusing")
    val reasons = mutableRefusal(snap, op, removesRows = false).toSeq ++ unpreserved
    if (reasons.isEmpty) None else Some(reasons.mkString("; "))
  }

  /** The bin-packed rewrite of [[compactDelta]] and
    * [[removeColumnMapping]]. `groups` pairs the partitionValues the
    * new adds carry (directory order) with the live files they fold.
    * Each group's files, in path order (write order, so time/range
    * locality carries into the outputs' min/max envelopes), bin-pack
    * into bins of ≤ `target` bytes, and each bin rewrites as ONE
    * coalesce(1) job, jobs submitted concurrently from a bounded driver
    * pool — delta-spark's OPTIMIZE shape, with no exchange anywhere:
    * OPTIMIZE concatenates files, it never pays a network shuffle of
    * every folded byte (at 100 TB the shuffle IS the cost), and a
    * shuffle would randomize the per-file stats envelopes data skipping
    * lives off. (A union of coalesce(1) branches is NOT equivalent: the
    * optimizer collapses it to one partition.)
    *
    * A bin reads the DV-applied scan of its files with the partition
    * columns dropped (the layout keeps them directory-encoded); on the
    * preserved row-tracking profile each row's effective id rides along
    * under the materialized column names. `restage` maps a bin's rows
    * to their written shape. Returns the staged files, each with its
    * on-disk destination
    * `<col=value dirs>/part-<prefix>-<version>-g<i>-<j>-<attempt>.parquet`
    * (the attempt token keeps writers racing one version apart) and its
    * partitionValues, plus the stage directory — [[commitFiles]]' input.
    */
  private def rewriteBins(spark: SparkSession, dir: String, snap: DeltaReader.Snapshot,
                          groups: Seq[(Seq[(String, String)], Seq[DeltaReader.AddFile])],
                          target: Long, prefix: String, op: String,
                          restage: DataFrame => DataFrame): (Seq[StagedFile], org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val matCols =
      if (RowTracking.preservedProfileReady(snap)) RowTracking.materializedCols(snap) else None
    matCols.foreach { case (idc, vc) =>
      val table = tableSchema(snap)
      Seq(idc, vc).foreach(c => require(!table.fieldNames.contains(c),
        s"$op: materialized row-id column name '$c' collides with a table column — " +
          "repair the table configuration"))
    }
    def scanOf(files: Seq[DeltaReader.AddFile]): DataFrame = (matCols match {
      case Some((idc, vc)) =>
        DeltaReader.scanFilesWithRowIds(spark, dir, snap, files)
          .withColumnRenamed("_row_id", idc)
          .withColumnRenamed("_row_commit_version", vc)
      case None => DeltaReader.scanFiles(spark, dir, snap, files)
    }).drop(snap.partCols: _*)
    val version = snap.version + 1
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val stage = new org.apache.hadoop.fs.Path(root, s"_${prefix}_${version}_$attempt")
    val ordered = groups.map { case (pv, files) => (pv, files.sortBy(_.path)) }
      .sortBy(_._2.head.path)
    val bins = ordered.zipWithIndex.flatMap { case ((_, files), i) =>
      binPack(files, target)(_.size).zipWithIndex.map { case (b, j) =>
        (new org.apache.hadoop.fs.Path(stage, s"g$i/b$j"), b)
      }
    }
    boundedParMap(bins, 8) { case (out, b) =>
      restage(scanOf(b)).coalesce(1).write.parquet(out.toString)
    }
    val staged = ordered.zipWithIndex.flatMap { case ((pv, _), i) =>
      val outs = fs.listStatus(new org.apache.hadoop.fs.Path(stage, s"g$i"))
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(st => st.getPath.getName.startsWith("part-") && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
      require(outs.nonEmpty, s"$op: rewrite wrote no files")
      val relDir = partitionDirOf(pv)
      outs.toSeq.zipWithIndex.map { case (st, j) =>
        val name = s"part-$prefix-$version-g$i-$j-$attempt.parquet"
        StagedFile(st, if (relDir.isEmpty) name else s"$relDir/$name", pv)
      }
    }
    (staged, stage)
  }

  /** `REORG TABLE ... APPLY (PURGE)` — materialize deletion-vector
    * debt: rewrite ONLY the live files that carry a DV (their
    * DV-applied survivors become clean files, dataChange=false), so a
    * later [[dropFeature]]("deletionVectors") finds no trace. Cost is
    * ∝ DV'd files, never table size — the purge a 100-TB table runs
    * after a merge-on-read campaign touches exactly the files that
    * campaign marked. `where` scopes to partitions like OPTIMIZE.
    * No-op (no commit) when nothing carries a DV.
    */
  def reorgPurge(spark: SparkSession, dir: String,
                 where: Option[String] = None): Unit =
    compactDelta(spark, dir, minFiles = 1, where = where, dvOnly = true,
      operation = "REORG")

  /** `ALTER TABLE ... DROP FEATURE f [TRUNCATE HISTORY]` — the
    * protocol DOWNGRADE path (the one direction [[upgradeProtocol]]
    * refuses): restate the protocol WITHOUT `f` once the table carries
    * no trace of it. Supported:
    *
    *  - `deletionVectors` (reader+writer): refuses while any live file
    *    carries a DV ([[reorgPurge]] first) or the enablement config is
    *    still set — and, because HISTORICAL versions still hold DV
    *    actions a downgraded foreign reader would misread, requires
    *    `truncateHistory = true`, which authors a CLASSIC CHECKPOINT at
    *    the drop commit so replay from it never crosses a DV action
    *    (graft's stand-in for the protocol's checkpoint-protection
    *    dance; time travel below the drop stays readable to graft,
    *    which always understands DVs).
    *  - `clustering` (writer-only): drops the `delta.clustering`
    *    domain in the same commit when present; no reader impact, no
    *    history truncation needed.
    *
    * Anything else refuses loudly — dropping a feature whose trace
    * this writer cannot verify absent (rowTracking's materialized ids,
    * identity watermarks, CM physical names) would corrupt the table's
    * contract.
    */
  def dropFeature(spark: SparkSession, dir: String, feature: String,
                  truncateHistory: Boolean = false): Unit = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    require(snap.minWriter == 7,
      s"dropFeature: table's protocol (${snap.minReader}, ${snap.minWriter}) is the " +
        "legacy form — it declares no feature list to drop from")
    require(snap.writerFeatures.contains(feature) ||
      snap.readerFeatures.contains(feature),
      s"dropFeature: table does not declare '$feature' (writer: " +
        s"${snap.writerFeatures.mkString(", ")}; reader: " +
        s"${snap.readerFeatures.mkString(", ")})")
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    var restateConf: Option[Map[String, String]] = None
    feature match {
      case "deletionVectors" =>
        val dvd = snap.active.count(_.dv.nonEmpty)
        require(dvd == 0,
          s"dropFeature(deletionVectors): $dvd live file(s) still carry deletion " +
            "vectors — REORG TABLE ... APPLY (PURGE) first")
        require(truncateHistory,
          "dropFeature(deletionVectors): historical versions hold DV actions a " +
            "downgraded reader would misread — pass truncateHistory=true (SQL: " +
            "DROP FEATURE deletionVectors TRUNCATE HISTORY) to checkpoint past them")
        if (snap.configuration.get("delta.enableDeletionVectors").contains("true"))
          restateConf = Some(snap.configuration - "delta.enableDeletionVectors")
      case "clustering" =>
        if (Clustering.isClustered(snap)) actions += Clustering.domainAction(Nil)
      case "vacuumProtocolCheck" =>
        // mandates vacuum-time protocol checks only — no trace in data
        // files, actions or configuration, so the drop is always clean
        ()
      case "timestampNtz" =>
        require(!hasNtz(tableSchema(snap)),
          "dropFeature(timestampNtz): the current schema still carries a " +
            "TIMESTAMP_NTZ column — drop or widen it away first")
        require(truncateHistory,
          "dropFeature(timestampNtz): historical versions may declare NTZ " +
            "schemas a downgraded reader would misread as UTC instants — pass " +
            "truncateHistory=true to checkpoint past them")
      case other => throw new IllegalArgumentException(
        s"dropFeature: '$other' is not droppable by this writer — only " +
          "deletionVectors, clustering, vacuumProtocolCheck and timestampNtz " +
          "have verifiable no-trace checks")
    }
    val rf = snap.readerFeatures.filterNot(_ == feature)
    // TRUNCATE HISTORY protects the boundary (PROTOCOL.md's
    // checkpointProtection feature): the SAME drop commit declares it
    // and stamps delta.requireCheckpointProtectionBeforeVersion = the
    // drop version, then authors the checkpoint AT that version.
    // From then on graft's reader refuses a from-JSON replay that
    // CROSSES the boundary (the history below it holds the dropped
    // feature's actions) and graft's writers never author a
    // checkpoint below it — which closes the one reader shape the
    // checkpoint-at-drop stand-in left exposed: a from-version-0 JSON
    // replayer that ignores checkpoints.
    val dropVersion = snap.version + 1
    val wf = snap.writerFeatures.filterNot(_ == feature) ++
      (if (truncateHistory) Seq("checkpointProtection") else Nil)
    // reader version falls out of the remaining reader features
    val minReader =
      if (rf.nonEmpty) 3
      else if (snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none") 2
      else 1
    actions += protocolLine(minReader, 7, rf, wf)
    val confOut: Option[Map[String, String]] =
      if (!truncateHistory) restateConf
      else Some(restateConf.getOrElse(snap.configuration) +
        ("delta.requireCheckpointProtectionBeforeVersion" -> dropVersion.toString))
    confOut.foreach(conf =>
      actions += metaLineRaw(dir, snap, snap.schemaJson, snap.partCols, conf))
    commitLog(spark, snap, dir, "DROP FEATURE", confOut.getOrElse(snap.configuration),
      actions.toSeq, operationParameters = s"""{"feature":${jsonMapper.writeValueAsString(feature)}}""")
    // the boundary checkpoint: a full checkpoint AT the drop version —
    // replay from it never crosses the dropped feature's historical
    // actions. Authoring it is the ONE legitimate from-JSON snapshot
    // across the just-stamped boundary, so it runs on a CLONED session
    // with the repair override set (never the caller's session — the
    // same discipline as fieldIdSession)
    if (truncateHistory) {
      val s2 = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
      s2.conf.set("spark.graft.delta.ignoreCheckpointProtection", "true")
      checkpointDelta(s2, dir, snap.version + 1)
    }
  }

  /** Stage `df` (the table's PHYSICAL columns + `_change_type`) as
    * change data files for commit `version`: parquet staged to a temp
    * dir, moved under `_change_data/` (an underscore prefix, so normal
    * table scans and VACUUM's data walk never see it), one `cdc`
    * action JSON per file returned for the caller to put in the SAME
    * atomic commit. cdc actions carry dataChange=false — they are not
    * part of the table state (PROTOCOL.md) — and their presence tells
    * a CDF reader the commit's change data is COMPLETE, so callers
    * must include EVERY changed row (pre+post images for updates,
    * inserted rows for merges). Partitioned tables stage partitionBy
    * like data files; the cdc action's partitionValues come from the
    * staged directory segments exactly as commitDelta's adds do.
    */
  private def stageCdc(df: DataFrame, dir: String, version: Long,
                       partCols: Seq[String]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val (staged, stage) = stageFiles(df, root, partCols, s"cdc_$version")
    val cdc = staged.map(f => f.copy(rel = s"_change_data/${f.rel}"))
    moveStaged(root.getFileSystem(df.sparkSession.sessionState.newHadoopConf()), root, cdc,
      stage)
    cdc.map { f =>
      s"""{"cdc":{"path":"${percentEncode(f.rel)}","partitionValues":${partitionValuesJson(f.pv)},"size":${f.st.getLen},"dataChange":false}}"""
    }
  }

  /** True when the snapshot's table declares Change Data Feed — the
    * mutation ops branch on it to stage cdc files in the same commit.
    */
  private def cdfEnabled(snap: DeltaReader.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed").contains("true")

  // ---- the row-level DML funnel: one writer gate, one affected-file
  // resolver, one remove renderer, and the deletion-vector family's
  // shared rewrite, new-file stager and log write ----

  /** The one writer gate of appends, row-level DML and (through
    * [[requireRewritable]]) the dataChange=false rewrites. Returns the
    * table's column-mapping mode after refusing a mode this writer
    * cannot stage. Legacy writer versions through 5 pass: CHECK
    * constraints, invariants and generated columns are enforced on
    * every written row, CDF tables get complete change data and
    * identity/row-tracking state is carried. Version 6 and a v7 table
    * declaring any feature outside the set below refuse. Ops that
    * remove or rewrite rows (`removesRows`) also refuse
    * `delta.appendOnly=true`.
    */
  private def requireMutable(snap: DeltaReader.Snapshot, op: String,
                             removesRows: Boolean): String = {
    val refusal = mutableRefusal(snap, op, removesRows)
    require(refusal.isEmpty, refusal.get)
    snap.configuration.getOrElse("delta.columnMapping.mode", "none")
  }

  /** Why [[requireMutable]] refuses `op` on `snap`, None when it passes. */
  private def mutableRefusal(snap: DeltaReader.Snapshot, op: String,
                             removesRows: Boolean): Option[String] = {
    val cm = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    val safeFeatures = Set("appendOnly", "invariants", "vacuumProtocolCheck", "checkpointProtection", "deletionVectors", "columnMapping",
      "changeDataFeed", "checkConstraints", "generatedColumns", "inCommitTimestamp", "allowColumnDefaults", "typeWidening", "variantType", "variantShredding", "timestampNtz", "v2Checkpoints", IdentityColumns.Feature) ++
      Clustering.Features ++ RowTracking.safeExtra(snap)
    val unsafe = snap.writerFeatures.filterNot(safeFeatures)
    if (cm != "none" && cm != "name" && cm != "id")
      Some(s"$op: unknown column mapping mode '$cm'")
    else if (removesRows && snap.configuration.getOrElse("delta.appendOnly", "false") == "true")
      Some(s"$op: table declares delta.appendOnly=true — $op removes or rewrites rows; " +
        "forbidden on it")
    else if (snap.minWriter > 5 && !(snap.minWriter == 7 && unsafe.isEmpty))
      Some(s"$op: table requires writer version ${snap.minWriter}" +
        (if (unsafe.nonEmpty) s" with features ${unsafe.mkString(", ")}" else "") +
        " — refusing a write whose obligations this writer cannot honor")
    else None
  }

  /** `a`'s data file as the lineage column `__dv_path` names it. */
  private def absPath(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
                      a: DeltaReader.AddFile): String =
    fs.makeQualified(DeltaReader.resolveAddPath(root, a.path)).toUri.getPath

  /** The live files holding the rows of `matches` — a lineage frame
    * (`DeltaReader.scanFiles(keepLineage = true)`) already filtered or
    * joined down to the affected rows. One distributed distinct of
    * `__dv_path` is collected and mapped back to the snapshot's
    * AddFiles, so the driver holds O(affected files) paths and
    * AddFiles, bounded like every snapshot by maxSnapshotFiles. A
    * matched path that resolves to no log entry refuses the commit.
    */
  private def affectedFiles(snap: DeltaReader.Snapshot, root: org.apache.hadoop.fs.Path,
                            fs: org.apache.hadoop.fs.FileSystem, matches: DataFrame,
                            op: String): Seq[DeltaReader.AddFile] = {
    val matchedPaths = matches.select("__dv_path").distinct()
      .collect().map(_.getString(0)).toSet
    if (matchedPaths.isEmpty) Nil
    else {
      val affected = snap.active.filter(a => matchedPaths.contains(absPath(fs, root, a)))
      require(affected.size == matchedPaths.size,
        s"$op: resolved ${affected.size} of ${matchedPaths.size} matched files back to " +
          "log entries — path normalization bug, refusing to commit")
      affected
    }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The `remove` action tombstoning live file `a` (path JSON-escaped;
    * a percent-encoded log path renders verbatim).
    */
  private def removeLine(a: DeltaReader.AddFile, dataChange: Boolean): String =
    s"""{"remove":{"path":${jsonMapper.writeValueAsString(a.path)},"deletionTimestamp":0,"size":${a.size},"dataChange":$dataChange}}"""

  /** The deletion-vector rewrite of deleteWhereDv, updateWhereDv and
    * applyCdcDv. `matches` is a lineage frame holding one row per
    * newly dead (`__dv_path`, `__dv_ridx`) of the `affected` files.
    * Each file's new bitmap is those rows ∪ the rows its existing DV
    * already kills ([[DeltaReader.deletedRowsDf]]) — a descriptor
    * REPLACES its predecessor, so dropping the old rows would
    * resurrect them. Bitmaps are built and written to sidecars on
    * executors ([[writeDvSidecars]]); the driver holds descriptors
    * only. Returns the affected files' removes, then their re-adds
    * with the new descriptors (the protocol's DV shape: remove + add
    * of the same path in one commit), both sorted by path.
    */
  private def dvRewrite(spark: SparkSession, root: org.apache.hadoop.fs.Path,
                        fs: org.apache.hadoop.fs.FileSystem,
                        affected: Seq[DeltaReader.AddFile], matches: DataFrame): Seq[String] = {
    if (affected.isEmpty) return Nil
    val matched = matches.select("__dv_path", "__dv_ridx")
    val withDv = affected.filter(_.dv.isDefined)
    val allDel =
      if (withDv.isEmpty) matched
      else matched.unionByName(DeltaReader.deletedRowsDf(spark, root, fs, withDv))
    val placed = writeDvSidecars(spark, root, allDel)
    val ordered = affected.sortBy(_.path)
    ordered.map(removeLine(_, dataChange = true)) ++ ordered.map { a =>
      val pl = placed(absPath(fs, root, a))
      addLine(a.copy(dv = Some(DeltaReader.DvDescriptor("u", pl.uuidEnc, Some(pl.offset),
        pl.sizeInBytes, pl.cardinality))), dataChange = true)
    }
  }

  /** Stage `rows` (logical shape) as NEW data files of the commit at
    * `snap.version + 1` — updateWhereDv's and applyCdcDv's updated and
    * inserted rows. The rows are written in the table's physical
    * shape and partition layout through [[stageFiles]]; each file moves
    * into its partition directory as
    * `part-<prefix>-<version>-<token>-<i>.parquet` (the stage's writer
    * token keeps two writers racing the same version apart) through
    * [[placeStaged]], with footer stats (identity columns always kept
    * past the stats cap — their watermark is derived from them) and,
    * on row-tracked tables, fresh row ids from `rowIdBase` in sorted
    * file order. Returns the add lines followed by the advanced row-id
    * watermark, and each added file's stats.
    */
  private def stageNewFiles(rows: DataFrame, snap: DeltaReader.Snapshot,
                            table: org.apache.spark.sql.types.StructType, cm: String,
                            phys: Map[String, String], root: org.apache.hadoop.fs.Path,
                            prefix: String, op: String,
                            rowIdBase: Option[Long]): (Seq[String], Seq[Option[String]]) = {
    val version = snap.version + 1
    val (staged, stage) = stageFiles(stagePhysicalRows(rows, table, cm, phys, op), root,
      snap.partCols.map(c => phys.getOrElse(c, c)), s"${prefix}_$version")
    val wtok = stage.getName.takeRight(8)
    val named = staged.zipWithIndex.map { case (f, i) =>
      f.copy(rel = f.rel.take(f.rel.lastIndexOf('/') + 1) +
        s"part-$prefix-$version-$wtok-$i.parquet")
    }
    val idStatCols = IdentityColumns.advanceOf(table, phys)
      .map(_.cols.map(_._2).toSet).getOrElse(Set.empty[String])
    val adds = placeStaged(rows.sparkSession, root, named, stage, snap.configuration,
      idStatCols, Some(table))
    val (rowIdAdds, watermark) = assignRowIds(adds, rowIdBase, version, op)
    (rowIdAdds.map(addLine(_, dataChange = true)) ++ watermark, adds.map(_.stats))
  }

  /** DELETE FROM the Delta table WHERE `predicate` (a SQL boolean
    * expression over the table's LOGICAL columns) — copy-on-write, the
    * protocol's baseline delete: every data file holding at least one
    * matching live row is rewritten without its matching rows, and the
    * rewrite commits atomically as dataChange=true removes + adds.
    * SQL semantics: rows where the predicate is NULL survive, exactly
    * like `DELETE FROM t WHERE p`.
    *
    * Composes with the rest of the table machinery: time travel below
    * the delete still sees the deleted rows (tombstones keep the old
    * files); [[vacuumDelta]] physically reclaims the rewritten files
    * once the horizon passes the delete; [[graft.streaming.DeltaTail]]
    * refuses the delete version loudly (its append-only contract).
    * Deletion-vector tables are handled on the READ side: affected
    * files rewrite their LIVE rows only and drop the DV; untouched
    * files keep theirs.
    *
    * Scale: ONE distributed job finds affected files (predicate pushed
    * into the scan; a partition-pruning predicate never reads
    * non-matching partitions' data), one rewrites only those files'
    * survivors; driver state is O(affected files), gated by the same
    * maxSnapshotFiles bound as every snapshot. Returns the removed
    * (rewritten) file paths as stored in the log, sorted; empty means
    * nothing matched and NO commit was written.
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: String): Seq[String] =
    deleteWhereWithSnapshot(spark, dir, predicate, DeltaReader.snapshot(spark, dir, None))

  /** [[deleteWhere]] against a caller-supplied snapshot — the seam the
    * OCC spec uses to stage a mutation against stale state and prove
    * the rebase/conflict verdicts (appendDeltaWithSnapshot's pattern).
    */
  private[graft] def deleteWhereWithSnapshot(spark: SparkSession, dir: String,
      predicate: String, snap: DeltaReader.Snapshot): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val cm = requireMutable(snap, "deleteWhere", removesRows = true)
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val pred = expr(predicate)

    // job 1: which files hold at least one matching LIVE row — stats
    // skipping drops files whose min/max/partition envelope cannot
    // match WITHOUT opening them (at 2000 files the find phase went
    // 4.4s -> the matching file's scan alone), then the predicate
    // rides into the distributed scan over the survivors
    val candidates = DeltaStats.prune(spark, snap.active, predicate, snap)
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val affected = affectedFiles(snap, root, fs, lineage.where(pred), "deleteWhere")
    if (affected.isEmpty) return Nil

    // job 2: rewrite ONLY the affected files' surviving rows (their
    // DVs already applied by the scan). NULL-predicate rows survive.
    // On a CDF table the same scan also feeds the deleted-rows change
    // data — persist it so the affected files are read once instead of
    // twice (lazy, no extra job; blocks released after the commit);
    // without CDF the single consumer pipelines.
    val affScan0 = DeltaReader.scanFiles(spark, dir, snap, affected)
    val affScan = if (cdfEnabled(snap)) affScan0.persist() else affScan0
    val survivors = affScan.where(not(coalesce(pred, lit(false))))
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val phys: Map[String, String] =
      if (cm == "none") Map.empty
      else table.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"deleteWhere: column mapping is '$cm' but field '${f.name}' carries no " +
            "physicalName metadata — malformed schemaString")
        f.name -> f.metadata.getString("delta.columnMapping.physicalName")
      }.toMap
    val staged = stagePhysicalRows(survivors, table, cm, phys, "deleteWhere")
    val stagePartCols = snap.partCols.map(c => phys.getOrElse(c, c))
    // CDF: the deleted rows ARE the commit's change data — staged to
    // _change_data in the table's physical layout, committed atomically
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val deletedRows = affScan.where(coalesce(pred, lit(false)))
        val physCdc = stagePhysicalRows(
          deletedRows.withColumn("_change_type", lit("delete")),
          table, cm, phys, "deleteWhere")
        stageCdc(physCdc, dir, snap.version + 1, stagePartCols)
      }
    val removes = affected.map(removeLine(_, dataChange = true))
    commitDelta(staged, dir, snap.version + 1, includeMeta = false,
      checkpointInterval = 0, partCols = stagePartCols,
      extraActions = removes ++ cdcActions, operation = "DELETE",
      operationParameters = s"""{"predicate":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(predicate)}}""",
      rowIdBase = RowTracking.rowIdBase(snap),
      rebase = Some((snap, predicate, affected.map(_.path).toSet)),
      ictConf = snap.configuration, statsSchema = Some(table))
    if (cdfEnabled(snap)) affScan.unpersist(false)
    affected.map(_.path).sorted
  }

  /** Serializable Hadoop-configuration carrier: `Configuration` is a
    * Hadoop Writable but not java-serializable, so tasks that touch
    * the filesystem directly (the executor-side sidecar writers)
    * ship it through this wrapper. Same shape as Spark's own
    * (private) SerializableConfiguration.
    */
  private[graft] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** One file's deletion vector, as placed inside an executor-written
    * sidecar: the sidecar's base85 UUID reference (the add action's
    * `pathOrInlineDv`), the DV's byte offset, its serialized size and
    * its cardinality. Everything the commit's descriptor needs —
    * and nothing bitmap-sized.
    */
  private[graft] final case class DvPlacement(uuidEnc: String, offset: Int,
                                              sizeInBytes: Int, cardinality: Long)

  /** Author deletion-vector sidecars ON EXECUTORS. `allDel` carries
    * one row per dead (`__dv_path`, `__dv_ridx`); the rows group by
    * file (one shuffle on the file path), then each non-empty task
    * partition encodes its files' roaring bitmaps and streams them
    * into ONE sidecar it creates itself (`deletion_vector_<uuid>.bin`
    * at the table root — the protocol allows any number of sidecars
    * per commit, and the reader already decodes shared files at
    * offsets). Only the (path → placement) descriptors return to the
    * driver: driver memory is O(affected files), never ∝ deleted
    * rows, which is what makes a broad scattered DELETE on a 100-TB
    * `enableDeletionVectors` table safe to auto-route here. A retried
    * task re-creates under a FRESH UUID, so the create-if-absent
    * never collides; the superseded attempt's sidecar is unreferenced
    * debris, the same class as a failed writer's staged files (VACUUM
    * keeps only referenced sidecars). Sidecar count is bounded by the
    * shuffle partition count, not the file count.
    */
  private[graft] def writeDvSidecars(spark: SparkSession,
      root: org.apache.hadoop.fs.Path,
      allDel: DataFrame): Map[String, DvPlacement] = {
    import org.apache.spark.sql.functions.{col, collect_list}
    import spark.implicits._
    val rootStr = root.toString
    val hconfB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val descriptors: Array[(String, String, Int, Int, Long)] = allDel
      .groupBy("__dv_path").agg(collect_list(col("__dv_ridx")).as("ridx"))
      .as[(String, Seq[Long])]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val uuid = java.util.UUID.randomUUID()
          val ub = java.nio.ByteBuffer.allocate(16)
          ub.putLong(uuid.getMostSignificantBits)
          ub.putLong(uuid.getLeastSignificantBits)
          val uuidEnc = DeltaReader.base85Encode(ub.array())
          val rootP = new org.apache.hadoop.fs.Path(rootStr)
          val fs = rootP.getFileSystem(hconfB.value.value)
          val dvPath = new org.apache.hadoop.fs.Path(rootP, s"deletion_vector_$uuid.bin")
          val out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(fs.create(dvPath, false), 1 << 16))
          val res = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Int, Int, Long)]
          try {
            out.writeByte(1)
            var offset = 1
            it.foreach { case (p, rs) =>
              val data = DeltaReader.encodeDvBitmap(rs)
              out.writeInt(data.length)
              out.write(data)
              val crc = new java.util.zip.CRC32(); crc.update(data)
              out.writeInt(crc.getValue.toInt)
              res += ((p, uuidEnc, offset, data.length, rs.size.toLong))
              offset += 4 + data.length + 4
            }
          } finally out.close()
          res.iterator
        }
      }.collect()
    descriptors.map { case (p, u, off, sz, card) =>
      p -> DvPlacement(u, off, sz, card)
    }.toMap
  }

  /** DELETE rows matching `predicate` by writing DELETION VECTORS
    * instead of rewriting files — the merge-on-read path PROTOCOL.md's
    * `deletionVectors` feature exists for. [[deleteWhere]] (copy-on-
    * write) re-stages every surviving row of every affected file: on a
    * 100-TB table a targeted deletion (one user's rows, a bad crawl
    * batch) rewrites terabytes to remove kilobytes. This operator's
    * write cost is ∝ DELETED rows: each affected file keeps its bytes
    * and gains a roaring-bitmap descriptor; one shared sidecar `.bin`
    * (the reader's own verified format: version byte 1, per-DV
    * big-endian size + bitmap + CRC-32) lands at the table root and
    * the commit re-adds the files with their descriptors (remove+add
    * of the same path in one commit — the add wins, the protocol's DV
    * rewrite shape).
    *
    * Protocol: a table not yet declaring the feature is upgraded
    * IN-COMMIT to (3,7) with `deletionVectors` added and the legacy
    * writer obligations the table actually declares made explicit
    * ([[restateProtocol]]: appendOnly/invariants always — they are
    * implied by writer v2 — plus constraints, generated and identity
    * columns, CDF and column mapping only when present, so the feature
    * list never claims obligations the table doesn't have).
    * Readers without DV support then refuse loudly instead of
    * resurrecting deleted rows — exactly the protocol's intent.
    *
    * Semantics match [[deleteWhere]]: SQL null predicate rows survive,
    * a no-match predicate writes NO commit (and no sidecar), already-
    * deleted rows stay deleted (the new bitmap is the union of the
    * file's existing DV and the new matches — the lineage scan is
    * post-DV, so the two sets are disjoint by construction), time
    * travel below the delete sees the old rows, and
    * [[graft.streaming.DeltaTail]] refuses the version (dataChange
    * removes). Column-mapped (name mode) tables work: the predicate
    * binds to LOGICAL names through the scan, descriptors are
    * path-keyed. A fully-deleted file keeps its (all-rows) DV rather
    * than being dropped — without per-file row counts the writer
    * cannot prove cardinality == numRecords, and a zero-live-row scan
    * is correct either way. The maintenance ops compose: [[checkpointDelta]]
    * re-emits descriptors, [[compactDelta]] folds DV'd files through
    * the DV-applied scan (dropping the vectors — the physical-cleanup
    * path once DV debt accumulates), and [[vacuumDelta]] keeps exactly
    * the sidecars some window version still references.
    *
    * Scale: two distributed jobs (find matches, build AND WRITE
    * bitmaps — both executor-side; [[writeDvSidecars]] authors the
    * sidecar files from the executors, so no bitmap bytes ever land
    * on the driver). Driver state is O(affected files) descriptors
    * only — a mass scattered delete is driver-safe here; the
    * copy-on-write [[deleteWhere]] remains the physical-cleanup
    * choice when most of a file dies anyway. Returns the affected
    * file paths as stored in the log, sorted; empty = nothing
    * matched.
    */
  def deleteWhereDv(spark: SparkSession, dir: String, predicate: String): Seq[String] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "deleteWhereDv", removesRows = true)

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)

    // job 1: matching LIVE rows' (file, physical row index) — stats
    // skipping first (files whose envelope cannot match never open),
    // then the predicate pushes into the distributed scan; the lineage
    // is post-DV, so an already-deleted row can never re-match
    val candidates = DeltaStats.prune(spark, snap.active, predicate, snap)
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val matchedRows = lineage.where(expr(predicate))
    val affected = affectedFiles(snap, root, fs, matchedRows, "deleteWhereDv")
    if (affected.isEmpty) return Nil

    // CDF: the newly-deleted rows are the commit's complete change data
    // (rows already dead under an existing DV never re-match — the
    // lineage scan is post-DV)
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val phys = physNameMap(table, cm, "deleteWhereDv")
        val logCdc = matchedRows.select((table.fieldNames.map { c =>
          matchedRows.col(c)
        } :+ lit("delete").as("_change_type")).toIndexedSeq: _*)
        stageCdc(stagePhysicalRows(logCdc, table, cm, phys, "deleteWhereDv"),
          dir, snap.version + 1, snap.partCols.map(c => phys.getOrElse(c, c)))
      }

    // job 2: the bitmaps, built AND written to sidecars on executors
    val dvActions = dvRewrite(spark, root, fs, affected, matchedRows)
    commitLog(spark, snap, dir, "DELETE", snap.configuration,
      restateProtocol(snap, snap.configuration, tableSchema(snap),
        readerWriterFeatures = Set("deletionVectors")).toSeq ++ dvActions ++ cdcActions)
    affected.map(_.path).sorted
  }

  /** UPDATE via MERGE-ON-READ (deletion vectors): matched rows are
    * DV-marked dead IN PLACE and their UPDATED versions stage as new
    * small files — ONE atomic commit whose write cost is ∝ UPDATED
    * rows, not the affected files' sizes. [[updateWhere]]'s
    * copy-on-write rewrites whole files to change kilobytes; on a
    * 100-TB table a targeted update (one user's consent flag, a bad
    * crawl batch's score) belongs here, with OPTIMIZE folding the DV
    * debt later — exactly deleteWhereDv's division of labor applied
    * to updates.
    *
    * Semantics match [[updateWhere]]: SET expressions evaluate
    * against the PRE-update row and cast to declared types,
    * NULL-predicate rows untouched, new values verify against the
    * table's declared obligations before the commit, CDF tables stage
    * complete pre/post images, a no-match predicate writes NO commit.
    * The protocol upgrade, bitmap-union-with-existing-DV discipline
    * and shared sidecar layout are deleteWhereDv's. Updated rows land
    * under fresh `part-updv-*` files (partition-laid-out; a SET that
    * moves rows across partitions stages them under their NEW
    * directories). Row-tracked tables compose: the DV'd files keep
    * their `baseRowId` verbatim (surviving rows keep their ids — the
    * merge-on-read property that makes DV mutations id-stable), and
    * the updated rows land as NEW rows with FRESH ids assigned from
    * the watermark in this same atomic commit — the protocol's
    * non-preserving profile, identical to what [[updateWhere]]'s
    * copy-on-write rewrite does to the rows it updates.
    *
    * Scale: the find phase is stats-pruned like every predicate
    * mutation; bitmaps build on executors; driver state is O(affected
    * files). Returns the DV'd file paths, sorted.
    */
  def updateWhereDv(spark: SparkSession, dir: String, predicate: String,
                    set: Map[String, String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(set.nonEmpty, "updateWhereDv: empty SET clause")
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "updateWhereDv", removesRows = true)
    // row tracking: refuses only the half-configured shape (tracking
    // declared, watermark absent) — rowIdBase throws there
    val rowIdBase = RowTracking.rowIdBase(snap)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    IdentityColumns.refuseUpdates(table, set.keySet, "updateWhereDv")
    val badCols = set.keySet -- table.fieldNames.toSet
    require(badCols.isEmpty,
      s"updateWhereDv: SET targets ${badCols.mkString(", ")} not in the table schema " +
        s"(${table.fieldNames.mkString(", ")})")

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)

    // find phase: matching LIVE rows' (file, row index) + full columns
    val candidates = DeltaStats.prune(spark, snap.active, predicate, snap)
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val matchedRows = lineage.where(expr(predicate))
    val affected = affectedFiles(snap, root, fs, matchedRows, "updateWhereDv")
    if (affected.isEmpty) return Nil

    // the updated rows — SET over the pre-update values, obligations
    // verified, CM physical naming, declared partition layout
    val updated0 = matchedRows.select(table.fields.map { f =>
      set.get(f.name).map(e => expr(e).cast(f.dataType)).getOrElse(col(f.name))
        .as(f.name)
    }.toIndexedSeq: _*)
    val updated = enforceObligations(updated0, snap, table, "updateWhereDv")
    val phys = physNameMap(table, cm, "updateWhereDv")

    // CDF: complete pre/post images of exactly the matched rows
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val pre = matchedRows
          .select((table.fieldNames.map(c => matchedRows.col(c)) :+
            lit("update_preimage").as("_change_type")).toIndexedSeq: _*)
        val post = updated.withColumn("_change_type", lit("update_postimage"))
        stageCdc(stagePhysicalRows(pre.unionByName(post), table, cm, phys,
          "updateWhereDv"), dir, snap.version + 1, snap.partCols.map(c => phys.getOrElse(c, c)))
      }

    val dvActions = dvRewrite(spark, root, fs, affected, matchedRows)
    val (newAdds, _) = stageNewFiles(updated, snap, table, cm, phys, root, "updv",
      "updateWhereDv", rowIdBase)
    commitLog(spark, snap, dir, "UPDATE", snap.configuration,
      restateProtocol(snap, snap.configuration, table,
        readerWriterFeatures = Set("deletionVectors")).toSeq ++
        dvActions ++ newAdds ++ cdcActions)
    affected.map(_.path).sorted
  }

  /** CDC APPLY via MERGE-ON-READ — the replication fold with
    * deletion-vector economics: `changes` is a KEY-UNIQUE batch of the
    * table's columns plus `_change_type` ('delete' kills the key,
    * anything else upserts its values). Matched target rows — update
    * victims and deletes alike — are DV-marked dead IN PLACE; the
    * updated versions and the inserts stage as fresh `part-cdc-*`
    * files; ONE atomic commit with complete CDF change data. Write
    * cost ∝ CHANGED rows: a replication batch touching 100 keys on a
    * 100-TB table writes kilobytes of bitmap + the 100 new rows,
    * where the copy-on-write fold ([[mergeIntoClauses]]) rewrites
    * every file holding a matched key. The streaming cdcApply sink
    * routes here automatically when the target declares
    * `delta.enableDeletionVectors=true`.
    *
    * Same contracts as the DV family: protocol upgrade in-commit,
    * bitmap union with existing DVs, shared sidecar, obligations
    * verified on every staged row, a delete for an absent key no-ops,
    * an all-absent batch with no live rows still commits its inserts.
    * Row-tracked tables compose the way [[updateWhereDv]] does: DV'd
    * files carry their `baseRowId` verbatim (surviving rows keep
    * their ids), staged rows — updated versions and inserts alike —
    * take FRESH ids from the watermark advanced in this commit (the
    * non-preserving profile, matching the copy-on-write fold). Find
    * phase stats-prunes by the batch's key range (single-key) before
    * the semi-join. Returns the DV'd file paths, sorted.
    */
  def applyCdcDv(spark: SparkSession, dir: String, changes: DataFrame,
                 keyCols: Seq[String],
                 txn: Option[(String, Long)] = None): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keyCols.nonEmpty, "applyCdcDv: empty key column list")
    require(changes.columns.contains("_change_type"),
      "applyCdcDv: the batch must carry _change_type ('delete' or upsert)")
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "applyCdcDv", removesRows = true)
    // row tracking: refuses only the half-configured shape (tracking
    // declared, watermark absent) — rowIdBase throws there
    val rowIdBase = RowTracking.rowIdBase(snap)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val missing = table.fieldNames.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"applyCdcDv: the batch lacks table columns ${missing.mkString(", ")}")
    val dupKeys = changes.groupBy(keyCols.map(col): _*)
      .count().where(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      "applyCdcDv: the batch carries duplicate keys — fold to the last change per " +
        "key first (the cdcApply sink does)")

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)

    // find phase: live rows whose key appears in the batch — stats
    // prune by the batch's key range first, then the semi-join
    val candidates =
      if (keyCols.size != 1) snap.active
      else {
        val k = keyCols.head
        val r = changes.agg(org.apache.spark.sql.functions.min(col(k)),
          org.apache.spark.sql.functions.max(col(k))).head()
        (r.get(0), r.get(1)) match {
          case (mn: Number, mx: Number) =>
            DeltaStats.prune(spark, snap.active, s"$k >= $mn AND $k <= $mx", snap)
          case _ => snap.active
        }
      }
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val srcRen = changes.select((keyCols.map(col) ++
      table.fieldNames.filterNot(keyCols.contains).map(c => col(c).as(s"__s_$c")) :+
      col("_change_type").as("__op")).toIndexedSeq: _*)
    val joined = lineage.join(srcRen, keyCols.toSeq, "inner")
    val affected = affectedFiles(snap, root, fs, joined, "applyCdcDv")

    // the staged rows: updated versions of matched upserts + inserts
    // of unmatched non-deletes
    def srcVal(f: org.apache.spark.sql.types.StructField,
               from: DataFrame): org.apache.spark.sql.Column =
      (if (keyCols.contains(f.name)) from.col(f.name)
       else from.col(s"__s_${f.name}")).cast(f.dataType).as(f.name)
    val updatedRows = joined.where(col("__op") =!= "delete")
      .select(table.fields.map(f => srcVal(f, joined)).toIndexedSeq: _*)
    val matchedKeys = joined.select(keyCols.map(col): _*).distinct()
    val insertsRen = srcRen.join(matchedKeys, keyCols.toSeq, "left_anti")
      .where(col("__op") =!= "delete")
    val inserts = insertsRen
      .select(table.fields.map(f => srcVal(f, insertsRen)).toIndexedSeq: _*)
    val written = enforceObligations(updatedRows.unionByName(inserts), snap, table,
      "applyCdcDv")
    if (affected.isEmpty && written.isEmpty) return Nil

    val phys = physNameMap(table, cm, "applyCdcDv")

    // CDF: deletes' preimages, updates' pre/post, inserts — complete
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        def img(df: DataFrame, kind: String): DataFrame =
          df.select((table.fieldNames.map { c =>
            df.col(c)
          } :+ lit(kind).as("_change_type")).toIndexedSeq: _*)
        val delPre = img(joined.where(col("__op") === "delete"), "delete")
        val updPre = img(joined.where(col("__op") =!= "delete"), "update_preimage")
        val updPost = img(updatedRows, "update_postimage")
        val ins = img(inserts, "insert")
        stageCdc(stagePhysicalRows(
          delPre.unionByName(updPre).unionByName(updPost).unionByName(ins),
          table, cm, phys, "applyCdcDv"),
          dir, snap.version + 1, snap.partCols.map(c => phys.getOrElse(c, c)))
      }

    // DV bitmaps over every matched row (update victims + deletes); an
    // all-insert batch with no matches writes no sidecar
    val dvActions = dvRewrite(spark, root, fs, affected, joined)
    val (newAdds, newAddStats) = stageNewFiles(written, snap, table, cm, phys, root,
      "cdc", "applyCdcDv", rowIdBase)
    // identity tables: the change stream's values land VERBATIM
    // (replication semantics — the source minted them), but the
    // watermark still advances past them in the same commit so a
    // replica taking direct appends later never re-mints an id
    val idMeta = IdentityColumns.advanceOf(table, phys).flatMap { adv =>
      val wm = IdentityColumns.newWatermarks(adv, newAddStats, "applyCdcDv")
      if (wm.isEmpty) None
      else Some(IdentityColumns.patchMetaLine(
        metaLineFor(dir, snap, table, snap.configuration), wm))
    }
    val txnLine = txn.map { case (appId, v) =>
      s"""{"txn":{"appId":${jsonMapper.writeValueAsString(appId)},"version":$v}}"""
    }
    commitLog(spark, snap, dir, "MERGE", snap.configuration,
      idMeta.toSeq ++ (if (affected.isEmpty) None else restateProtocol(snap,
        snap.configuration, table, readerWriterFeatures = Set("deletionVectors"))) ++
        txnLine ++ dvActions ++ newAdds ++ cdcActions)
    affected.map(_.path).sorted
  }

  /** MERGE INTO the Delta table from `source` on equality of `keyCols`
    * — the default upsert (WHEN MATCHED THEN UPDATE SET *, WHEN NOT
    * MATCHED THEN INSERT *): target rows whose key appears in the
    * source are replaced by the source row, source rows with no target
    * match are inserted; ONE atomic commit. Copy-on-write like
    * [[deleteWhere]]/[[updateWhere]]: only target files holding a
    * matched key are rewritten (their unmatched rows copy through),
    * inserts stage as new files. Duplicate keys in the SOURCE refuse
    * loudly (each matched target row must have ONE governing source
    * row — the same ambiguity real MERGE rejects); duplicate keys in
    * the TARGET each get replaced, preserving their multiplicity.
    * `source` must carry the table's logical schema. Same write gates
    * as [[updateWhere]] (new values: constraints/invariants/generated
    * columns refuse; appendOnly/CDF refuse). Returns the rewritten
    * (removed) file paths, sorted — empty with a pure-insert commit is
    * normal when no key matched.
    *
    * Scale: the match probe is a distributed semi-join of the scan
    * against the source's distinct keys; driver state is O(affected
    * files); nothing source- or target-proportional lands on the
    * driver.
    */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                keyCols: Seq[String],
                txn: Option[(String, Long)] = None): Seq[String] = {
    require(keyCols.nonEmpty, "mergeInto: empty key column list")
    // the strict historical contract: the source carries EXACTLY the
    // table's schema (the general engine below only requires key
    // columns + whatever the clauses reference)
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(source.schema.length == table.length,
      s"mergeInto: source has ${source.schema.length} columns, table has " +
        s"${table.length} (${table.fieldNames.mkString(", ")})")
    source.schema.fields.zip(table.fields).foreach { case (a, t) =>
      require(a.name == t.name && typeCompatible(a.dataType, t.dataType),
        s"mergeInto: schema mismatch at '${t.name}': source " +
          s"${a.name}:${a.dataType.simpleString}, table declares ${t.dataType.simpleString}")
    }
    // the default upsert IS the two-star special case of the general
    // clause engine — one implementation, one set of gates
    mergeIntoClauses(spark, dir, source, keyCols,
      matched = Seq(MergeClause(None, MergeUpdateAll)),
      notMatched = Seq(MergeClause(None, MergeInsertAll)),
      notMatchedBySource = Nil, txn = txn)
  }

  /** The GENERAL MERGE — conditional multi-clause semantics over the
    * same copy-on-write machinery as [[mergeInto]]:
    *
    *   WHEN MATCHED [AND cond] THEN UPDATE SET * | SET c = expr, ... | DELETE
    *   WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (exprs)
    *   WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE ... | DELETE
    *
    * Conditions and expressions are SQL over two struct namespaces:
    * `t` (the target row) and `s` (the source row) — e.g.
    * `"s.op = 'D'"`, `"t.v + s.v"`. Within each group, clauses apply
    * FIRST-MATCH-WINS in declaration order (SQL's rule); a row no
    * clause claims copies through (matched / by-source) or is dropped
    * (not-matched source rows). An unconditioned clause must be last
    * in its group — later clauses would be unreachable. This is the
    * CDC-apply shape: `WHEN MATCHED AND s.op='D' THEN DELETE, WHEN
    * MATCHED THEN UPDATE SET *, WHEN NOT MATCHED AND s.op!='D' THEN
    * INSERT *` folds a change stream in one commit. The source needs
    * only the key columns plus whatever the clauses reference — NOT
    * the full table schema (UPDATE SET * / INSERT * do require every
    * table column on the source).
    *
    * Semantics shared with [[mergeInto]]: duplicate SOURCE keys refuse
    * when any MATCHED clause exists (ambiguous governing row; an
    * insert-only merge legally inserts duplicates), duplicate TARGET
    * keys each get the clause verdict, SQL null conditions don't
    * apply, one atomic commit, CDF tables stage their complete change
    * data (pre/post images for updates, delete rows, inserts — copied-
    * through rows excluded), obligations verified on every written
    * row, same writer gates.
    *
    * Scale: without BY SOURCE clauses, only files holding matched keys
    * rewrite (single-key merges stats-prune candidates by the source's
    * key range first) and an insert-only merge rewrites NOTHING (the
    * probe scans matched files, inserts stage as new files). WHEN NOT
    * MATCHED BY SOURCE inspects every live target row BY DEFINITION —
    * those merges rewrite the table and are priced accordingly.
    * Returns the rewritten (removed) file paths, sorted.
    */
  def mergeIntoClauses(spark: SparkSession, dir: String, source: DataFrame,
                       keyCols: Seq[String],
                       matched: Seq[MergeClause],
                       notMatched: Seq[MergeClause],
                       notMatchedBySource: Seq[MergeClause] = Nil,
                       txn: Option[(String, Long)] = None,
                       schemaEvolution: Boolean = false): Seq[String] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, expr, lit, struct, when}
    require(keyCols.nonEmpty, "mergeIntoClauses: empty key column list")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeIntoClauses: no clauses — the merge would do nothing")
    matched.foreach(_.action match {
      case MergeUpdateAll | MergeDelete | _: MergeUpdate => ()
      case a => throw new IllegalArgumentException(
        s"mergeIntoClauses: WHEN MATCHED supports UPDATE/DELETE, got $a")
    })
    notMatched.foreach(_.action match {
      case MergeInsertAll | _: MergeInsert => ()
      case a => throw new IllegalArgumentException(
        s"mergeIntoClauses: WHEN NOT MATCHED supports only INSERT, got $a")
    })
    notMatchedBySource.foreach(_.action match {
      case MergeDelete | _: MergeUpdate => ()
      case a => throw new IllegalArgumentException(
        s"mergeIntoClauses: WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE " +
          s"(there is no source row to insert), got $a")
    })
    Seq("WHEN MATCHED" -> matched, "WHEN NOT MATCHED" -> notMatched,
      "WHEN NOT MATCHED BY SOURCE" -> notMatchedBySource).foreach { case (g, cs) =>
      cs.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(c.condition.nonEmpty,
          s"mergeIntoClauses: $g clause ${i + 1} has no condition but is not last " +
            "in its group — the clauses after it are unreachable")
      }
    }
    val snap = DeltaReader.snapshot(spark, dir, None)
    val cm = requireMutable(snap, "mergeIntoClauses", removesRows = true)
    val table0 = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // WITH SCHEMA EVOLUTION: source columns the table lacks become new
    // (nullable) table columns in the SAME commit — target rows read
    // null for them, the merge's values land, and the commit restates
    // metaData with the merged schema ([[evolveSchema]]'s discipline;
    // appendDeltaEvolve is the append-side twin). Off by default: an
    // unexpected source column is usually a bug, and delta-spark also
    // gates this behind the explicit WITH SCHEMA EVOLUTION clause.
    val (table, evolvedConf) =
      if (!schemaEvolution) (table0, snap.configuration)
      else evolveSchema(snap, table0, cm, source.schema.fields.toSeq)
    val schemaGrew = table.length > table0.length
    val badKeys = keyCols.toSet -- table.fieldNames.toSet
    require(badKeys.isEmpty,
      s"mergeIntoClauses: key columns ${badKeys.mkString(", ")} not in the table schema")
    val badSrcKeys = keyCols.toSet -- source.columns.toSet
    require(badSrcKeys.isEmpty,
      s"mergeIntoClauses: key columns ${badSrcKeys.mkString(", ")} not in the source " +
        s"(${source.columns.mkString(", ")})")
    val starActions = matched.exists(_.action == MergeUpdateAll) ||
      notMatched.exists(_.action == MergeInsertAll)
    if (starActions) {
      // identity columns are exempt: INSERT * generates them when the
      // source lacks them, UPDATE SET * never assigns them
      val missing = table.fieldNames.filterNot(source.columns.contains)
        .filterNot(IdentityColumns.specs(table).map(_.name).toSet)
      require(missing.isEmpty,
        s"mergeIntoClauses: UPDATE SET * / INSERT * need every table column on the " +
          s"source; missing ${missing.mkString(", ")}")
    }
    val updateTargets = (matched ++ notMatchedBySource).flatMap(_.action match {
      case MergeUpdate(sets) => sets.keys
      case _ => Nil
    }) ++ notMatched.flatMap(_.action match {
      case MergeInsert(values) => values.keys
      case _ => Nil
    })
    val badTargets = updateTargets.toSet -- table.fieldNames.toSet
    require(badTargets.isEmpty,
      s"mergeIntoClauses: SET/INSERT targets ${badTargets.mkString(", ")} not in the " +
        s"table schema (${table.fieldNames.mkString(", ")})")
    // identity columns: UPDATE never touches them — explicit SET
    // refuses and SET * skips them (the matched row keeps its value,
    // delta-spark's star semantics). INSERT generates omitted ones
    // (INSERT * counts as omitting when the source lacks the column);
    // providing one explicitly needs GENERATED BY DEFAULT.
    val idSpecs = IdentityColumns.specs(table)
    val idCols = idSpecs.map(_.name).toSet
    if (idSpecs.nonEmpty) {
      IdentityColumns.refuseUpdates(table,
        (matched ++ notMatchedBySource).flatMap(_.action match {
          case MergeUpdate(sets) => sets.keys
          case _ => Nil
        }), "mergeIntoClauses")
      val explicit = idSpecs.filter(s =>
        notMatched.exists(_.action match {
          case MergeInsertAll => source.columns.contains(s.name)
          case MergeInsert(values) => values.contains(s.name)
          case _ => false
        })).filterNot(_.allowExplicit)
      require(explicit.isEmpty,
        s"mergeIntoClauses: ${explicit.map(_.name).mkString(", ")} " +
          "is GENERATED ALWAYS AS IDENTITY — INSERT clauses cannot provide it " +
          "(declare it GENERATED BY DEFAULT to allow explicit values)")
    }

    // ONE distinct-key aggregate of the source feeds the duplicate-key
    // gate, the single-key stats-prune range and both key probes — the
    // source used to be re-scanned and re-shuffled once per consumer
    // (dup check, min/max, matched-file probe, insert probe: four full
    // passes). Materialized eagerly via localCheckpoint: it is one row
    // per distinct source key (strictly smaller than the source), its
    // blocks are GC-freed when the plan becomes unreachable, and every
    // consumer below is a bounded follow-up job on it.
    val keyAgg = source.groupBy(keyCols.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__kn"))
      .localCheckpoint(true)
    // any clause that REWRITES target rows (matched or by-source) joins
    // target × source on the keys — a duplicate source key would
    // multiply its matched target rows through that join (even a pure
    // BY SOURCE merge copies matched rows through it), so duplicates
    // refuse; only insert-only merges (anti-join probe, no row join)
    // legally insert duplicate-keyed rows.
    //
    // The dup gate and the single-key stats-prune range below are BOTH
    // one-row aggregates over the checkpointed keyAgg — fused into ONE
    // driver round-trip (each separate action costs a full
    // plan+schedule cycle; the per-key example in the error message
    // only needs computing on the failure path).
    val needDupGate = matched.nonEmpty || notMatchedBySource.nonEmpty
    val needKeyRange = notMatchedBySource.isEmpty && keyCols.size == 1
    val fusedStats: Option[org.apache.spark.sql.Row] =
      if (!needDupGate && !needKeyRange) None
      else {
        import org.apache.spark.sql.functions.{max => fMax, min => fMin}
        val aggs =
          fMax(col("__kn")).as("__maxkn") +:
            (if (needKeyRange)
              Seq(fMin(col(keyCols.head)).as("__kmin"),
                fMax(col(keyCols.head)).as("__kmax"))
            else Nil)
        Some(keyAgg.agg(aggs.head, aggs.tail: _*).head())
      }
    if (needDupGate &&
        fusedStats.exists(r => !r.isNullAt(0) && r.getLong(0) > 1)) {
      val dupKeys = keyAgg.where(col("__kn") > 1).limit(1).collect()
      require(dupKeys.isEmpty,
        s"mergeIntoClauses: source carries duplicate keys (e.g. ${dupKeys.headOption
          .map(_.toSeq.init.mkString("(", ", ", ")")).getOrElse("")}) — each matched " +
          "target row must have exactly one governing source row; dedup the source first")
    }

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)

    val srcKeys = keyAgg.select(keyCols.map(col): _*)
    // BY SOURCE clauses inspect every live target row — the whole
    // table is affected by definition. Otherwise only files holding a
    // matched key (single-key merges stats-prune by the source range).
    val affected =
      if (notMatchedBySource.nonEmpty) snap.active
      else {
        val keyCandidates =
          if (keyCols.size != 1) snap.active
          else {
            val k = keyCols.head
            // min/max over the distinct keys ≡ min/max over the source
            val r = fusedStats.get
            (r.get(1), r.get(2)) match {
              case (mn: Number, mx: Number) =>
                DeltaStats.prune(spark, snap.active, s"$k >= $mn AND $k <= $mx", snap)
              case _ => snap.active
            }
          }
        val lineage = DeltaReader.scanFiles(spark, dir, snap, keyCandidates,
          keepLineage = true)
        affectedFiles(snap, root, fs, lineage.join(srcKeys, keyCols, "left_semi"),
          "mergeIntoClauses")
      }
    // a merge that touches no file and can insert nothing writes NO commit
    // source emptiness falls out of the fused aggregate when it ran
    // (an all-null max over zero groups) — no extra isEmpty action
    def sourceEmpty: Boolean = fusedStats match {
      case Some(r) => r.isNullAt(0)
      case None => keyAgg.isEmpty
    }
    if (affected.isEmpty && (notMatched.isEmpty || sourceEmpty)) return Nil
    // matched/by-source clauses rewrite the affected files; an
    // insert-only merge leaves them in place (the scan below is only
    // the insert probe)
    val rewriteNeeded = matched.nonEmpty || notMatchedBySource.nonEmpty

    val affectedRows =
      if (affected.isEmpty) null
      else {
        val scan = DeltaReader.scanFiles(spark, dir, snap, affected)
        if (!schemaGrew) scan
        else table.fields.drop(table0.length).foldLeft(scan) { (d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))
        }
      }
    val srcStruct = source.select((keyCols.map(col) :+
      struct(source.columns.map(col).toIndexedSeq: _*).as("__s") :+
      lit(1).as("__m")).toIndexedSeq: _*)

    def condCol(c: MergeClause): Column = c.condition.map(expr).getOrElse(lit(true))
    val mIdx = matched.zipWithIndex
    val bIdx = notMatchedBySource.zipWithIndex.map { case (c, j) => (c, 1000 + j) }
    val deleteCodes = (mIdx ++ bIdx).collect {
      case (MergeClause(_, MergeDelete), code) => code
    }
    val updIdx = (mIdx ++ bIdx).collect {
      case (c @ MergeClause(_, MergeUpdateAll | _: MergeUpdate), code) => (c, code)
    }
    def tField(f: org.apache.spark.sql.types.StructField): Column =
      col("t").getField(f.name)
    def updValue(action: MergeClauseAction,
                 f: org.apache.spark.sql.types.StructField): Option[Column] =
      action match {
        case MergeUpdateAll =>
          if (idCols(f.name)) None // identity: the matched row keeps its value
          else Some(col("s").getField(f.name).cast(f.dataType))
        case MergeUpdate(sets) => sets.get(f.name).map(expr(_).cast(f.dataType))
        case _ => None
      }

    val (rewritten, cdcRewrite) =
      if (!rewriteNeeded || affected.isEmpty) (null: DataFrame, null: DataFrame)
      else {
        val joinedRaw = affectedRows.join(srcStruct, keyCols.toSeq, "left")
        val whens = mIdx.map { case (c, i) =>
          (col("__m").isNotNull && condCol(c), lit(i))
        } ++ bIdx.map { case (c, code) =>
          (col("__m").isNull && condCol(c), lit(code))
        }
        val joined = joinedRaw.select(
          struct(table.fieldNames.map(joinedRaw.col(_)).toIndexedSeq: _*).as("t"),
          col("__s").as("s"), col("__m"))
        val actCol = whens.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
          Some(acc.map(_.when(p, v)).getOrElse(when(p, v)))
        }.map(_.otherwise(lit(-1))).getOrElse(lit(-1))
        // the target × source join is THE expensive subplan of a merge
        // — materialize it once (eager localCheckpoint, blocks GC-freed
        // with the plan) instead of re-executing it per consumer: the
        // staged rewrite, the CDF pre/post/delete images (which used to
        // re-run the join up to three times inside one union) and the
        // insert probe's matched-key set all read this frame. A
        // single-consumer merge (matched-only, CDF off) skips the
        // materialization — there is nothing to share.
        val joinConsumers = 1 + (if (notMatched.nonEmpty) 1 else 0) +
          (if (cdfEnabled(snap)) 3 else 0)
        val withAct0 = joined.withColumn("__act", actCol)
        val withAct =
          if (joinConsumers > 1) withAct0.localCheckpoint(true) else withAct0
        def resultCol(f: org.apache.spark.sql.types.StructField): Column =
          updIdx.foldLeft(tField(f)) { case (acc, (c, code)) =>
            updValue(c.action, f).map(v => when(col("__act") === code, v).otherwise(acc))
              .getOrElse(acc)
          }
        val kept =
          if (deleteCodes.isEmpty) withAct
          else withAct.where(!col("__act").isin(deleteCodes: _*))
        val out = kept.select(table.fields.map(f => resultCol(f).as(f.name))
          .toIndexedSeq: _*)
        (out, withAct)
      }

    // insert probe: source keys with no LIVE target match (any match
    // lives in an affected file by construction when BY SOURCE is off;
    // with it on, affected = all files)
    val inserts =
      if (notMatched.isEmpty) null
      else {
        val matchedKeys =
          if (affected.isEmpty) srcKeys.limit(0)
          else if (cdcRewrite != null)
            // the rewrite's materialized join already knows which target
            // rows matched (__m non-null) — no second target-side probe
            cdcRewrite.where(col("__m").isNotNull)
              .select(keyCols.map(k => col("t").getField(k).as(k)): _*).distinct()
          else affectedRows.join(srcKeys, keyCols.toSeq, "left_semi")
            .select(keyCols.map(col): _*).distinct()
        val cand = source.join(matchedKeys, keyCols.toSeq, "left_anti")
          .select(struct(source.columns.map(col).toIndexedSeq: _*).as("s"))
        val iWhens = notMatched.zipWithIndex.map { case (c, i) => (condCol(c), lit(i)) }
        val iAct = iWhens.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
          Some(acc.map(_.when(p, v)).getOrElse(when(p, v)))
        }.map(_.otherwise(lit(-1))).get
        val ikept = cand.withColumn("__iact", iAct).where(col("__iact") >= 0)
        def insValue(f: org.apache.spark.sql.types.StructField): Column = {
          // identity columns generate for every inserted row a clause
          // does not explicitly provide (distributed, see
          // [[IdentityColumns.genExpr]]); anything else starts null
          val base = idSpecs.find(_.name == f.name)
            .map(IdentityColumns.genExpr).getOrElse(lit(null).cast(f.dataType))
          notMatched.zipWithIndex.foldLeft(base) {
            case (acc, (c, i)) =>
              val v = c.action match {
                case MergeInsertAll =>
                  if (idCols(f.name) && !source.columns.contains(f.name)) acc
                  else col("s").getField(f.name).cast(f.dataType)
                case MergeInsert(values) => values.get(f.name)
                  .map(expr(_).cast(f.dataType)).getOrElse {
                    if (idCols(f.name)) acc // omitted identity: generated
                    else if (f.metadata.contains("CURRENT_DEFAULT"))
                      expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType)
                    else {
                      require(f.nullable,
                        s"mergeIntoClauses: INSERT clause ${i + 1} omits non-nullable " +
                          s"column '${f.name}' — list it, give it a DEFAULT, or make " +
                          "it nullable")
                      lit(null).cast(f.dataType)
                    }
                  }
                case _ => acc
              }
              when(col("__iact") === i, v).otherwise(acc)
          }
        }
        ikept.select(table.fields.map(f => insValue(f).as(f.name)).toIndexedSeq: _*)
      }

    val written = (Option(rewritten), Option(inserts)) match {
      case (Some(r), Some(i)) => r.unionByName(i)
      case (Some(r), None) => r
      case (None, Some(i)) => i
      case (None, None) => return Nil
    }
    // an insert-only merge where every source row matched (or every
    // clause filtered) writes nothing — no commit
    if (!rewriteNeeded && written.isEmpty) return Nil
    val checked = enforceObligations(written, snap, table, "mergeIntoClauses")

    val phys = physNameMap(table, cm, "mergeIntoClauses")
    val staged = stagePhysicalRows(checked, table, cm, phys, "mergeIntoClauses")
    val stagePartCols = snap.partCols.map(c => phys.getOrElse(c, c))
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val updCodes = updIdx.map(_._2)
        def img(df: DataFrame, cols: Seq[Column], kind: String): DataFrame =
          df.select((table.fields.zip(cols).map { case (f, c) =>
            c.as(f.name)
          } :+ lit(kind).as("_change_type")).toIndexedSeq: _*)
        val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        if (cdcRewrite != null) {
          if (updCodes.nonEmpty) {
            val upd = cdcRewrite.where(col("__act").isin(updCodes: _*))
            parts += img(upd, table.fields.toSeq.map(tField), "update_preimage")
            parts += img(upd, table.fields.toSeq.map { f =>
              updIdx.foldLeft(tField(f)) { case (acc, (c, code)) =>
                updValue(c.action, f).map(v =>
                  when(col("__act") === code, v).otherwise(acc)).getOrElse(acc)
              }
            }, "update_postimage")
          }
          if (deleteCodes.nonEmpty) {
            val del = cdcRewrite.where(col("__act").isin(deleteCodes: _*))
            parts += img(del, table.fields.toSeq.map(tField), "delete")
          }
        }
        if (inserts != null)
          parts += img(inserts, table.fieldNames.toSeq.map(inserts.col), "insert")
        parts.reduceOption(_.unionByName(_))
          .map(u => stageCdc(stagePhysicalRows(u, table, cm, phys,
            "mergeIntoClauses"), dir, snap.version + 1, stagePartCols))
          .getOrElse(Nil)
      }
    val removesFiles = if (rewriteNeeded) affected else Nil
    val removes = removesFiles.map(removeLine(_, dataChange = true))
    commitDelta(staged, dir, snap.version + 1, includeMeta = schemaGrew,
      checkpointInterval = 0, partCols = stagePartCols, txn = txn,
      metaOverride =
        if (!schemaGrew) None
        else Some((protocolJson(snap), metaLineFor(dir, snap, table, evolvedConf))),
      extraActions = removes ++ cdcActions, operation = "MERGE",
      rowIdBase = RowTracking.rowIdBase(snap), ictConf = snap.configuration,
      statsSchema = Some(table),
      identity = IdentityColumns.advanceOf(table, phys).map(adv =>
        (adv, Some(metaLineFor(dir, snap, table, evolvedConf)))))
    removesFiles.map(_.path).sorted
  }

  /** UPDATE the Delta table SET `set` WHERE `predicate` — copy-on-write
    * like [[deleteWhere]]: files holding matching live rows are
    * rewritten with the SET expressions applied to exactly the matching
    * rows (NULL-predicate rows untouched, SQL semantics), committed
    * atomically as dataChange=true removes + adds. `set` maps column
    * name → SQL expression over the row's LOGICAL columns (the
    * pre-update values, as in SQL UPDATE); updated values cast to the
    * column's declared type. Updating a PARTITION column moves rows
    * across partition directories through the same staging walk the
    * partitioned append uses. Unlike delete, an update writes NEW
    * values, so the table's declared CHECK constraints, column
    * invariants and generated columns are VERIFIED on the rewritten
    * rows in one distributed pass before the commit (enforceObligations
    * — a violation refuses the whole update); append-only tables
    * refuse, CDF-enabled tables stage their complete pre/post change
    * data in the same commit. Returns the rewritten (removed) file
    * paths, sorted; empty = nothing matched, no commit.
    */
  def updateWhere(spark: SparkSession, dir: String, predicate: String,
                  set: Map[String, String]): Seq[String] =
    updateWhereWithSnapshot(spark, dir, predicate, set,
      DeltaReader.snapshot(spark, dir, None))

  /** [[updateWhere]] against a caller-supplied snapshot (OCC seam). */
  private[graft] def updateWhereWithSnapshot(spark: SparkSession, dir: String,
      predicate: String, set: Map[String, String],
      snap: DeltaReader.Snapshot): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(set.nonEmpty, "updateWhere: empty SET clause")
    val cm = requireMutable(snap, "updateWhere", removesRows = true)
    val table = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // CHECK constraints / invariants / generated columns are VERIFIED
    // on the updated rows before the commit (enforceObligations below)
    IdentityColumns.refuseUpdates(table, set.keySet, "updateWhere")
    val badCols = set.keySet -- table.fieldNames.toSet
    require(badCols.isEmpty,
      s"updateWhere: SET targets ${badCols.mkString(", ")} not in the table schema " +
        s"(${table.fieldNames.mkString(", ")})")

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val pred = expr(predicate)

    val candidates = DeltaStats.prune(spark, snap.active, predicate, snap)
    val lineage = DeltaReader.scanFiles(spark, dir, snap, candidates, keepLineage = true)
    val affected = affectedFiles(snap, root, fs, lineage.where(pred), "updateWhere")
    if (affected.isEmpty) return Nil

    // rewrite the affected files: matching rows get the SET expressions
    // (evaluated against the PRE-update row, all at once — a SET that
    // references another updated column sees the old value, as SQL
    // demands), everything else copies through. On a CDF table the
    // same scan also feeds the pre-image and post-image branches of the
    // change-data staging — persist it so the first consumer's scan
    // populates the cache and the others read blocks instead of
    // re-reading the affected files (three reads before); lazy persist
    // adds no extra job, and the blocks are released after the commit.
    // Without CDF the single consumer pipelines.
    val src0 = DeltaReader.scanFiles(spark, dir, snap, affected)
    val src = if (cdfEnabled(snap)) src0.persist() else src0
    val hit = coalesce(pred, lit(false))
    val rewritten = enforceObligations(src.select(table.fields.map { f =>
      (set.get(f.name) match {
        case Some(e) => when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name))
        case None => col(f.name)
      }).as(f.name)
    }.toIndexedSeq: _*), snap, table, "updateWhere")
    val phys = physNameMap(table, cm, "updateWhere")
    val staged = stagePhysicalRows(rewritten, table, cm, phys, "updateWhere")
    val stagePartCols = snap.partCols.map(c => phys.getOrElse(c, c))
    // CDF: complete change data = each updated row's pre-image AND
    // post-image (both derived from the same pre-update scan, so the
    // SET expressions see old values exactly as the rewrite does)
    val cdcActions =
      if (!cdfEnabled(snap)) Nil
      else {
        val matchedPre = src.where(hit)
        val pre = matchedPre
          .withColumn("_change_type", lit("update_preimage"))
        val post = matchedPre.select((table.fields.map { f =>
          (set.get(f.name) match {
            case Some(e) => expr(e).cast(f.dataType)
            case None => col(f.name)
          }).as(f.name)
        } :+ lit("update_postimage").as("_change_type")).toIndexedSeq: _*)
        stageCdc(stagePhysicalRows(pre.unionByName(post), table, cm, phys,
          "updateWhere"), dir, snap.version + 1, stagePartCols)
      }
    val removes = affected.map(removeLine(_, dataChange = true))
    commitDelta(staged, dir, snap.version + 1, includeMeta = false,
      checkpointInterval = 0, partCols = stagePartCols,
      extraActions = removes ++ cdcActions, operation = "UPDATE",
      operationParameters = s"""{"predicate":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(predicate)}}""",
      rowIdBase = RowTracking.rowIdBase(snap),
      rebase = Some((snap, predicate, affected.map(_.path).toSet)),
      ictConf = snap.configuration, statsSchema = Some(table))
    if (cdfEnabled(snap)) src.unpersist(false)
    affected.map(_.path).sorted
  }

  /** Physical retention cleanup (the VACUUM maintenance op), with a
    * VERSION horizon instead of real Delta's wall-clock one (graft's
    * deterministic logs carry deletionTimestamp=0, so age is version
    * depth here): every file still referenced by ANY version in
    * [horizonVersion, latest] survives — including files that were
    * tombstoned once and added back by a later commit — and everything
    * else under the table root is deleted: compaction/delete
    * tombstones older than the horizon AND orphaned debris from failed
    * writers (the directory walk is what catches debris no log action
    * references, exactly like real VACUUM).
    *
    * Time travel below the horizon refuses LOUDLY afterwards, by
    * construction rather than by FileNotFoundException mid-scan: a
    * checkpoint is ensured at the horizon, then the commits and
    * checkpoints below it are removed, so a versionAsOf below the
    * horizon fails the reader's existing not-present/partial-snapshot
    * gates before any data file is touched.
    *
    * Scale: the driver-side work is ONE snapshot replay at the horizon
    * plus one linear walk of the window's commit JSONs (never a
    * per-version re-replay — that would be O(window²) on a sparsely
    * checkpointed table) plus one TOP-LEVEL directory listing; the
    * recursive candidate walk, the referenced-set filter and the
    * orphan deletes all run distributed (one executor task per
    * top-level subtree, the referenced set broadcast), so reclaim
    * wall-time divides by executor-thread count instead of
    * serializing ~50 ms object-store delete RPCs on the driver.
    * Driver memory stays O(debris) — only the deleted rel paths (the
    * return value) come back. Log-retention cleaning below the
    * horizon stays a driver loop: it is bounded by the retained
    * commit window, the same class as DESCRIBE HISTORY. Returns the
    * deleted paths (relative), sorted.
    *
    * LITE mode (`lite = true`, delta 4.x's `VACUUM ... LITE`): the
    * candidate set comes from the LOG instead of a filesystem
    * listing — remove tombstones and superseded DV-sidecar references
    * in the retained commits below the horizon, plus their change
    * data files. Cost is O(retained log), independent of table file
    * count: the nightly reclaim a 100-TB table runs between FULL
    * passes, since a billion-file listing (even distributed) costs
    * real money on an object store while the log names exactly what
    * retention freed. By construction LITE cannot see failed-writer
    * DEBRIS (files no log action names) — FULL vacuum remains the
    * periodic deep clean. Same referenced-set protection, DRY RUN,
    * horizon checkpoint and log-retention cleaning as FULL.
    */
  def vacuumDelta(spark: SparkSession, dir: String, horizonVersion: Long,
                  dryRun: Boolean = false, lite: Boolean = false): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val latest = DeltaReader.snapshot(spark, dir, None)
    require(horizonVersion >= 0 && horizonVersion <= latest.version,
      s"vacuumDelta: horizon $horizonVersion outside [0, ${latest.version}]")
    val referenced = scala.collection.mutable.Set.empty[String]
    val rootRel = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    // the under-THIS-root relative form of a log path, or None when it
    // resolves outside the root. An absolute entry (shallow clone /
    // external file) living under the root is protected/reclaimed by
    // its root-relative form (the walk's key); outside the root the
    // walk never visits it, so there is nothing to protect — and never
    // anything to delete, which is the clone contract: vacuum on a
    // clone must not touch source files. "Absolute" means a URI scheme
    // OR a leading slash: a scheme-less absolute child handed verbatim
    // to new Path(root, rel) would itself resolve ABSOLUTE — exactly
    // the shape that must never escape the root.
    def relUnderRoot(p: String): Option[String] = {
      val dec = DeltaReader.percentDecode(p)
      if (!DeltaReader.isAbsoluteAddPath(p) && !dec.startsWith("/")) Some(dec)
      else {
        val abs = fs.makeQualified(DeltaReader.resolveAddPath(root, p)).toUri.getPath
        if (abs.startsWith(rootRel + "/")) Some(abs.stripPrefix(rootRel + "/")) else None
      }
    }
    def reference(a: DeltaReader.AddFile): Unit = {
      relUnderRoot(a.path).foreach(referenced += _)
      // a DV sidecar is live exactly as long as some window version's
      // add references it; a sidecar only pre-horizon versions point
      // at (a replaced descriptor, a failed delete's debris) is
      // reclaimable like any other unreferenced file. BOTH sidecar
      // forms protect: "u" (UUID-named under the root — what graft
      // writes) and "p" (explicit path, protocol-legal from foreign
      // writers) when it resolves under THIS root — deleting a live
      // "p" sidecar would resurrect its deleted rows on the next read
      a.dv.foreach { d =>
        if (d.storageType == "u" || d.storageType == "p") {
          val p = DeltaReader.dvFilePath(root, d)
          val abs = fs.makeQualified(p).toUri.getPath
          if (abs.startsWith(rootRel + "/"))
            referenced += abs.stripPrefix(rootRel + "/")
        }
      }
    }
    // ONE snapshot replay at the horizon, then walk the window's
    // commits once — a per-version snapshot() here would re-scan back
    // to the nearest checkpoint each time, O(window²) log parsing on a
    // sparsely-checkpointed table. "Live at ANY version in the window"
    // is exactly (live at the horizon) ∪ (added by any window commit):
    // a file is referenced the moment it is added, even if a later
    // window commit removes it again.
    DeltaReader.snapshot(spark, dir, Some(horizonVersion)).active.foreach(reference)
    ((horizonVersion + 1) to latest.version).foreach { v =>
      DeltaReader.commitActions(spark, dir, v).foreach {
        case (Right(af), _) => reference(af)
        case _ =>
      }
    }
    // change data files (CDF): a cdc file is referenced ONLY by its own
    // commit, so the live set is exactly the window's cdc actions —
    // everything else under _change_data (whose commits fell below the
    // horizon, or failed writers' debris) reclaims. The horizon version
    // itself stays readable as a TABLE state via the checkpoint, but
    // readChanges AT the horizon needs the commit json anyway, which
    // survives; below it both are gone, consistently.
    // referenced cdc paths normalize exactly like reclaim candidates
    // (root-relative when they resolve under THIS root) so an
    // absolute-under-root cdc entry from a foreign writer still spares
    // its file from the reclaim's filterNot below; outside-root
    // entries drop on BOTH sides, consistently
    val cdcReferenced = (horizonVersion to latest.version).flatMap { v =>
      DeltaReader.commitCdc(spark, dir, v).flatMap(c => relUnderRoot(c.path))
    }.toSet
    // the horizon must stay replayable WITHOUT the commits removed below
    val log = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val cpFile = new org.apache.hadoop.fs.Path(log, f"$horizonVersion%020d.checkpoint.parquet")
    if (!dryRun && !fs.exists(cpFile)) checkpointDelta(spark, dir, horizonVersion)
    // candidate files: everything under the root except _/. prefixed
    // segments (_delta_log, staging dirs, hidden files). The walk,
    // the referenced-set filter AND the orphan deletes all run ON
    // EXECUTORS — one task per top-level subtree (partition
    // directories, the natural sharding of a partitioned table), the
    // referenced set a broadcast (bounded by the same
    // maxSnapshotFiles gate as the snapshot resolve) — so the driver
    // never walks the table and never issues per-file delete RPCs:
    // at object-store latencies (~50 ms/op) a driver-sequential
    // reclaim of a few million orphans is days of wall-time, while
    // this is (files / executor-threads) ops. Only the orphan rel
    // paths (the return value, O(debris)) come back. Root-level
    // plain files (an unpartitioned table's layout) are filtered
    // against the in-memory listing and deleted through the same
    // batched helper.
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val (deleted, deletedCdc) = if (lite) {
      // LOG-driven candidates: remove tombstones, DV-sidecar
      // references and change data files named by the retained
      // commits AT or BELOW the horizon (a file removed/replaced
      // above it was live at the horizon or window-added, so it is in
      // the referenced set by construction — parsing those commits
      // again would only re-derive spared candidates). The
      // referenced/cdcReferenced filters below make this exactly
      // FULL's reclaim set minus unnamed debris. No filesystem
      // listing of the table at all — O(retained log ≤ horizon).
      // Compacted-range removes whose commit JSONs were already
      // cleaned are invisible here; FULL vacuum covers them,
      // documented.
      val candidateVersions = fs.listStatus(log).toSeq.map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong)
        .filter(_ <= horizonVersion).sorted
      val cand = Seq.newBuilder[String]
      val cdcCand = Seq.newBuilder[String]
      // every candidate routes through the outer relUnderRoot guard:
      // reclaim only under THIS root (the clone contract)
      candidateVersions.foreach { v =>
        val (adds, removes) = DeltaReader.commitChanges(spark, dir, v)
        removes.foreach { case (p, _) => relUnderRoot(p).foreach(cand += _) }
        adds.foreach { case (af, _) =>
          af.dv.filter(d => d.storageType == "u" || d.storageType == "p").foreach { d =>
            val p = DeltaReader.dvFilePath(root, d)
            val abs = fs.makeQualified(p).toUri.getPath
            if (abs.startsWith(rootUri + "/")) cand += abs.stripPrefix(rootUri + "/")
          }
        }
        // same under-THIS-root guard as removes: a protocol-legal
        // absolute cdc.path from a foreign writer must never become an
        // absolute child of new Path(root, rel) and delete a file
        // outside the table root (e.g. a clone source's change data)
        DeltaReader.commitCdc(spark, dir, v).foreach(c =>
          relUnderRoot(c.path).foreach(cdcCand += _))
      }
      (vacuumReclaimPaths(spark, root,
        cand.result().distinct.filterNot(referenced), dryRun, checkExists = true),
        vacuumReclaimPaths(spark, root,
          cdcCand.result().distinct.filterNot(cdcReferenced), dryRun, checkExists = true))
    } else {
      val top = fs.listStatus(root).toSeq
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
      val (topDirs, topFiles) = top.partition(_.isDirectory)
      val rootOrphans = topFiles
        .map(st => fs.makeQualified(st.getPath).toUri.getPath
          .stripPrefix(rootUri).stripPrefix("/"))
        .filterNot(referenced)
      if (!dryRun) vacuumReclaimPaths(spark, root, rootOrphans, dryRun = false,
        checkExists = false)
      val subOrphans = vacuumReclaimSubtrees(spark, root.toString,
        topDirs.map(_.getPath.toString), referenced.toSet, skipHidden = true, dryRun)
      // _change_data sits under an underscore prefix the data walk
      // skips — reclaim its unreferenced files explicitly (same
      // distributed machinery, hidden names included inside it)
      val cdcDir = new org.apache.hadoop.fs.Path(root, "_change_data")
      val cdcOrphans =
        if (!fs.exists(cdcDir)) Nil
        else vacuumReclaimSubtrees(spark, root.toString, Seq(cdcDir.toString),
          cdcReferenced, skipHidden = false, dryRun)
      (rootOrphans ++ subOrphans, cdcOrphans)
    }
    // log retention below the horizon: those versions' replay targets
    // are gone, so a read there must refuse via the not-present gate,
    // not die mid-scan on a missing file
    if (!dryRun) fs.listStatus(log).foreach { st =>
      val n = st.getPath.getName
      val commitBelow = n.matches("\\d{20}\\.json") && n.take(20).toLong < horizonVersion
      val cpBelow = (n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet") ||
        n.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.(json|parquet)")) &&
        n.take(20).toLong < horizonVersion
      // a log-compaction file whose whole range fell below the horizon
      // serves no replay the horizon checkpoint doesn't
      val compactedBelow = n.matches("\\d{20}\\.\\d{20}\\.compacted\\.json") &&
        n.slice(21, 41).toLong < horizonVersion
      if (commitBelow || cpBelow || compactedBelow) fs.delete(st.getPath, false)
    }
    // v2-checkpoint SIDECARS live under _delta_log/_sidecars and are
    // referenced only by their manifests: once every manifest naming a
    // sidecar is reclaimed above, the sidecar is debris. Collect the
    // survivors' references (manifests are small scalar files) and
    // sweep the rest.
    val sidecarDir = new org.apache.hadoop.fs.Path(log, "_sidecars")
    if (!dryRun && fs.exists(sidecarDir)) {
      val liveManifests = fs.listStatus(log).map(_.getPath)
        .filter(_.getName.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.(json|parquet)"))
      val referencedSidecars = liveManifests.flatMap { m =>
        if (m.getName.endsWith(".parquet")) {
          val mf = spark.read.parquet(m.toString)
          if (!mf.columns.contains("sidecar")) Nil
          else mf.where(org.apache.spark.sql.functions.col("sidecar").isNotNull)
            .select("sidecar.path").collect().map(_.getString(0)).toSeq
        } else {
          val om2 = new com.fasterxml.jackson.databind.ObjectMapper()
          val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(m), java.nio.charset.StandardCharsets.UTF_8))
          try Iterator.continually(rd.readLine()).takeWhile(_ != null)
            .filter(_.nonEmpty).flatMap { line =>
              val node = om2.readTree(line)
              if (node.has("sidecar")) Seq(node.get("sidecar").get("path").asText()) else Nil
            }.toList finally rd.close()
        }
      }.toSet
      fs.listStatus(sidecarDir).foreach { st =>
        if (!referencedSidecars.contains(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
    }
    (deleted ++ deletedCdc).sorted
  }

  /** VACUUM's distributed subtree reclaim: each seed directory walks,
    * filters against the broadcast `referenced` set and deletes its
    * orphans inside ONE executor task; only the orphan rel paths (the
    * O(debris) return value) come back to the driver. Deletes are
    * idempotent per task retry: a path the walk listed but a superseded
    * attempt already removed counts as deleted, not as failure.
    */
  private def vacuumReclaimSubtrees(spark: SparkSession, rootStr: String,
                                    dirs: Seq[String], referenced: Set[String],
                                    skipHidden: Boolean, dryRun: Boolean): Seq[String] = {
    if (dirs.isEmpty) return Nil
    val hconfB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val refB = spark.sparkContext.broadcast(referenced)
    val slices = math.min(dirs.size, math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(dirs, slices).flatMap { d =>
      val rootP = new org.apache.hadoop.fs.Path(rootStr)
      val efs = rootP.getFileSystem(hconfB.value.value)
      val rootRel = efs.makeQualified(rootP).toUri.getPath.stripSuffix("/")
      val ref = refB.value
      def walk(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.Path] =
        efs.listStatus(p).iterator.flatMap { st =>
          val n = st.getPath.getName
          if (skipHidden && (n.startsWith("_") || n.startsWith("."))) Iterator.empty
          else if (st.isDirectory) walk(st.getPath)
          else Iterator.single(st.getPath)
        }
      walk(new org.apache.hadoop.fs.Path(d)).flatMap { p =>
        val rel = efs.makeQualified(p).toUri.getPath.stripPrefix(rootRel).stripPrefix("/")
        if (ref.contains(rel)) None
        else {
          if (!dryRun) require(efs.delete(p, false) || !efs.exists(p),
            s"vacuumDelta: delete $p failed")
          Some(rel)
        }
      }
    }.collect().toSeq
  }

  /** Vacuum's reclaim fan-out over root-relative paths: a short list
    * runs inline (no job scheduling for the common few-orphans pass),
    * a long one fans out across executors. `checkExists` is LITE's
    * mode — log-named candidates may predate an earlier reclaim, so
    * only the paths that still exist count (and return); a
    * listing-derived caller skips the extra exists RPC. Deletes are
    * idempotent per task retry and skipped entirely under DRY RUN.
    */
  private def vacuumReclaimPaths(spark: SparkSession, root: org.apache.hadoop.fs.Path,
                                 rels: Seq[String], dryRun: Boolean,
                                 checkExists: Boolean): Seq[String] = {
    if (rels.isEmpty) return Nil
    if (rels.size < 64) {
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      rels.filter { rel =>
        val p = new org.apache.hadoop.fs.Path(root, rel)
        val present = !checkExists || fs.exists(p)
        if (present && !dryRun)
          require(fs.delete(p, false) || !fs.exists(p), s"vacuumDelta: delete $p failed")
        present
      }
    } else {
      val hconfB = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val rootStr = root.toString
      val slices = math.min(rels.size, math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(rels, slices).filter { rel =>
        val rootP = new org.apache.hadoop.fs.Path(rootStr)
        val efs = rootP.getFileSystem(hconfB.value.value)
        val p = new org.apache.hadoop.fs.Path(rootP, rel)
        val present = !checkExists || efs.exists(p)
        if (present && !dryRun)
          require(efs.delete(p, false) || !efs.exists(p), s"vacuumDelta: delete $p failed")
        present
      }.collect().toSeq
    }
  }

  /** Z-ORDER compaction (OPTIMIZE ZORDER BY) for Delta tables: every
    * partition's live rows rewrite into `filesPerPartition` files
    * range-partitioned and sorted by the Morton interleave of `c1` and
    * `c2`'s quantile buckets — the same curve [[writeZOrdered]] lays
    * plain parquet with, carried by the table format. A commit of
    * dataChange=false removes + adds: the snapshot's ROWS are
    * untouched (streaming readers and CDF skip it) but min/max file
    * stats become selective on BOTH columns, so a scan filtered on
    * either prunes to O(matching files) instead of reading the table —
    * at 100 TB this is the difference between a point lookup touching
    * a handful of files and touching all of them.
    *
    * Same gate as [[compactDelta]] ([[requireRewritable]]).
    * Deletion vectors fold through the DV-applied scan and drop, like
    * compaction. Quantile bounds come from ONE approximate pass over
    * the live table; the per-row z-value is a driver-broadcast bucket
    * lookup (the bounds array is 255 doubles — constant size at any
    * table size).
    */
  def compactDeltaZOrder(spark: SparkSession, dir: String, c1: String, c2: String,
                         filesPerPartition: Int = 8,
                         where: Option[String] = None): Unit =
    compactDeltaCluster(spark, dir, Seq(c1, c2), filesPerPartition, where,
      op = "compactDeltaZOrder")

  /** The multi-dimensional re-layout behind both OPTIMIZE ZORDER BY
    * (1..4 columns from SQL; [[compactDeltaZOrder]] keeps the 2-col API) and clustered-table
    * OPTIMIZE (the 1..4 columns `CLUSTER BY` declared, [[clusterBy]]):
    * every partition's live rows rewrite into `filesPerPartition`
    * files range-partitioned and sorted along the interleave of each
    * column's quantile-bucket rank. One column sorts on its rank
    * directly (a plain range layout — no interleave to dilute it).
    *
    * Column ranking is type-aware and STAYS one approximate pass:
    * numerics cast to double; date/timestamp columns rank on their
    * epoch value; string columns rank on their first-8-bytes
    * big-endian value ([[graft.functions.ZOrderKernel.prefixRank]]) —
    * order-preserving on the prefix, so the same percentile_approx
    * machinery covers them with no driver-side sample pass and no
    * per-row boxing. The per-row curve value is a codegen kernel over
    * driver-broadcast bound arrays (255 doubles per column — constant
    * size at any table size); nulls take bucket 0, the curve's NULLS
    * FIRST side.
    *
    * Same gate as [[compactDelta]]: dataChange=false, column-mapped
    * tables (name and id mode) re-stage their rewritten files under
    * physical names + field ids, row-tracked tables rewrite through
    * the preserved id profile — and the two COMPOSE (the materialized
    * identity columns ride through stagePhysicalRows as extras, same
    * as compactDelta since r16), DVs fold through the applied scan
    * and drop.
    */
  def compactDeltaCluster(spark: SparkSession, dir: String, cols: Seq[String],
                          filesPerPartition: Int = 8,
                          where: Option[String] = None,
                          op: String = "compactDeltaCluster",
                          full: Boolean = false,
                          targetFileBytes: Option[Long] = None,
                          snapOverride: Option[DeltaReader.Snapshot] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit, percentile_approx}
    import org.apache.spark.sql.types._
    require(filesPerPartition > 0, s"$op: filesPerPartition $filesPerPartition")
    require(cols.nonEmpty && cols.size <= Clustering.MaxCols,
      s"$op: takes 1..${Clustering.MaxCols} columns, got ${cols.size}")
    // snapOverride = OCC test seam (appendDeltaWithSnapshot's pattern):
    // commit from a deliberately stale snapshot to exercise the
    // maintenance-rebase tier deterministically
    val snap = snapOverride.getOrElse(DeltaReader.snapshot(spark, dir, None))
    // compactDelta's gate: column-mapped tables re-layout too (r16 —
    // the unioned rewrite re-stages through stagePhysicalRows below, so
    // rewritten files carry physical names and, in id mode, parquet
    // field ids), and tracked tables re-layout through the PRESERVED
    // profile with every surviving id materialized
    val cmMode = requireRewritable(snap, op)
    val matCols =
      if (RowTracking.enabled(snap)) RowTracking.materializedCols(snap) else None
    val table = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    cols.foreach { c =>
      require(table.fieldNames.contains(c),
        s"$op: column '$c' not in ${table.fieldNames.mkString(", ")}")
      require(!snap.partCols.contains(c),
        s"$op: '$c' is a partition column — it already prunes via " +
          "partitionValues; lay out the within-partition columns instead")
    }
    // the rankable double for each column (the curve's dimension)
    def rankDouble(c: String): org.apache.spark.sql.Column = table(c).dataType match {
      case StringType => graft.functions.ZOrderKernel.prefixRankCol(col(c))
      case DateType | TimestampNTZType => col(c).cast("timestamp_ltz").cast("double")
      case TimestampType | _: NumericType => col(c).cast("double")
      case dt => throw new IllegalArgumentException(
        s"$op: column '$c' has type ${dt.simpleString} — the curve ranks numeric, " +
          "string, date and timestamp columns only")
    }
    val scoped = where.map(partitionScope(spark, snap, snap.active, _, op))
      .getOrElse(snap.active)
    // INCREMENTAL by default (the 100-TB economics of clustering):
    // only files not already laid on the declared curve rewrite — each
    // OPTIMIZE folds the new appends into their own internally-sorted
    // cube (cost ∝ new data), every cube's min/max stays selective, and
    // `full` (OPTIMIZE ... FULL / ZORDER) re-layouts everything into
    // one cube. Adds from a cluster pass are tagged with the add
    // action's `clusteringProvider` field so the NEXT pass knows them.
    val zorder = op == "compactDeltaZOrder"
    // a liquid cube that has since gained a DV rejoins the candidates:
    // the incremental pass folds its delete debt and re-lays the
    // survivors (otherwise plain OPTIMIZE would never clear MOR debt
    // on clustered files)
    val active =
      if (full || zorder) scoped
      else {
        val (settled, fresh) = scoped.partition(a =>
          a.clusteringProvider.contains("liquid") && a.dv.isEmpty)
        // SMALL-CUBE FOLDING: without it, K incremental passes leave K
        // overlapping cubes and range pruning degrades until an
        // explicit FULL. Sub-target liquid files rejoin candidates on
        // an LSM-style tiered schedule — greedy smallest-first, a file
        // folds only while its size fits inside the pass's running
        // rewrite budget (new bytes + already-folded bytes). Equal
        // appends then fold like a binary counter: cube count stays
        // O(log(table/append)) while per-pass cost stays amortized
        // ∝ new data — a cube much larger than the recent appends is
        // settled and never rewrites (until the appends grow to its
        // scale, when rewriting it IS proportional work). Files at or
        // above targetFileBytes/2 are permanently settled regardless.
        // the settled threshold honors the table's own
        // delta.targetFileSize unless the caller overrides — the same
        // knob optimizeWrite/autoCompact size against
        val target = targetFileBytes.getOrElse(targetFileSizeOf(snap.configuration))
        var running = fresh.map(_.size).sum
        val folded = Seq.newBuilder[DeltaReader.AddFile]
        val foldable = settled.filter(_.size < target / 2).sortBy(_.size)
        var i = 0
        while (i < foldable.size && foldable(i).size <= running) {
          running += foldable(i).size
          folded += foldable(i)
          i += 1
        }
        fresh ++ folded.result()
      }
    if (active.isEmpty) return

    // quantile bounds from the REWRITTEN files only: an incremental
    // pass must not pay a whole-table scan for one bounds row (at
    // 100 TB that alone defeats the ∝-new-data economics). Each cube
    // is internally sorted by a curve over its own value distribution;
    // per-file min/max selectivity — the thing scans prune with —
    // holds per cube regardless of which pass's bounds sorted it.
    val all = DeltaReader.scanFiles(spark, dir, snap, active)
    // the per-row curve value: one column sorts on its rank double
    // directly (continuous — 255 buckets would only coarsen it);
    // 2..4 interleave their 8-bit quantile-bucket ranks, from ONE
    // approximate bounds pass over the (scoped) live table
    val zOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column =
      if (cols.size == 1) { _ => rankDouble(cols.head) }
      else {
        val qs = (1 until 256).map(_ / 256.0)
        val boundsRow = all.select(cols.map(c =>
          percentile_approx(rankDouble(c), lit(qs.toArray), lit(10000))): _*).head()
        val bounds = cols.indices.map(i =>
          Option(boundsRow.getSeq[Double](i)).map(_.toArray).getOrElse(Array.empty[Double]))
        _ => graft.functions.ZOrderKernel.interleaveCol(
          cols.zipWithIndex.map { case (c, i) =>
            graft.functions.ZOrderKernel.rankCol(rankDouble(c), bounds(i))
          })
      }

    // per-partition rewrite, unioned into ONE commit: each branch keeps
    // its own range partitioning, and the partitionBy staging routes
    // every task's rows to its partition directory
    val staged = active.groupBy(_.partitionValues).map { case (_, files) =>
      val scan = matCols match {
        case Some((idc, vc)) =>
          // carry each surviving row's EFFECTIVE id through the
          // rewrite as materialized columns (readers prefer them over
          // the new files' fresh baseRowIds)
          DeltaReader.scanFilesWithRowIds(spark, dir, snap, files)
            .withColumnRenamed("_row_id", idc)
            .withColumnRenamed("_row_commit_version", vc)
        case None => DeltaReader.scanFiles(spark, dir, snap, files)
      }
      scan
        .withColumn("__z", zOf(scan))
        .repartitionByRange(filesPerPartition, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }.reduce(_ unionByName _)
    // CM tables stage the physical shape (per-level names + field
    // ids); the curve columns were computed over LOGICAL names above,
    // so staging is the last projection before the commit
    val physC = physNameMap(table, cmMode, op)
    val stagedPhys = stagePhysicalRows(staged, table, cmMode, physC, op)
    val removes = active.sortBy(_.path).map(removeLine(_, dataChange = false))
    commitDelta(stagedPhys, dir, snap.version + 1, includeMeta = false,
      checkpointInterval = 0, partCols = snap.partCols.map(c => physC.getOrElse(c, c)),
      extraActions = removes, addDataChange = false, operation = "OPTIMIZE",
      rowIdBase = RowTracking.rowIdBase(snap),
      ictConf = snap.configuration, statsSchema = Some(table),
      clusteringProvider = if (zorder) None else Some("liquid"))
  }

  /** `ALTER TABLE t CLUSTER BY (cols...)` / `CLUSTER BY NONE` (empty
    * `cols`): ONE metadata commit that declares the protocol's
    * `clustering` writer feature (upgrading to the feature-table form
    * if needed) and writes the clustering columns into the
    * `delta.clustering` domain ([[Clustering]]). No data file moves —
    * re-keying the layout of a 100-TB table is this commit plus
    * incremental OPTIMIZE, never an atomic rewrite. CLUSTER BY NONE
    * removes the domain (the declared feature stays, as an already-met
    * obligation).
    */
  def clusterBy(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    val table = tableSchema(snap)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    if (cols.isEmpty) {
      // CLUSTER BY NONE: nothing to do unless a declaration exists
      if (!Clustering.isClustered(snap)) return
      actions += Clustering.domainAction(Nil)
    } else {
      // column-mapped tables may declare clustering (r16): the
      // clustered OPTIMIZE rewrite re-stages physical names/ids, so
      // the declaration is maintainable; only unknown modes refuse
      val cmC = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
      require(cmC == "none" || cmC == "name" || cmC == "id",
        s"clusterBy: unknown column mapping mode '$cmC'")
      Clustering.validate(table, snap.partCols, cols, "clusterBy")
      restateProtocol(snap, snap.configuration, table, Clustering.Features).foreach(actions += _)
      // the domain stores PHYSICAL names (what the files' stats carry)
      val phys = cols.map { c =>
        val f = table(c)
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else c
      }
      actions += Clustering.domainAction(phys)
    }
    commitLog(spark, snap, dir, "CLUSTER BY", snap.configuration, actions.toSeq,
      operationParameters =
        s"""{"clusteringColumns":${jsonMapper.writeValueAsString(cols.mkString(","))}}""")
  }

  /** RESTORE the Delta table to its state at `versionAsOf` — a NEW
    * commit (latest+1) whose live set equals the old snapshot's:
    * files added since the target version are tombstoned, files
    * removed since (and still physically present — i.e. not vacuumed)
    * are re-added, and a file whose deletion-vector descriptor changed
    * re-adds with the OLD descriptor (an add replaces its
    * predecessor's, so this also un-deletes DV'd rows). History above
    * the target version is preserved: time travel into the
    * pre-restore states keeps working, which is the reason RESTORE is
    * a forward commit and not a log rewind.
    *
    * Refusals, all loud: a table whose current METADATA (schema,
    * partition columns, configuration) differs from the target
    * version's (restoring metadata is a schema change this writer
    * won't silently apply); a vacuumed-away data file or DV sidecar
    * the old snapshot needs; appendOnly tables (the tombstones are
    * removes); CDF tables (a restore must write change data);
    * unknown writer obligations (same gate as [[deleteWhere]]).
    *
    * Scale: driver state is the two snapshots' file lists (each gated
    * by maxSnapshotFiles) and the diff is a set comparison on paths —
    * no data file is read or written at all; RESTORE is metadata-only.
    * Returns (readded, removed) log-relative paths, both sorted; both
    * empty means the states already agree and NO commit was written.
    */
  def restoreDelta(spark: SparkSession, dir: String,
                   versionAsOf: Long): (Seq[String], Seq[String]) = {
    val cur = DeltaReader.snapshot(spark, dir, None)
    require(versionAsOf >= 0 && versionAsOf <= cur.version,
      s"restoreDelta: version $versionAsOf outside [0, ${cur.version}]")
    val old = DeltaReader.snapshot(spark, dir, Some(versionAsOf))
    // a restore tombstones files added since the target version
    requireMutable(cur, "restoreDelta", removesRows = true)
    require(!cur.configuration.get("delta.enableChangeDataFeed").contains("true"),
      "restoreDelta: table enables Change Data Feed — a restore must write change " +
        "data files this writer does not produce; refusing to break CDF readers")
    // metadata must agree: RESTORE across a schema/partitioning/config
    // change would have to re-emit the old metaData action, silently
    // undoing a deliberate evolution — refuse and make the caller
    // decide (parse-compare the schema so key order never matters)
    require(org.apache.spark.sql.types.DataType.fromJson(old.schemaJson) ==
        org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson) &&
        old.partCols == cur.partCols && old.configuration == cur.configuration,
      s"restoreDelta: table metadata changed since version $versionAsOf " +
        "(schema, partition columns or configuration differ) — this writer does " +
        "not restore metadata; refusing")

    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)

    val oldByPath = old.active.map(a => a.path -> a).toMap
    val curByPath = cur.active.map(a => a.path -> a).toMap
    require(oldByPath.size == old.active.size && curByPath.size == cur.active.size,
      "restoreDelta: duplicate add paths in a snapshot — corrupt log, refusing")
    val removes = cur.active.filterNot(a => oldByPath.contains(a.path))
    // re-add: gone from the live set, OR present with a different DV
    // descriptor (the old add's descriptor must win again)
    val readds = old.active.filter(a => curByPath.get(a.path).forall(_.dv != a.dv))
    if (removes.isEmpty && readds.isEmpty) return (Nil, Nil)

    // every re-added data file and DV sidecar must still exist —
    // vacuum past the target version legitimately deletes them, and a
    // restore that commits dangling adds corrupts the table
    readds.foreach { a =>
      val p = DeltaReader.resolveAddPath(root, a.path)
      require(fs.exists(p),
        s"restoreDelta: data file ${a.path} needed by version $versionAsOf no longer " +
          "exists (vacuumed?) — cannot restore")
      a.dv.foreach { d =>
        if (d.storageType == "u") {
          val dp = DeltaReader.dvFilePath(root, d)
          require(fs.exists(dp),
            s"restoreDelta: deletion-vector sidecar $dp needed by version " +
              s"$versionAsOf no longer exists (vacuumed?) — cannot restore")
        }
      }
    }

    val readdLines = readds.sortBy(_.path).map(addLine(_, dataChange = true))
    commitLog(spark, cur, dir, "RESTORE", cur.configuration,
      removes.sortBy(_.path).map(removeLine(_, dataChange = true)) ++ readdLines,
      // a re-add whose path is STILL live (DV descriptor differs)
      // replaces that entry rather than growing the live set
      crcReplaced = readds.flatMap(a => curByPath.get(a.path).map(_.size)))
    (readds.map(_.path).sorted, removes.map(_.path).sorted)
  }

  /** SHALLOW CLONE: create a NEW Delta table at `dstDir` whose
    * version-0 live set is `srcDir`'s snapshot (latest, or
    * `versionAsOf`), with every `add.path` written as the ABSOLUTE URI
    * of the source data file — the protocol's own mechanism ("a
    * relative path ... or an absolute path"), and exactly what
    * delta-spark's CREATE TABLE ... SHALLOW CLONE emits. NO data file
    * is read, copied, or written: clone cost is one metadata commit,
    * O(live files) driver work, independent of table size — on a
    * 100-TB table this is the difference between an instant
    * dev/test/experiment fork and a day of copying.
    *
    * The clone is a fully independent table from the first commit:
    * NEW table id (readers must never confuse the lineages), the
    * source's schemaString / partitionColumns / protocol restated
    * verbatim, the configuration restated MINUS the version-anchored
    * properties (checkpoint-protection boundary, ICT enablement
    * provenance — they name SOURCE commit numbers; see the strip
    * below), and its own history — appends land
    * relative files next to the absolute ones, copy-on-write mutations
    * rewrite affected SOURCE files into clone-local files (the source
    * is never touched), compaction folds absolute entries into local
    * files, and vacuum on the clone never deletes outside its root
    * (absolute references outside the table dir are not walked — the
    * clone contract). Deletion-vector descriptors survive the clone:
    * "u" (source-relative sidecar) rewrites to "p" with the sidecar's
    * absolute path, inline "i" copies verbatim.
    *
    * Refusals, all loud: `dstDir` already holding a Delta log (clone
    * never overwrites), and the source-version replay gates
    * (maxSnapshotFiles, retention-cleaned versions) apply as on any
    * read. The clone SHARES data files with the source: vacuuming the
    * SOURCE can delete files the clone still references — the same
    * documented hazard real shallow clones carry; deep-copy via
    * `writeDelta(DeltaReader.read(...), ...)` when lifetimes must
    * decouple.
    */
  def cloneDelta(spark: SparkSession, srcDir: String, dstDir: String,
                 versionAsOf: Option[Long] = None): Int = {
    val hconf = spark.sessionState.newHadoopConf()
    val srcRoot = new org.apache.hadoop.fs.Path(srcDir)
    val dstRoot = new org.apache.hadoop.fs.Path(dstDir)
    val fs = dstRoot.getFileSystem(hconf)
    require(!DeltaReader.hasLogEntries(dstDir, hconf),
      s"cloneDelta: $dstDir already holds a Delta log — refusing to overwrite a table")
    val snap = DeltaReader.snapshot(spark, srcDir, versionAsOf)
    val srcFs = srcRoot.getFileSystem(hconf)
    // VERSION-ANCHORED properties reference SOURCE commit numbers and
    // must not carry into a log that starts fresh at version 0: a
    // carried checkpoint-protection boundary would refuse every read
    // of the clone (its replay base is version 0 — below any source
    // boundary — yet none of the protected history even exists here),
    // and carried ICT enablement provenance would alias onto the
    // clone's own commit at the source's enablement version and stamp
    // it with the stale source timestamp, breaking the protocol's
    // strict ICT monotonicity. The FEATURES themselves
    // (checkpointProtection, inCommitTimestamp) stay declared: the
    // clone's ICT history simply starts at its version 0, where the
    // spec makes the provenance pair optional. delta-spark's CLONE
    // strips the same properties.
    val confClone = snap.configuration -- Seq(
      "delta.requireCheckpointProtectionBeforeVersion",
      "delta.inCommitTimestampEnablementVersion",
      "delta.inCommitTimestampEnablementTimestamp")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def absUri(p: String): String =
      if (DeltaReader.isAbsoluteAddPath(p)) p // a clone of a clone keeps the origin
      else srcFs.makeQualified(DeltaReader.resolveAddPath(srcRoot, p)).toUri.toString
    // sidecars stay in the SOURCE dir — rewrite "u" (relative to the
    // source root, meaningless under the clone's) to "p" absolute
    def absDv(d: DeltaReader.DvDescriptor): DeltaReader.DvDescriptor =
      if (d.storageType != "u") d
      else d.copy(storageType = "p",
        pathOrInlineDv = srcFs.makeQualified(DeltaReader.dvFilePath(srcRoot, d)).toUri.toString)
    val files = snap.active
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    actions += commitInfoLine("CLONE",
      s"""{"source":${om.writeValueAsString(srcDir)},"sourceVersion":${snap.version}}""", None)
    actions += protocolJson(snap)
    val pcJson = snap.partCols.map(om.writeValueAsString).mkString("[", ",", "]")
    val confJson = confClone.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${om.writeValueAsString(k)}:${om.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    // deterministic like every graft log: the id derives from the CLONE's
    // path (a different id than any table commitDelta creates there would
    // get, and than the source's — lineages must not be confusable)
    actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(s"clone:$dstDir".getBytes("UTF-8"))}","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(snap.schemaJson)},"partitionColumns":$pcJson,"configuration":$confJson}}"""
    // domain metadata carries into the clone (the row-tracking high
    // watermark especially — without it, appends to a tracked clone
    // would re-issue ids the cloned files already own)
    snap.domainMetadata.toSeq.sortBy(_._1).foreach { case (domain, conf) =>
      actions += s"""{"domainMetadata":{"domain":${om.writeValueAsString(domain)},"configuration":${om.writeValueAsString(conf)},"removed":false}}"""
    }
    actions ++= files.sortBy(_.path).map { a =>
      addLine(a.copy(path = absUri(a.path), dv = a.dv.map(absDv)), dataChange = true)
    }
    val log = new org.apache.hadoop.fs.Path(dstRoot, "_delta_log")
    fs.mkdirs(log)
    val commit = new org.apache.hadoop.fs.Path(log, f"${0L}%020d.json")
    GraftLogStore.commitOrThrow(spark, fs, commit,
      actions.mkString("\n").getBytes("UTF-8"),
      "a concurrent writer won version 0; clone into a fresh directory",
      // the stripped conf: a foreign source enabled at ITS version 0
      // would otherwise alias its provenance stamp onto the clone's
      ictConf = confClone)
    // a big clone's version-0 commit is one JSON file with `files`
    // add lines, and commit JSON parses on the DRIVER at every replay
    // (the format's design assumes commits are small) — fold it into a
    // parquet checkpoint immediately so readers replay distributedly;
    // measured at 200k files: scalar snapshot 0.8 s -> O(ms)
    if (files.size >= 10000) checkpointDelta(spark, dstDir, 0L)
    files.size
  }

  /** Enable ROW TRACKING on an existing table (PROTOCOL.md row
    * tracking, graft's non-preserving writer profile — see
    * [[RowTracking]]): ONE commit upgrades the protocol to writer v7
    * with `rowTracking` + `domainMetadata` declared (legacy obligations
    * made explicit, the same discipline as the DV upgrade), re-adds
    * every live file with an assigned `baseRowId` (dataChange=false —
    * ids are metadata, not a byte of data moves at any table size),
    * stamps `delta.enableRowTracking=true`, and establishes the
    * `delta.rowTracking` high watermark. After this, every
    * create/append/rewrite commit assigns fresh ids and advances the
    * watermark atomically; `DeltaReader.readWithRowIds` exposes
    * `_row_id` / `_row_commit_version`. Requires numRecords stats on
    * every live file (graft always writes them; compact a foreign
    * stats-less table through graft first). Idempotent.
    */
  def enableRowTracking(spark: SparkSession, dir: String): Unit = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    if (RowTracking.enabled(snap) && RowTracking.watermark(snap).isDefined) return
    val table = tableSchema(snap)
    Seq(RowTracking.DefaultRowIdCol, RowTracking.DefaultRowVerCol).foreach(c =>
      require(!table.fieldNames.contains(c),
        s"enableRowTracking: table column '$c' collides with the materialized " +
          "row-identity column name the preserved profile writes — rename it first"))
    val om = jsonMapper
    val files = snap.active.sortBy(_.path)
    def numRecords(a: DeltaReader.AddFile): Long =
      a.stats.flatMap(st => Option(om.readTree(st).get("numRecords")).map(_.asLong()))
        .getOrElse(throw new IllegalArgumentException(
          s"enableRowTracking: live file ${a.path} carries no numRecords stats — " +
            "row-id backfill needs exact per-file row counts; rewrite the table " +
            "through graft (compactDelta) first"))
    // metaData restated with delta.enableRowTracking in the
    // configuration, plus the MATERIALIZED identity column names the
    // preserved profile rewrites through (compactDelta stores each
    // surviving row's id under them; readers prefer them over
    // baseRowId + row_index)
    val conf = snap.configuration +
      ("delta.enableRowTracking" -> "true") +
      (RowTracking.RowIdColConf -> RowTracking.DefaultRowIdCol) +
      (RowTracking.RowVerColConf -> RowTracking.DefaultRowVerCol)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    restateProtocol(snap, conf, table, RowTracking.Features).foreach(actions += _)
    actions += metaLineRaw(dir, snap, snap.schemaJson, snap.partCols, conf)
    // backfill: re-add every live file with its id range (last writer
    // wins per path — no removes needed; dataChange=false, metadata only)
    val bases = files.map(numRecords).scanLeft(0L)(_ + _)
    actions ++= files.zip(bases).map { case (a, base) =>
      addLine(a.copy(baseRowId = Some(base), defaultRowCommitVersion = Some(snap.version + 1)),
        dataChange = false)
    }
    actions += RowTracking.watermarkAction(bases.last - 1)
    commitLog(spark, snap, dir, "ENABLE ROW TRACKING", conf, actions.toSeq,
      // every backfill add replaces a live entry (no paired removes)
      crcReplaced = files.map(_.size))
  }

  /** SET (or remove) a DOMAIN METADATA entry (PROTOCOL.md): one
    * metadata-only commit; the table must already declare the
    * `domainMetadata` writer feature (enableRowTracking does, or
    * upgradeProtocol adds it). `delta.*` system domains are refused
    * except through their owning operations — hand-editing the
    * row-tracking watermark would corrupt id assignment.
    */
  def setDomainMetadata(spark: SparkSession, dir: String, domain: String,
                        configuration: String, removed: Boolean = false): Unit = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' is system-owned — delta.* domains are maintained by " +
        "their owning operations (enableRowTracking etc.), not set directly")
    val snap = DeltaReader.snapshot(spark, dir, None)
    require(snap.writerFeatures.contains("domainMetadata"),
      "table does not declare the domainMetadata writer feature — " +
        "upgradeProtocol(minWriter = 7, writerFeatures = Seq(\"domainMetadata\")) first")
    val om = jsonMapper
    commitLog(spark, snap, dir, "SET DOMAIN METADATA", snap.configuration, Seq(
      s"""{"domainMetadata":{"domain":${om.writeValueAsString(domain)},"configuration":${om.writeValueAsString(configuration)},"removed":$removed}}"""),
      operationParameters = s"""{"domain":${om.writeValueAsString(domain)}}""")
  }

  /** UPGRADE the table protocol (delta-spark's
    * `upgradeTableProtocol`/`addFeatureSupport`): one commit carrying
    * the new `protocol` action — versions may only go UP, declared
    * features are never dropped, and version-7/3 forms must list
    * their features explicitly (the feature-table shape): the requested
    * ones, reader features in both lists, beside every legacy
    * obligation the table carries ([[restateProtocol]]). Writing a
    * feature this library cannot honor is allowed — that is what an
    * upgrade IS — and every graft writer gate then refuses its own
    * writes against it, exactly the protection the protocol intends.
    */
  def upgradeProtocol(spark: SparkSession, dir: String,
                      minReader: Int, minWriter: Int,
                      readerFeatures: Seq[String] = Nil,
                      writerFeatures: Seq[String] = Nil): Unit = {
    val snap = DeltaReader.snapshot(spark, dir, None)
    require(minReader >= snap.minReader && minWriter >= snap.minWriter,
      s"upgradeProtocol: ($minReader, $minWriter) would DOWNGRADE the table's " +
        s"(${snap.minReader}, ${snap.minWriter}) — readers depending on the declared " +
        "requirements would misread the data; refusing")
    val rf = (snap.readerFeatures ++ readerFeatures).distinct.sorted
    val wf = (snap.writerFeatures ++ writerFeatures).distinct.sorted
    require(minReader < 3 || minWriter >= 7,
      "upgradeProtocol: reader version 3 is the feature-table form and requires " +
        "writer version 7 (PROTOCOL.md) — a (3, <7) protocol is not a valid table")
    require(minReader < 3 || rf.nonEmpty ||
        snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none",
      "upgradeProtocol: minReaderVersion 3 with NO reader features would be a malformed " +
        "table (the feature form declares its reader requirements explicitly) — pass " +
        "readerFeatures")
    val proto =
      if (minWriter < 7) protocolLine(minReader, minWriter, rf, wf)
      else restateProtocol(snap, snap.configuration, tableSchema(snap), writerFeatures.toSet,
        readerFeatures.toSet, minReader).getOrElse(protocolJson(snap))
    commitLog(spark, snap, dir, "UPGRADE PROTOCOL", snap.configuration, Seq(proto))
  }

  /** RESTORE TO TIMESTAMP — [[restoreDelta]] at the version
    * [[DeltaReader.versionAtTimestamp]] resolves (delta-spark's
    * RESTORE ... TO TIMESTAMP AS OF).
    */
  def restoreDeltaTimestamp(spark: SparkSession, dir: String,
                            timestampMillis: Long): (Seq[String], Seq[String]) =
    restoreDelta(spark, dir, DeltaReader.versionAtTimestamp(spark, dir, timestampMillis))

  /** SHALLOW CLONE at a timestamp — [[cloneDelta]] of the source
    * version live at `timestampMillis`.
    */
  def cloneDeltaTimestamp(spark: SparkSession, srcDir: String, dstDir: String,
                          timestampMillis: Long): Int =
    cloneDelta(spark, srcDir, dstDir,
      Some(DeltaReader.versionAtTimestamp(spark, srcDir, timestampMillis)))

  /** Write a classic single-file checkpoint at `version`: the replayed
    * snapshot state (protocol + metaData + live adds) compacted into
    * one parquet file, plus the `_last_checkpoint` hint. The repo's
    * own [[DeltaReader]] replays from it, so a reader never walks
    * commits below the newest checkpoint — the log stays O(interval)
    * to read no matter how many commits the table accumulates.
    *
    * Protocol fields are written as int32, matching what real
    * delta-spark checkpoints store (the reader goes through `Number`
    * for exactly this reason).
    */
  def checkpointDelta(spark: SparkSession, dir: String, version: Long,
                      parts: Int = 0): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // parts = 0 (default) means "writer's choice": one classic file,
    // or live-set auto-sizing when the v2 author takes over; an
    // EXPLICIT 1 forces a single sidecar there — the two requests are
    // distinct, so the default is expressed at the parameter level
    // instead of reinterpreting the legal value 1
    require(parts >= 0, s"checkpointDelta: parts $parts must be >= 0")
    // idempotent: a checkpoint of this version (any form) is already a
    // complete snapshot — re-authoring would race readers replaying it
    val log0 = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs0 = log0.getFileSystem(spark.sessionState.newHadoopConf())
    val cpPrefix = f"$version%020d.checkpoint"
    if (fs0.exists(log0) &&
        fs0.listStatus(log0).exists(_.getPath.getName.startsWith(cpPrefix))) return
    val snap = DeltaReader.snapshot(spark, dir, Some(version))
    // a v2Checkpoints table (declared feature or
    // delta.checkpointPolicy=v2) obligates the v2 file shape — route
    // to the v2 author HERE so every cadence site (commit-interval
    // loop, property cadence, nightly maintenance, truncate-history)
    // honors the obligation without knowing about it. Routing runs
    // BEFORE this author's protection gate: the v2 author carries its
    // own (it is public API too), so each entry point gates once.
    if (snap.readerFeatures.contains("v2Checkpoints") ||
        snap.configuration.get("delta.checkpointPolicy").contains("v2")) {
      // the default (0) defers to the v2 author's live-set
      // auto-sizing; explicit counts — including 1 — carry over
      checkpointDeltaV2(spark, dir, version, sidecarParts = parts)
      return
    }
    // checkpointProtection (PROTOCOL.md): the boundary a TRUNCATE
    // HISTORY drop stamped — authoring a checkpoint BELOW it would
    // hand later readers a replay base inside the dropped feature's
    // history; the feature exists to forbid exactly that
    DeltaReader.snapshot(spark, dir, None).configuration
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .map(_.toLong).foreach { bound =>
        require(version >= bound,
          s"checkpointDelta: version $version is below the table's checkpoint " +
            s"protection boundary $bound (a TRUNCATE HISTORY feature drop) — " +
            "a checkpoint there would base replays inside dropped-feature history")
      }
    // delta.checkpoint.writeStatsAsStruct authors add.stats_parsed —
    // the typed struct form delta-spark can read without a JSON parse
    // per add; writeStatsAsJson=false (with the struct on) drops the
    // JSON field, delta-spark's struct-only layout. The struct's shape
    // is the table schema restricted to skippable leaves.
    val statsParsedSchema: Option[StructType] =
      statsParsedSchemaOf(snap.configuration, snap.schemaJson)
    val writeStatsJson =
      !snap.configuration.get("delta.checkpoint.writeStatsAsJson").contains("false") ||
        statsParsedSchema.isEmpty  // never drop BOTH forms
    // checkpoint actions carry every field PROTOCOL.md requires of them:
    // add needs size + modificationTime and metaData needs format +
    // configuration — graft's own reader copes without, but delta-spark
    // reading a graft-written checkpoint does not, which would defeat
    // the interop purpose of writing the Delta format at all
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        // present (non-null) exactly when the table's versions require
        // them: readerFeatures at minReaderVersion >= 3, writerFeatures
        // at minWriterVersion >= 7 — PROTOCOL.md's feature-table form
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        // a checkpoint that re-emitted a DV-carrying add WITHOUT its
        // descriptor would resurrect the deleted rows the moment it
        // becomes the replay base — the descriptor rides along, in the
        // field shapes real delta-spark checkpoints use (int32
        // offset/sizeInBytes, int64 cardinality)
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        // data-skipping stats survive checkpointing or every pruned
        // operation degrades to full scans once the checkpoint becomes
        // the replay base
        StructField("stats", StringType)) ++
        // delta-spark's struct form (delta.checkpoint.writeStatsAsStruct):
        // typed per-leaf min/max/nullCount, parseable without a JSON
        // decode per add at resolve time
        (if (statsParsedSchema.isDefined)
          Seq(StructField("stats_parsed", statsParsedSchema.get)) else Nil) ++
        Seq(
        // row-tracking identities survive checkpointing (PROTOCOL.md:
        // baseRowId/defaultRowCommitVersion are checkpoint add fields)
        // or every row would silently change identity when the
        // checkpoint became the replay base
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        // clustered-layout provenance survives checkpointing or the
        // next incremental OPTIMIZE re-layouts the whole table
        StructField("clusteringProvider", StringType)))),
      // transaction identifiers MUST survive checkpointing (PROTOCOL.md
      // checkpoint contents) or a streaming writer would replay every
      // batch after log retention cleans its watermark commit
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      // domain metadata survives checkpointing (PROTOCOL.md checkpoint
      // contents) — the row-tracking high watermark lives here, and a
      // foreign domain dropped at checkpoint time would be lost forever
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val scalarRows =
      // protocol is restated VERBATIM from the replayed log — writing
      // (1,2) here would downgrade a column-mapping table's declared
      // requirements and make a real reader misinterpret the data the
      // versions gate
      (Row(Row(snap.minReader.toInt, snap.minWriter.toInt,
        if (snap.minReader >= 3) snap.readerFeatures else null,
        if (snap.minWriter >= 7) snap.writerFeatures else null), null, null, null, null) +:
      Row(null,
        // the table's ACTUAL id from the replayed log — fabricating one
        // from the dir string would change the table's identity the
        // moment the checkpoint becomes the replay base (readers that
        // track metaData.id, e.g. a streaming source, fail on the
        // switch); the dir-derived UUID is only the fallback for a log
        // whose metaData carried no id at all
        Row(snap.metaId.getOrElse(
            java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString),
          Row("parquet", Map.empty[String, String]),
          snap.schemaJson, snap.partCols, snap.configuration),
        null, null, null) +:
      snap.txns.toSeq.sortBy(_._1).map { case (appId, v) =>
        Row(null, null, null, Row(appId, v), null)
      }) ++
      snap.domainMetadata.toSeq.sortBy(_._1).map { case (domain, conf) =>
        Row(null, null, null, null, Row(domain, conf, false))
      }
    // the ADD rows stay a DISTRIBUTED plan end to end: the replayed
    // live set (checkpoint scan ∪ commit suffix, anti-joined — an
    // advanced snapshot keeps the newest checkpoint's scan beside its
    // driver list for exactly this) projects into the checkpoint's add
    // struct and writes through executors — authoring a checkpoint of
    // a multi-million-file table never materializes the file list on
    // the driver (the previous snap.active form did, the write-side
    // twin of r8's replay fix)
    import org.apache.spark.sql.functions.{coalesce => cls, col => c, lit => l, struct => st, when}
    val addT = schema("add").dataType
    val addsDf = snap.activeDf(spark).select(
      l(null).cast(schema("protocol").dataType).as("protocol"),
      l(null).cast(schema("metaData").dataType).as("metaData"),
      st((Seq(
        c("path"),
        cls(c("pv"), org.apache.spark.sql.functions.map())
          .as("partitionValues"),
        cls(c("size"), l(0L)).as("size"),
        cls(c("mtime"), l(0L)).as("modificationTime"),
        l(true).as("dataChange"),
        when(c("dv_st").isNotNull, st(
          c("dv_st").as("storageType"), c("dv_p").as("pathOrInlineDv"),
          c("dv_off").as("offset"), c("dv_sz").as("sizeInBytes"),
          c("dv_card").as("cardinality"))).as("deletionVector"),
        (if (writeStatsJson) c("stats") else l(null).cast(StringType)).as("stats")) ++
        statsParsedSchema.map(statsParsedColumn).toSeq ++
        Seq(c("brid").as("baseRowId"),
          c("drcv").as("defaultRowCommitVersion"),
          c("clp").as("clusteringProvider"))): _*).cast(addT).as("add"),
      l(null).cast(schema("txn").dataType).as("txn"),
      l(null).cast(schema("domainMetadata").dataType).as("domainMetadata"))
    val scalarsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(scalarRows, 1), schema)
    val full = scalarsDf.unionByName(addsDf)
    val hconf = spark.sessionState.newHadoopConf()
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(hconf)
    // Spark writes a directory; the spec wants ONE file named
    // NNN.checkpoint.parquet (or K multi-part files) — write to a
    // scratch dir, rename into place, then publish _last_checkpoint.
    // Order matters for crash safety: the hint is written only after
    // the checkpoint file exists (a reader ignores a missing hint but
    // would fail on a hinted-but-absent checkpoint).
    val scratch = new org.apache.hadoop.fs.Path(log,
      s"_cp_stage_${version}_${java.util.UUID.randomUUID().toString.take(8)}")
    (if (parts <= 1) full.coalesce(1) else full.repartition(parts))
      .write.parquet(scratch.toString)
    val part = fs.listStatus(scratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    if (parts <= 1) {
      require(part.length == 1, s"expected one checkpoint part file, got ${part.length}")
      val dest = new org.apache.hadoop.fs.Path(log, f"$version%020d.checkpoint.parquet")
      require(fs.rename(part.head, dest), s"rename ${part.head} -> $dest failed")
    } else {
      // multi-part form: NNN.checkpoint.PPPPPPPPPP.QQQQQQQQQQ.parquet,
      // part numbers 1-based, total = what the writer produced (empty
      // partitions still write a part file, so this equals `parts`)
      val total = part.length
      part.zipWithIndex.foreach { case (p, i) =>
        val dest = new org.apache.hadoop.fs.Path(log,
          f"$version%020d.checkpoint.${i + 1}%010d.$total%010d.parquet")
        require(fs.rename(p, dest), s"rename $p -> $dest failed")
      }
    }
    fs.delete(scratch, true)
    // ONE aggregation serves the hint's action count AND the version
    // checksum's (numFiles, tableSizeBytes) — re-seeding the .crc
    // chain here heals tables whose incremental chain broke (foreign
    // commits, cloned history) at checkpoint cadence
    val (nLive, _) = reseedChecksum(spark, fs, log, dir, snap, version)
    val nActions = scalarRows.size + nLive
    val hint = new org.apache.hadoop.fs.Path(log, "_last_checkpoint")
    val out = fs.create(hint, true)
    // multi-part hints carry "parts" (delta-spark's form) so real
    // readers know how many files complete the checkpoint;
    // sizeInBytes/numOfAddFiles are delta-spark's sizing hints — a
    // reader can budget the replay scan without listing the parts
    val partsField = if (parts <= 1) "" else s""","parts":${part.length}"""
    val cpBytes = (if (parts <= 1)
        Seq(new org.apache.hadoop.fs.Path(log, f"$version%020d.checkpoint.parquet"))
      else (1 to part.length).map(i => new org.apache.hadoop.fs.Path(log,
        f"$version%020d.checkpoint.$i%010d.${part.length}%010d.parquet")))
      .map(p => fs.getFileStatus(p).getLen).sum
    try out.write((s"""{"version":$version,"size":$nActions$partsField""" +
      s""","sizeInBytes":$cpBytes,"numOfAddFiles":$nLive}""").getBytes("UTF-8"))
    finally out.close()
    // metadata cleanup rides every checkpoint (delta-spark's cadence):
    // best-effort — the checkpoint above is durable either way
    try { cleanExpiredLogsWithConf(spark, dir, snap.configuration); () }
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"expired-log cleanup after checkpoint $version of $dir skipped: ${e.getMessage}")
    }
  }

  /** Write a V2-SPEC checkpoint (reader feature `v2Checkpoints`' file
    * shape, which [[graft.sources.DeltaReader]] also reads): the file
    * state lands as `sidecarParts` parquet SIDECARS under
    * `_delta_log/_sidecars/` — written through the same distributed
    * [[DeltaReader.Snapshot.activeDf]] plan as the classic multi-part
    * form, no driver file list — and a small MANIFEST
    * (`<v>.checkpoint.<uniqueStr>.parquet`) carries the scalar
    * actions, the `checkpointMetadata` (version verified at read) and
    * one `sidecar` pointer per part. This is the form newer
    * delta-spark writes by default; producing it closes the v2 interop
    * loop the reader opened. Idempotent like [[checkpointDelta]]
    * (any existing checkpoint form at `version` wins).
    *
    * `sidecarParts = 0` (the default) SIZES the sidecar count from the
    * live set: ceil(liveFiles / spark.graft.delta.checkpoint
    * .sidecarTargetActions) (default 1M adds per sidecar) — a 100-TB
    * table's millions of adds split across bounded parquet files a
    * reader scans in parallel instead of one enormous sidecar; an
    * explicit count still wins. The live aggregation this needs is the
    * same one the checksum re-seed runs anyway — one job, not two.
    */
  def checkpointDeltaV2(spark: SparkSession, dir: String, version: Long,
                        sidecarParts: Int = 0): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(sidecarParts >= 0, s"checkpointDeltaV2: sidecarParts $sidecarParts")
    val hconf = spark.sessionState.newHadoopConf()
    val log = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val fs = log.getFileSystem(hconf)
    val cpPrefix = f"$version%020d.checkpoint"
    if (fs.exists(log) &&
        fs.listStatus(log).exists(_.getPath.getName.startsWith(cpPrefix))) return
    val snap = DeltaReader.snapshot(spark, dir, Some(version))
    // same checkpointProtection gate as the classic author — this is
    // public API too, and a direct call below the boundary would base
    // replays inside dropped-feature history
    DeltaReader.snapshot(spark, dir, None).configuration
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .map(_.toLong).foreach { bound =>
        require(version >= bound,
          s"checkpointDeltaV2: version $version is below the table's checkpoint " +
            s"protection boundary $bound (a TRUNCATE HISTORY feature drop) — " +
            "a checkpoint there would base replays inside dropped-feature history")
      }
    // ONE live aggregation serves the checksum re-seed AND the auto
    // sidecar sizing (the re-seed also heals broken .crc chains at
    // checkpoint cadence, same contract as the classic author)
    val (nLive, liveBytes) = reseedChecksum(spark, fs, log, dir, snap, version)
    val targetActions = spark.conf
      .get("spark.graft.delta.checkpoint.sidecarTargetActions", "1000000").toLong
    require(targetActions > 0,
      s"sidecarTargetActions $targetActions must be positive")
    val effParts: Int =
      if (sidecarParts >= 1) sidecarParts
      else math.max(1L, (nLive + targetActions - 1) / targetActions).toInt
    val v2StatsParsed = statsParsedSchemaOf(snap.configuration, snap.schemaJson)
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      StructField("stats", StringType)) ++
      v2StatsParsed.map(sps => StructField("stats_parsed", sps)).toSeq ++ Seq(
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("clusteringProvider", StringType)))
    val v2WriteJson =
      !snap.configuration.get("delta.checkpoint.writeStatsAsJson").contains("false") ||
        v2StatsParsed.isEmpty
    // sidecars: the distributed live-set plan, one `add` column
    import org.apache.spark.sql.functions.{coalesce => cls, col => c, lit => l, struct => st, when}
    val addsDf = snap.activeDf(spark).select(
      st((Seq(
        c("path"),
        cls(c("pv"), org.apache.spark.sql.functions.map()).as("partitionValues"),
        cls(c("size"), l(0L)).as("size"),
        cls(c("mtime"), l(0L)).as("modificationTime"),
        l(true).as("dataChange"),
        when(c("dv_st").isNotNull, st(
          c("dv_st").as("storageType"), c("dv_p").as("pathOrInlineDv"),
          c("dv_off").as("offset"), c("dv_sz").as("sizeInBytes"),
          c("dv_card").as("cardinality"))).as("deletionVector"),
        (if (v2WriteJson) c("stats") else l(null).cast(StringType)).as("stats")) ++
        v2StatsParsed.map(statsParsedColumn).toSeq ++
        Seq(c("brid").as("baseRowId"),
          c("drcv").as("defaultRowCommitVersion"),
          c("clp").as("clusteringProvider"))): _*).cast(addT).as("add"))
    val sidecarDir = new org.apache.hadoop.fs.Path(log, "_sidecars")
    fs.mkdirs(sidecarDir)
    val scratch = new org.apache.hadoop.fs.Path(log,
      s"_cpv2_stage_${version}_${java.util.UUID.randomUUID().toString.take(8)}")
    (if (effParts <= 1) addsDf.coalesce(1) else addsDf.repartition(effParts))
      .write.parquet(scratch.toString)
    val parts = fs.listStatus(scratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val uid = java.util.UUID.nameUUIDFromBytes(s"$dir#v2cp#$version".getBytes("UTF-8"))
    val sidecars = parts.zipWithIndex.map { case (p, i) =>
      val name = s"$uid-$i.parquet"
      val dest = new org.apache.hadoop.fs.Path(sidecarDir, name)
      val size = fs.getFileStatus(p).getLen
      require(fs.rename(p, dest), s"rename $p -> $dest failed")
      (name, size)
    }
    fs.delete(scratch, true)
    // manifest: scalar actions + checkpointMetadata + sidecar pointers
    val mSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        // informative TAGS (delta-spark's checkpointMetadata shape
        // carries a map<string,string> a reader may ignore): sizing
        // facts so an operator can see how the sidecars were split
        // without scanning them
        StructField("tags", MapType(StringType, StringType))))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val mRows =
      (Row(Row(snap.minReader.toInt, snap.minWriter.toInt,
        if (snap.minReader >= 3) snap.readerFeatures else null,
        if (snap.minWriter >= 7) snap.writerFeatures else null),
        null, null, null, null, null) +:
      Row(null,
        Row(snap.metaId.getOrElse(
            java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString),
          Row("parquet", Map.empty[String, String]),
          snap.schemaJson, snap.partCols, snap.configuration),
        null, null, null, null) +:
      Row(null, null, null, Row(version, Map(
        "numSidecars" -> sidecars.length.toString,
        "numAddFiles" -> nLive.toString,
        "tableSizeBytes" -> liveBytes.toString,
        "sidecarTargetActions" -> targetActions.toString)), null, null) +:
      snap.txns.toSeq.sortBy(_._1).map { case (appId, v) =>
        Row(null, null, Row(appId, v), null, null, null)
      }) ++ sidecars.map { case (name, size) =>
        Row(null, null, null, null, Row(name, size, 0L), null)
      } ++ snap.domainMetadata.toSeq.sortBy(_._1).map { case (domain, conf) =>
        Row(null, null, null, null, null, Row(domain, conf, false))
      }
    val mScratch = new org.apache.hadoop.fs.Path(log,
      s"_cpv2m_stage_${version}_${java.util.UUID.randomUUID().toString.take(8)}")
    spark.createDataFrame(spark.sparkContext.parallelize(mRows.toSeq, 1), mSchema)
      .coalesce(1).write.parquet(mScratch.toString)
    val mPart = fs.listStatus(mScratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    require(mPart.length == 1, s"expected one manifest file, got ${mPart.length}")
    val mDest = new org.apache.hadoop.fs.Path(log,
      f"$version%020d.checkpoint.$uid.parquet")
    require(fs.rename(mPart.head, mDest), s"rename ${mPart.head} -> $mDest failed")
    fs.delete(mScratch, true)
    // (the checksum chain was re-seeded up front, where the same live
    // aggregation sized the sidecars)
    val hint = new org.apache.hadoop.fs.Path(log, "_last_checkpoint")
    val out = fs.create(hint, true)
    // sizing hints like the classic form: manifest + sidecar bytes,
    // live add count from the up-front aggregation
    val cpBytes = fs.getFileStatus(mDest).getLen + sidecars.map(_._2).sum
    try out.write((s"""{"version":$version,"size":${mRows.size}""" +
      s""","sizeInBytes":$cpBytes,"numOfAddFiles":$nLive}""").getBytes("UTF-8"))
    finally out.close()
    try { cleanExpiredLogsWithConf(spark, dir, snap.configuration); () }
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"expired-log cleanup after v2 checkpoint $version of $dir skipped: ${e.getMessage}")
    }
  }

  /** Bucketed table layout — the CO-LOCATED JOIN mechanism: both sides
    * hash-bucketed by the join key into the same bucket count join
    * with NO exchange at all (each task reads matching bucket files
    * from both tables), where plain parquet pays two full shuffles.
    * At 100 TB this is the difference between a join that moves the
    * lake over the network and one that doesn't; the price is paid
    * once at write time. Bucketing rides the session catalog
    * (`saveAsTable` — bucket metadata lives in the metastore;
    * `spark.sql.warehouse.dir` controls the physical location).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Training-data export: a deterministic, seed-reproducible global
    * shuffle into `numShards` equal-ish shards (`shard=N` directories,
    * one file each). Order within a shard is the seeded doc-id hash —
    * so the export is bit-reproducible run-over-run for the same
    * (input, seed, numShards), and re-exporting with a new seed is a
    * fresh epoch-level reshuffle. No global sort: shard assignment and
    * in-shard order both come from the hash, so the only movement is
    * ONE hash-partitioned exchange (each row shipped once), exactly
    * what a 100-TB corpus export can afford.
    */
  def writeTrainingShards(docs: DataFrame, path: String, numShards: Int,
                          seed: Long, id: String = "doc_id",
                          mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val h = xxhash64(lit(seed), col(id))
    docs
      .withColumn("shard", pmod(h, lit(numShards)).cast("int"))
      .withColumn("__ord", h)
      .repartition(numShards, col("shard"))
      // id tie-break: equal hashes (collisions) must not make the
      // in-file order depend on arrival order
      .sortWithinPartitions(col("shard"), col("__ord"), col(id))
      .drop("__ord")
      .write.mode(mode).partitionBy("shard").parquet(path)
  }
}
