package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType,
  StringType, StructField, StructType, TimestampType}

/** Minimal read path for the Delta Lake table format, implemented
  * against the PUBLIC protocol spec (delta-io/delta PROTOCOL.md)
  * because the delta-spark connector is not on the classpath: a Delta
  * table is parquet data files plus an ordered `_delta_log` of JSON
  * commits (optionally compacted into parquet checkpoints), and a
  * snapshot is the add-file set left after replaying the log.
  *
  * Supported: JSON commits, classic single-file AND multi-part
  * checkpoints (both discovered by listing — `_last_checkpoint` is an
  * optimization hint, not required for correctness), partition
  * columns (types parsed from `metaData.schemaString`, a Spark
  * StructType JSON), time travel via `versionAsOf`, column mapping
  * (name mode), and deletion vectors (inline and sidecar: the
  * roaring-bitmap row indexes anti-filter the scan through
  * `_metadata.row_index`), and absolute `add.path` URIs (what shallow
  * clones and external files write — resolved as the URI they are
  * rather than against the table root). Refused LOUDLY rather than
  * misread: reader features beyond columnMapping/deletionVectors, and
  * a log whose retention cleaned commits below the replay base (a
  * silent partial snapshot otherwise).
  *
  * All log access rides the Hadoop FileSystem API resolved from the
  * table path's scheme — a `java.io.File` walk would silently see no
  * `_delta_log` on hdfs:// or s3a:// and fall through to a raw
  * parquet read of staged files.
  *
  * Scale: JSON commits are driver-parsed, which is the design of the
  * format itself (the commit suffix past a checkpoint is bounded by
  * checkpointInterval); the CHECKPOINT — O(live files), millions of
  * entries on a 100-TB table — is never collected wholesale: its add
  * entries stay a distributed DataFrame, the live set resolves via a
  * broadcast anti-join against the (small) suffix, and only the final
  * file list the scan needs reaches the driver, lazily and gated by
  * `spark.graft.delta.maxSnapshotFiles`. The DATA read stays a fully
  * distributed parquet scan with pushdown and pruning: one relation
  * whose partition filters prune files when the paths name the log's
  * partition values, else one union branch per partition-value tuple
  * (reference: the lake formats named
  * in the build brief; no reference-repo counterpart — MaCO reads raw
  * csv/parquet only).
  */
object DeltaReader {

  /** PROTOCOL.md `add.deletionVector` descriptor: which rows of the
    * data file are deleted, stored as a serialized roaring bitmap
    * either inline (`storageType` "i", base85 bytes in
    * `pathOrInlineDv`) or in a sidecar `.bin` file ("u": base85 UUID
    * suffix naming `deletion_vector_<uuid>.bin` under an optional
    * random prefix; "p": absolute path). `offset` locates the DV
    * inside a shared sidecar (one file may hold many DVs).
    */
  private[graft] case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                         offset: Option[Int], sizeInBytes: Int,
                                         cardinality: Long)

  /** `size`/`modificationTime` ride through the snapshot so the
    * checkpoint writer can emit them — the protocol REQUIRES them in
    * checkpoint `add` actions, and dropping them would break real
    * delta-spark readers of graft-written checkpoints.
    */
  private[graft] case class AddFile(path: String, partitionValues: Map[String, String],
                                      size: Long = 0L, modificationTime: Long = 0L,
                                      dv: Option[DvDescriptor] = None,
                                      stats: Option[String] = None,
                                      baseRowId: Option[Long] = None,
                                      defaultRowCommitVersion: Option[Long] = None,
                                      clusteringProvider: Option[String] = None)

  /** The replayed log state at one version — what both the reader and
    * the checkpoint writer need: the live add set plus table metadata
    * (`configuration` carries `delta.columnMapping.mode`; a checkpoint
    * must re-emit it or a remounted reader loses the mapping).
    * `minWriter` and the feature lists ride along for the same reason:
    * a checkpoint that re-stated the protocol as (1,2) would DOWNGRADE
    * a column-mapping table's declared requirements, and a real reader
    * replaying from that checkpoint would misinterpret the data it
    * gates. `sources` names the log files a replay from scratch reads
    * for this state — the newest checkpoint at or below it and the
    * commit or compaction files after that (name relative to
    * `_delta_log` → length, mtime): the snapshot stays valid while each
    * of them does, see [[SnapshotCache]].
    */
  private[graft] final class Snapshot(val version: Long,
                                      private[sources] val meta: MetaAction,
                                      private[sources] val protocol: ProtocolAction,
                                      val txns: Map[String, Long],
                                      val domainMetadata: Map[String, String],
                                      files0: LiveFiles,
                                      private[graft] val sources: Map[String, (Long, Long)]) {
    def schemaJson: String = meta.schemaString
    def partCols: Seq[String] = meta.partitionColumns
    def configuration: Map[String, String] = meta.configuration
    def metaId: Option[String] = meta.id
    /** The metaData action's inner object, VERBATIM from wherever it
      * was ingested (commit line / JSON manifest: the raw node; parquet
      * checkpoint: the struct row re-serialized with every field it
      * carries). The version-checksum re-seed copies this node into the
      * .crc — delta-spark loads protocol/metadata straight from the .crc
      * and compares it against replayed state, so a reconstructed field
      * subset (no format/name/createdTime) would diverge there.
      */
    def metaRaw: Option[String] = Some(meta.raw)
    def minReader: Long = protocol.minReader
    def minWriter: Long = protocol.minWriter
    val readerFeatures: Seq[String] = protocol.readerFeatures.toSeq.sorted
    val writerFeatures: Seq[String] = protocol.writerFeatures.toSeq.sorted

    @volatile private[sources] var files: LiveFiles = files0
    @volatile private var resolved: Seq[AddFile] = null

    /** The live add set as a DISTRIBUTED DataFrame in the resolve shape
      * ([[checkpointAdds]]) — never collected: the checkpoint's adds stay
      * a scan, the (small) commit suffix anti-joins them away and its
      * own survivors union in. The checkpoint WRITER consumes this, so
      * authoring a checkpoint of a multi-million-file table costs no
      * driver memory beyond the list the snapshot already holds.
      */
    def activeDf(s: SparkSession): DataFrame = files.asDf(s)

    /** The resolved live add set, resolved on first use: forcing it
      * runs the distributed last-writer-wins resolution over the
      * checkpoint and collects the final file list (gated by
      * `spark.graft.delta.maxSnapshotFiles`) to the driver, or derives
      * it in memory from an earlier snapshot's list — scalar-only
      * consumers (txn watermarks, append gates, version discovery)
      * never pay a per-file cost at all. Once resolved, a snapshot
      * keeps only its own list, releasing the ancestor's list it was
      * derived from (a checkpoint scan stays for [[activeDf]]).
      */
    def active: Seq[AddFile] = {
      val r = resolved
      if (r != null) r
      else synchronized {
        if (resolved == null) {
          val f = files
          resolved = f.resolve(version, None)
          files =
            if (f.cp.isEmpty) LiveFiles(None, resolved, version, Vector.empty, f.maxFiles)
            else f.copy(known = None)
        }
        resolved
      }
    }

    /** The live list when [[active]] already resolved it. */
    private[sources] def activeIfResolved: Option[Seq[AddFile]] = Option(resolved)

    /** The live adds whose log `partitionValues` carry EVERY (key,
      * value) in `partition` — partition pruning applied INSIDE the
      * distributed resolution, before the gated collect: the driver
      * never materializes the other partitions' entries, and the
      * maxSnapshotFiles gate applies to the PRUNED list (a partition
      * read can succeed on a table whose full listing would refuse).
      * Keys/values are the log's string form (physical keys on a
      * column-mapped table); null partition values don't match. A
      * resolved [[active]] is filtered in memory.
      */
    def activeMatching(partition: Map[String, String]): Seq[AddFile] =
      if (partition.isEmpty) active
      else activeIfResolved match {
        case Some(all) => all.filter(LiveFiles.inPartition(_, partition))
        case None => files.resolve(version, Some(partition))
      }

    /** Memo for the plain full-table scan DataFrame ([[DeltaReader.read]]):
      * a Snapshot is immutable and (via the cache) shared across a
      * session's queries, so the scan plan — whose construction pays a
      * per-file-listing InMemoryFileIndex setup — is built once per
      * (table, version), not once per query. DataFrame plans are
      * immutable; reuse across queries is exactly what a cached
      * DataFrame already does.
      */
    private[graft] var fullScanMemo: Option[DataFrame] = None
  }

  /** A checkpoint's adds in the resolve shape ([[checkpointAdds]]) as a
    * distributed scan, built on first use: a snapshot rebased onto a
    * checkpoint that resolves its list in memory never reads it.
    */
  private[graft] final class CheckpointScan(build: () => DataFrame) {
    lazy val adds: DataFrame = build()
  }

  /** A snapshot's live add set as its replay left it: a BASE — the
    * checkpoint's adds as a distributed scan (`cp`) and/or a live list
    * already on the driver (`list`: an earlier snapshot's resolved
    * set, or a JSON checkpoint manifest's inline adds) as of
    * `baseVersion` — plus `suffix`, the last action per path committed
    * after the base (Some(add) = live (re-)add, None = removed), in
    * first-touch order. A base add survives iff the suffix never
    * touched its path. `known`, beside a checkpoint scan, is the whole
    * live set on the driver at some version between the base and the
    * snapshot (an ancestor's resolved list): the suffix applied over it
    * yields the same set as over the base — a path's last action at or
    * below that version is already reflected — so the list resolves in
    * memory while the scan stays the distributed form. `maxFiles` gates
    * the resolved list when the table has a checkpoint at or below the
    * snapshot (a JSON-only log's adds are on the driver already).
    */
  private[graft] final case class LiveFiles(cp: Option[CheckpointScan], list: Seq[AddFile],
                                            baseVersion: Long,
                                            suffix: Vector[(String, Option[AddFile])],
                                            maxFiles: Option[Long],
                                            known: Option[Seq[AddFile]] = None) {
    /** `base`'s adds no suffix action touched, then the suffix's own live adds. */
    private def applied(base: Seq[AddFile], keep: AddFile => Boolean): Seq[AddFile] = {
      val fromBase =
        if (base.isEmpty) Vector.empty
        else {
          val touched = suffix.iterator.map(_._1).toSet
          base.filter(a => keep(a) && !touched(a.path))
        }
      fromBase ++ suffix.collect { case (_, Some(af)) if keep(af) => af }
    }

    /** The base's list under the suffix. */
    def inMemory(keep: AddFile => Boolean): Seq[AddFile] = applied(list, keep)

    /** The whole base on the driver, when it is: the list with no
      * checkpoint scan, else `known`.
      */
    private def driverBase: Option[Seq[AddFile]] = if (cp.isEmpty) Some(list) else known

    /** The live set, when it resolves with no job. */
    def onDriver: Option[Seq[AddFile]] = driverBase.map(applied(_, _ => true))

    /** The checkpoint adds no suffix action touched (broadcast anti-join
      * against the small suffix, executed on executors).
      */
    private def untouched(adds: DataFrame): DataFrame =
      if (suffix.isEmpty) adds
      else {
        val s = adds.sparkSession
        import s.implicits._
        adds.join(org.apache.spark.sql.functions.broadcast(suffix.map(_._1).toDF("path")),
          Seq("path"), "left_anti")
      }

    /** The live list, pruned to `partition` inside the resolution. */
    def resolve(version: Long, partition: Option[Map[String, String]]): Seq[AddFile] = {
      val keep: AddFile => Boolean = af => partition.forall(LiveFiles.inPartition(af, _))
      val limit = maxFiles.getOrElse(Long.MaxValue)
      val out = driverBase match {
        case Some(base) => applied(base, keep)
        case None =>
          val fromCp = cp.fold(Vector.empty[AddFile]) { scan =>
            val adds = scan.adds
            // partition pruning BEFORE the anti-join and the gated
            // collect — the pushed map-key equality prunes inside the
            // distributed resolve, so the driver only ever sees the
            // matching partitions' entries
            val pruned = partition.fold(adds)(_.foldLeft(adds) { case (df, (k, v)) =>
              df.where(col("pv").getItem(k) === lit(v))
            })
            untouched(pruned).take(math.min(limit, Int.MaxValue - 2L).toInt + 1).iterator
              .map(resolveRowAdd).toVector
          }
          fromCp ++ inMemory(keep)
      }
      require(out.length <= limit,
        s"snapshot at version $version has more than $limit live files" +
          partition.map(p => s" in partition $p").getOrElse("") +
          " — each AddFile costs driver heap (path + partition values + DV " +
          "descriptor); raise spark.graft.delta.maxSnapshotFiles only with " +
          "driver memory to match, or prune with readPartition")
      out
    }

    def asDf(s: SparkSession): DataFrame = {
      val mem = inMemory(_ => true)
      val memDf = if (mem.isEmpty) None else Some(addsAsResolveDf(s, mem))
      (cp.map(scan => untouched(scan.adds)), memDf) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (a, b) => a.orElse(b).getOrElse(addsAsResolveDf(s, Nil))
      }
    }
  }

  private[graft] object LiveFiles {
    def inPartition(af: AddFile, p: Map[String, String]): Boolean =
      p.forall { case (k, v) => af.partitionValues.get(k).contains(v) }
  }

  /** RFC 2396 percent-decoding of `add.path` — NOT URLDecoder, whose
    * application/x-www-form-urlencoded rules turn a literal '+' in a
    * file name into a space and resolve the wrong file.
    */
  private[graft] def percentDecode(p: String): String = {
    val out = new java.io.ByteArrayOutputStream(p.length)
    var i = 0
    var lit = 0 // start of the current run of literal chars
    def flush(until: Int): Unit =
      // whole-substring encoding keeps surrogate PAIRS together — a
      // char-at-a-time encode would turn each half of a non-BMP
      // character into a '?' byte
      if (until > lit) out.write(p.substring(lit, until).getBytes("UTF-8"))
    while (i < p.length) {
      if (p.charAt(i) == '%') {
        flush(i)
        require(i + 2 < p.length, s"truncated percent escape at offset $i in add.path '$p'")
        val hex = p.substring(i + 1, i + 3)
        require(hex.forall(c => Character.digit(c, 16) >= 0),
          s"malformed percent escape '%$hex' at offset $i in add.path '$p'")
        out.write(Integer.parseInt(hex, 16))
        i += 3
        lit = i
      } else i += 1
    }
    flush(p.length)
    new String(out.toByteArray, "UTF-8")
  }

  /** An `add.path` that is a full URI rather than a table-root-relative
    * path — what shallow clones and external files write (PROTOCOL.md:
    * "a relative path ... or an absolute path"). Any scheme-colon
    * prefix counts (delta-spark resolves through java.net.URI, where
    * single-slash `file:/tmp/x` is as absolute as `file:///tmp/x`);
    * graft's own relative entries percent-encode ':' so they can never
    * false-positive here.
    */
  private[graft] def isAbsoluteAddPath(p: String): Boolean =
    p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")

  /** Resolve an `add.path` to a concrete filesystem path: relative
    * entries percent-decode and resolve against the table root;
    * absolute entries parse as the URI they are (java.net.URI performs
    * the percent-decoding, so both forms decode identically — a space
    * stored as %20 round-trips either way).
    */
  private[graft] def resolveAddPath(root: Path, p: String): Path =
    if (isAbsoluteAddPath(p)) new Path(new java.net.URI(p))
    else new Path(root, percentDecode(p))

  /** Z85 base85 (ZeroMQ spec 32) — the alphabet real Delta writers
    * (delta-spark Base85Codec, delta-rs) use for deletion-vector UUIDs
    * and inline bitmaps; PROTOCOL.md's own example pathOrInlineDv
    * (`ab^-aqEH.-t@S}K{vb[*k^` → d2c639aa-8816-431a-aaf6-d3fe2512ff61)
    * contains '.' and '[', which RFC 1924's charset lacks. 5 chars
    * decode to 4 bytes, most-significant digit first.
    */
  private val Base85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Base85Rev: Array[Int] = {
    val t = Array.fill(128)(-1)
    Base85Alphabet.zipWithIndex.foreach { case (c, i) => t(c) = i }
    t
  }

  private[graft] def base85Decode(enc: String): Array[Byte] = {
    require(enc.length % 5 == 0,
      s"base85 input length ${enc.length} is not a multiple of 5: '$enc'")
    val out = new Array[Byte](enc.length / 5 * 4)
    var i = 0; var o = 0
    while (i < enc.length) {
      var acc = 0L
      var j = 0
      while (j < 5) {
        val c = enc.charAt(i + j)
        val v = if (c < 128) Base85Rev(c) else -1
        require(v >= 0, s"invalid base85 character '$c' in '$enc'")
        acc = acc * 85 + v
        j += 1
      }
      require(acc <= 0xFFFFFFFFL, s"base85 group overflows 32 bits in '$enc'")
      out(o) = ((acc >>> 24) & 0xff).toByte; out(o + 1) = ((acc >>> 16) & 0xff).toByte
      out(o + 2) = ((acc >>> 8) & 0xff).toByte; out(o + 3) = (acc & 0xff).toByte
      i += 5; o += 4
    }
    out
  }

  private[graft] def base85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"base85 input length ${bytes.length} not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var acc = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      val grp = new Array[Char](5)
      var j = 4
      while (j >= 0) { grp(j) = Base85Alphabet(((acc % 85)).toInt); acc /= 85; j -= 1 }
      sb.appendAll(grp)
      i += 4
    }
    sb.result()
  }

  /** Sidecar path for a "u"/"p" deletion vector: the last 20 chars of
    * `pathOrInlineDv` are the base85 UUID, anything before them is the
    * random directory prefix the writer scattered files under.
    */
  private[graft] def dvFilePath(tableDir: Path, d: DvDescriptor): Path = d.storageType match {
    case "u" =>
      require(d.pathOrInlineDv.length >= 20,
        s"deletionVector pathOrInlineDv '${d.pathOrInlineDv}' shorter than a base85 UUID")
      val prefix = d.pathOrInlineDv.dropRight(20)
      val bb = java.nio.ByteBuffer.wrap(base85Decode(d.pathOrInlineDv.takeRight(20)))
      val uuid = new java.util.UUID(bb.getLong, bb.getLong)
      val name = s"deletion_vector_$uuid.bin"
      if (prefix.isEmpty) new Path(tableDir, name)
      else new Path(new Path(tableDir, prefix), name)
    case "p" => new Path(d.pathOrInlineDv)
    case other => sys.error(s"deletionVector storageType '$other' has no file path")
  }

  /** Decode a serialized RoaringBitmapArray (PROTOCOL.md's portable
    * form: magic 1681511377 as little-endian int32, little-endian
    * int64 bitmap count, then per bitmap a little-endian int32 high
    * key + a standard portable 32-bit roaring bitmap) into sorted row
    * indexes.
    */
  private[graft] def decodeDvBitmap(bytes: Array[Byte], cardinality: Long): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val magic = Integer.reverseBytes(in.readInt())
    require(magic == 1681511377,
      s"deletion vector magic $magic != 1681511377 — not a portable RoaringBitmapArray")
    val n = java.lang.Long.reverseBytes(in.readLong())
    require(n >= 0 && n <= Int.MaxValue, s"implausible deletion-vector bitmap count $n")
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0L
    while (i < n) {
      val hi = Integer.reverseBytes(in.readInt()).toLong << 32
      val rb = new org.roaringbitmap.RoaringBitmap()
      rb.deserialize(in)
      val it = rb.getIntIterator
      while (it.hasNext) out += (hi | (it.next() & 0xFFFFFFFFL))
      i += 1
    }
    require(out.length == cardinality,
      s"deletion vector cardinality ${out.length} != declared $cardinality — " +
        "refusing a bitmap that disagrees with its descriptor")
    out.toArray
  }

  /** Serialize row indexes as PROTOCOL.md's portable
    * RoaringBitmapArray — the exact inverse of [[decodeDvBitmap]];
    * the write side of the DV story lives on it.
    */
  private[graft] def encodeDvBitmap(indexes: Seq[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Integer.reverseBytes(1681511377))
    val byKey = indexes.groupBy(i => (i >>> 32).toInt).toSeq.sortBy(_._1)
    out.writeLong(java.lang.Long.reverseBytes(byKey.size.toLong))
    byKey.foreach { case (k, vs) =>
      out.writeInt(Integer.reverseBytes(k))
      val rb = new org.roaringbitmap.RoaringBitmap()
      vs.foreach(v => rb.add(v.toInt))
      rb.runOptimize()
      rb.serialize(out)
    }
    out.flush()
    bos.toByteArray
  }

  /** Slice one DV out of a sidecar file's bytes and decode it: version
    * byte 1 at offset 0, then at `offset` a big-endian int32 size, the
    * serialized bitmap, and a big-endian CRC-32 of exactly those bytes.
    */
  private[graft] def decodeDvFromFile(content: Array[Byte], offset: Int, sizeInBytes: Int,
                                      cardinality: Long): Array[Long] = {
    require(content.length > 0 && content(0) == 1,
      s"deletion vector file format version ${if (content.isEmpty) "?" else content(0)} != 1")
    val bb = java.nio.ByteBuffer.wrap(content)
    require(offset >= 1 && offset + 4 <= content.length,
      s"deletion vector offset $offset out of bounds (${content.length} bytes)")
    val size = bb.getInt(offset)
    require(size == sizeInBytes,
      s"deletion vector size $size at offset $offset != descriptor sizeInBytes $sizeInBytes")
    require(offset + 8 + size <= content.length,
      s"deletion vector data+checksum overruns the file (${content.length} bytes)")
    val data = java.util.Arrays.copyOfRange(content, offset + 4, offset + 4 + size)
    val crc = bb.getInt(offset + 4 + size)
    val c = new java.util.zip.CRC32(); c.update(data)
    require(c.getValue == (crc.toLong & 0xFFFFFFFFL),
      s"deletion vector checksum mismatch at offset $offset — refusing corrupt deletes")
    decodeDvBitmap(data, cardinality)
  }

  /** True when `dir` is a Delta table root (any Hadoop scheme). */
  def isDeltaTable(dir: String, conf: Configuration): Boolean = {
    val log = new Path(dir, "_delta_log")
    val fs = log.getFileSystem(conf)
    try fs.getFileStatus(log).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Convenience overload for local callers with no Hadoop conf in
    * hand; a default Configuration resolves file:// and whatever the
    * cluster's core-site declares.
    */
  def isDeltaTable(dir: String): Boolean = isDeltaTable(dir, new Configuration())

  /** True when `_delta_log` holds at least one commit or checkpoint —
    * distinguishes a live table from the EMPTY log directory a writer
    * crash between mkdirs and its version-0 commit leaves behind
    * (snapshot() on that state throws; a creating writer must treat
    * it as absent and re-create, or the table is stuck forever).
    */
  def hasLogEntries(dir: String, conf: Configuration): Boolean = {
    val log = new Path(dir, "_delta_log")
    val fs = log.getFileSystem(conf)
    try fs.listStatus(log).exists { st =>
      val n = st.getPath.getName
      n.matches("\\d{20}\\.json") ||
        n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet")
    } catch { case _: java.io.FileNotFoundException => false }
  }

  /** A parquet checkpoint's metaData struct row re-serialized as the
    * action's JSON object — EVERY non-null field the checkpoint
    * carries rides along (format, name, description, createdTime…),
    * so the retained [[Snapshot.metaRaw]] matches what a commit-line
    * metaData action would have said, not a field subset.
    */
  private def structRowJson(r: org.apache.spark.sql.Row): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def node(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
      case null => om.nullNode()
      case s: String => om.getNodeFactory.textNode(s)
      case b: Boolean => om.getNodeFactory.booleanNode(b)
      case i: Int => om.getNodeFactory.numberNode(i)
      case l: Long => om.getNodeFactory.numberNode(l)
      case d: Double => om.getNodeFactory.numberNode(d)
      case f: Float => om.getNodeFactory.numberNode(f)
      case row: org.apache.spark.sql.Row => rowNode(row)
      case m: scala.collection.Map[_, _] =>
        val o = om.createObjectNode()
        m.foreach { case (k, v2) => o.set[com.fasterxml.jackson.databind.JsonNode](
          String.valueOf(k), node(v2)) }
        o
      case s: scala.collection.Seq[_] =>
        val a = om.createArrayNode()
        s.foreach(e => a.add(node(e)))
        a
      case other => om.getNodeFactory.textNode(String.valueOf(other))
    }
    def rowNode(row: org.apache.spark.sql.Row)
        : com.fasterxml.jackson.databind.node.ObjectNode = {
      val o = om.createObjectNode()
      row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i))
          o.set[com.fasterxml.jackson.databind.JsonNode](f, node(row.get(i)))
      }
      o
    }
    om.writeValueAsString(rowNode(r))
  }

  /** One JSON `add` action → AddFile (shared by the full replay and
    * the streaming tail's per-commit parse).
    */
  private def addFromJson(a: com.fasterxml.jackson.databind.JsonNode): AddFile = {
    val dv = if (a.has("deletionVector") && !a.get("deletionVector").isNull) {
      val d = a.get("deletionVector")
      Some(DvDescriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong()))
    } else None
    val pv = Option(a.get("partitionValues")).map { m =>
      val it = m.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey ->
        (if (e.getValue.isNull) null else e.getValue.asText()) }
      b.result()
    }.getOrElse(Map.empty[String, String])
    def optLong(name: String): Long =
      if (a.has(name) && !a.get(name).isNull) a.get(name).asLong() else 0L
    val stats =
      if (a.has("stats") && !a.get("stats").isNull && a.get("stats").asText().nonEmpty)
        Some(a.get("stats").asText())
      else None
    def optLongOpt(name: String): Option[Long] =
      if (a.has(name) && !a.get(name).isNull) Some(a.get(name).asLong()) else None
    AddFile(a.get("path").asText(), pv, optLong("size"), optLong("modificationTime"), dv,
      stats, optLongOpt("baseRowId"), optLongOpt("defaultRowCommitVersion"),
      if (a.has("clusteringProvider") && !a.get("clusteringProvider").isNull)
        Some(a.get("clusteringProvider").asText()) else None)
  }

  /** The adds and removes of ONE commit version, each with its
    * `dataChange` flag. Refuses a version whose commit JSON was
    * retention-cleaned: a checkpoint is a snapshot, not a change list.
    */
  private[graft] def commitChanges(s: SparkSession, dir: String, version: Long)
      : (Seq[(AddFile, Boolean)], Seq[(String, Boolean)]) = {
    val acts = commitActions(s, dir, version)
    (acts.collect { case (Right(af), dc) => af -> dc },
      acts.collect { case (Left(p), dc) => p -> dc })
  }

  /** What ONE commit changed, read once from its [[CommitParse]]: its
    * `cdc` files, its `dataChange` adds and its `dataChange` removes
    * (layout-only actions — compaction, column-mapping removal — carry
    * dataChange=false and are not changes). Every change-feed reader
    * decides a commit's shape from this one value: [[readChanges]],
    * [[readChangesSlice]], [[graft.streaming.DeltaTail.changes]] and
    * the `graft-delta` stream source's admission.
    */
  private[graft] final case class VersionChanges(cdc: Seq[AddFile], adds: Seq[AddFile],
                                                 removes: Seq[String]) {
    /** Adds and no removes: the append shape, its rows are inserts. */
    def appendOnly: Boolean = adds.nonEmpty && removes.isEmpty

    /** The append tail's sliceable payload: an append's adds,
      * PATH-SORTED so the list is a pure function of the version and a
      * restart re-resolves it identically; empty for every other shape.
      */
    def appendPayload: IndexedSeq[AddFile] =
      if (appendOnly) adds.sortBy(_.path).toIndexedSeq else IndexedSeq.empty

    /** The change feed's sliceable payload: the `cdc` files when the
      * writer staged them (they ARE the change set), else
      * [[appendPayload]]. Removes-only, metadata-only and compaction
      * commits answer empty — they budget as zero and ride whole.
      */
    def cdfPayload: IndexedSeq[AddFile] =
      if (cdc.nonEmpty) cdc.sortBy(_.path).toIndexedSeq else appendPayload
  }

  /** `lost` names what a retention-cleaned commit costs the caller:
    * [[ChangeDataLost]] for the change feed, [[TailLost]] for the
    * append tail.
    */
  private[graft] def versionChanges(s: SparkSession, dir: String, version: Long,
                                    lost: String = ChangeDataLost): VersionChanges = {
    val cp = presentCommit(s, dir, version, lost)
    VersionChanges(cp.cdc,
      cp.fileActions.collect { case (Right(af), true) => af },
      cp.fileActions.collect { case (Left(p), true) => p })
  }

  /** A `metaData` action: `raw` is its inner object verbatim (see
    * [[Snapshot.metaRaw]]); a null configuration value stays null.
    */
  private[graft] final case class MetaAction(raw: String, schemaString: String,
                                             id: Option[String],
                                             partitionColumns: Seq[String],
                                             configuration: Map[String, String])

  /** A `protocol` action. The LATEST one wins ENTIRELY (PROTOCOL.md) —
    * replacement, not upgrade-merge, so DROP FEATURE's downgrade
    * restatement takes effect; an action below the feature-table
    * thresholds carries no feature lists, which MEANS none.
    */
  private[graft] final case class ProtocolAction(minReader: Long, minWriter: Long,
                                                 readerFeatures: Set[String],
                                                 writerFeatures: Set[String])

  private[graft] object ProtocolAction {
    val Initial: ProtocolAction = ProtocolAction(1L, 1L, Set.empty, Set.empty)
  }

  /** One log file's parsed content — a commit, a log-compaction file or
    * a JSON V2 checkpoint manifest — everything the snapshot replay,
    * the history family (DESCRIBE HISTORY, readChanges/CDF tail,
    * in-commit-timestamp reads, VACUUM LITE's candidate scan) and the
    * change feed consume. Parsed ONCE per file identity via
    * [[CommitParseCache]]. Per-key actions keep the file's LAST one:
    * `meta`, `protocol`, `txns` per appId (the idempotence watermark a
    * streaming writer consults) and `domains` per domain (None = the
    * domain was removed; the row-tracking high watermark lives in
    * `delta.rowTracking`). `sidecars` and `checkpointVersion` come from
    * a V2 manifest's `sidecar` and `checkpointMetadata` actions.
    */
  private[graft] final case class CommitParse(
      fileActions: Seq[(Either[String, AddFile], Boolean)] = Nil,
      cdc: Seq[AddFile] = Nil,
      operation: Option[String] = None, readVersion: Option[Long] = None,
      engineInfo: Option[String] = None, ict: Option[Long] = None,
      metrics: Map[String, String] = Map.empty,
      params: Map[String, String] = Map.empty,
      meta: Option[MetaAction] = None,
      protocol: Option[ProtocolAction] = None,
      txns: Map[String, Long] = Map.empty,
      domains: Map[String, Option[String]] = Map.empty,
      sidecars: Seq[String] = Nil,
      checkpointVersion: Option[Long] = None) {
    /** The column-mapping mode a metaData RESTATEMENT in this commit
      * declares ("none" when the restatement omits the key); None = no
      * metaData action — the window guards walk these to find
      * transitions whose endpoints agree (removal + re-upgrade).
      */
    def cmMode: Option[String] =
      meta.map(_.configuration.get("delta.columnMapping.mode").flatMap(Option(_)).getOrElse("none"))
  }

  /** Process-wide per-file parse memo, validated by the log FILE's own
    * (length, mtime) — deliberately NOT a whole-listing fingerprint: a
    * new commit appearing in the log must not invalidate parses of
    * older, immutable ones (that would make every DESCRIBE HISTORY
    * after an append O(retained log) again — the exact tax this memo
    * removes). Commit JSONs never change in place once committed (ICT
    * stamping happens at write time; log compaction and retention
    * DELETE files, never edit), so the per-file identity check is
    * exact; the getFileStatus it needs is the same presence probe the
    * uncached readers already paid. Entries are pure values (no
    * DataFrames, no session binding), so one bounded LRU serves every
    * session in the JVM: at most 1024 files of at most 4 MB each.
    */
  private[graft] object CommitParseCache {
    final case class Key(log: String, file: String)
    // sized ABOVE a typical retained log (checkpoint-bounded replay
    // suffix plus retention window): an in-version-order walk over a
    // log larger than the LRU would evict every entry before its next
    // use and degrade to zero hits
    private val maxEntries = 1024
    private val entries =
      new java.util.LinkedHashMap[Key, (Long, Long, CommitParse)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, (Long, Long, CommitParse)]): Boolean =
          size() > maxEntries
      }
    def get(key: Key, len: Long, mtime: Long): Option[CommitParse] = entries.synchronized {
      Option(entries.get(key)).collect { case (l, m, cp) if l == len && m == mtime => cp }
    }
    def put(key: Key, len: Long, mtime: Long, cp: CommitParse): Unit =
      entries.synchronized { entries.put(key, (len, mtime, cp)); () }
    private[graft] def clear(): Unit = entries.synchronized(entries.clear())
  }

  /** Counts ACTUAL log-file parses (memo misses) — the spec's evidence
    * that N DESCRIBE HISTORY / readChanges calls parse each retained
    * commit once.
    */
  private[graft] val commitParseCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The one JSON log-line parser: commits, log-compaction files and
    * JSON V2 checkpoint manifests all go through it.
    */
  private def parseCommitFile(fs: org.apache.hadoop.fs.FileSystem, p: Path): CommitParse = {
    import com.fasterxml.jackson.databind.JsonNode
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val acts = Seq.newBuilder[(Either[String, AddFile], Boolean)]
    val cdc = Seq.newBuilder[AddFile]
    val sidecars = Seq.newBuilder[String]
    var cp = CommitParse()
    def present(n: JsonNode, f: String): Option[JsonNode] = Option(n.get(f)).filterNot(_.isNull)
    def text(n: JsonNode, f: String): Option[String] = present(n, f).map(_.asText())
    def strings(n: JsonNode, f: String): Seq[String] =
      present(n, f).map(a => (0 until a.size()).map(a.get(_).asText())).getOrElse(Nil)
    def dataChange(n: JsonNode): Boolean = present(n, "dataChange").forall(_.asBoolean())
    def fields(n: JsonNode, value: JsonNode => String): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      n.fields().forEachRemaining(e => b += e.getKey -> value(e.getValue))
      b.result()
    }
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(rd.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).foreach { line =>
        val n = om.readTree(line)
        if (n.has("add")) acts += Right(addFromJson(n.get("add"))) -> dataChange(n.get("add"))
        if (n.has("remove"))
          acts += Left(n.get("remove").get("path").asText()) -> dataChange(n.get("remove"))
        if (n.has("cdc")) cdc += addFromJson(n.get("cdc"))
        present(n, "metaData").foreach { md =>
          cp = cp.copy(meta = Some(MetaAction(md.toString, md.get("schemaString").asText(),
            text(md, "id"), strings(md, "partitionColumns"),
            present(md, "configuration").map(fields(_, v => if (v.isNull) null else v.asText()))
              .getOrElse(Map.empty))))
        }
        present(n, "protocol").foreach { pr =>
          cp = cp.copy(protocol = Some(ProtocolAction(pr.get("minReaderVersion").asLong(),
            pr.get("minWriterVersion").asLong(), strings(pr, "readerFeatures").toSet,
            strings(pr, "writerFeatures").toSet)))
        }
        present(n, "txn").foreach { tx =>
          cp = cp.copy(txns = cp.txns + (tx.get("appId").asText() -> tx.get("version").asLong()))
        }
        present(n, "domainMetadata").foreach { dm =>
          val removed = present(dm, "removed").exists(_.asBoolean())
          cp = cp.copy(domains = cp.domains + (dm.get("domain").asText() ->
            (if (removed) None else Some(dm.get("configuration").asText()))))
        }
        present(n, "sidecar").foreach(sc => sidecars += sc.get("path").asText())
        present(n, "checkpointMetadata").foreach { cm =>
          cp = cp.copy(checkpointVersion = Some(cm.get("version").asLong()))
        }
        present(n, "commitInfo").foreach { ci =>
          cp = cp.copy(operation = text(ci, "operation"),
            readVersion = present(ci, "readVersion").map(_.asLong()),
            engineInfo = text(ci, "engineInfo"),
            ict = present(ci, "inCommitTimestamp").map(_.asLong()),
            metrics = present(ci, "operationMetrics").map(fields(_, _.asText()))
              .getOrElse(cp.metrics),
            params = present(ci, "operationParameters")
              .map(fields(_, v => if (v.isTextual) v.asText() else v.toString))
              .getOrElse(cp.params))
        }
      } finally rd.close()
    cp.copy(fileActions = acts.result(), cdc = cdc.result(), sidecars = sidecars.result())
  }

  /** The FIRST column-mapping transition in versions
    * (fromVersion, toVersion] that breaks single-scan soundness — a
    * single scan under `snapTo`'s metadata resolves files written
    * anywhere in the window ONLY when no in-window metaData
    * restatement changes the mapping mode, except the additive
    * none→name upgrade (it stamps physicalName = each column's
    * then-current on-disk name, so earlier files keep resolving).
    * Endpoint comparison is NOT enough: a name→none REMOVAL followed
    * by a re-upgrade (or an upgrade followed by a removal) can leave
    * the endpoints agreeing while mid-window files are keyed by a
    * mapping `snapTo` no longer carries — those would silently
    * null-misread. Returns Some((version, modeBefore, modeAfter)) of
    * the first breaking transition, None when a single scan is sound.
    * Cost: O(window) memoized commit parses (the history family's
    * cache); retention-cleaned commits skip — the caller's own
    * classification raises the loud retention refusal.
    */
  private[graft] def cmTransitionBreak(s: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long,
      snapTo: Snapshot): Option[(Long, String, String)] = {
    if (fromVersion >= toVersion) return None
    def modeOf(sn: Snapshot): String =
      sn.configuration.getOrElse("delta.columnMapping.mode", "none")
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(s.sessionState.newHadoopConf())
    var mode =
      try modeOf(snapshot(s, dir, Some(fromVersion)))
      catch { case scala.util.control.NonFatal(_) => modeOf(snapTo) }
    var break0: Option[(Long, String, String)] = None
    var v = fromVersion + 1
    while (v <= toVersion && break0.isEmpty) {
      parsedCommit(fs, logPath, v).flatMap(_.cmMode).foreach { m =>
        if (m != mode) {
          if (!(mode == "none" && m == "name")) break0 = Some((v, mode, m))
          mode = m
        }
      }
      v += 1
    }
    break0
  }

  /** The memoized parse of commit `version`, or None when its file is
    * absent (retention-cleaned / log-compacted).
    */
  private[graft] def parsedCommit(fs: org.apache.hadoop.fs.FileSystem, logPath: Path,
                                  version: Long): Option[CommitParse] = {
    val p = new Path(logPath, f"$version%020d.json")
    val st =
      try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    st.map(parsedLogFile(fs, fs.makeQualified(logPath).toString, _))
  }

  /** The memoized parse of one JSON log file of the log `logKey`. */
  private def parsedLogFile(fs: org.apache.hadoop.fs.FileSystem, logKey: String,
                            st: org.apache.hadoop.fs.FileStatus): CommitParse = {
    val key = CommitParseCache.Key(logKey, st.getPath.getName)
    CommitParseCache.get(key, st.getLen, st.getModificationTime).getOrElse {
      commitParseCounter.incrementAndGet()
      val cp = parseCommitFile(fs, st.getPath)
      // giant commits (a 100k-file overwrite's multi-MB JSON) parse
      // but never pin: 1024 such entries would be a driver-heap
      // hazard the memo's O(new commits) promise doesn't need —
      // history-family hot paths touch ordinary append/mutation
      // commits, and the rare giant re-parses at the same cost the
      // uncached readers always paid
      if (st.getLen <= (4L << 20))
        CommitParseCache.put(key, st.getLen, st.getModificationTime, cp)
      cp
    }
  }

  /** One commit's file actions IN LINE ORDER — `Right(add)` /
    * `Left(removedPath)` with the `dataChange` flag. Order matters to
    * state folding: a remove+add of the same path in one commit (the
    * shape of a DV rewrite) nets to the add only because the add comes
    * later.
    */
  private[graft] def commitActions(s: SparkSession, dir: String, version: Long)
      : Seq[(Either[String, AddFile], Boolean)] =
    presentCommit(s, dir, version, TailLost).fileActions

  /** One commit's `cdc` actions (change data files, PROTOCOL.md's
    * Change Data Feed) as AddFile shapes — path/partitionValues/size;
    * cdc files never carry deletion vectors.
    */
  private[graft] def commitCdc(s: SparkSession, dir: String, version: Long): Seq[AddFile] =
    presentCommit(s, dir, version, ChangeDataLost).cdc

  private[graft] val ChangeDataLost =
    "its change data is unrecoverable; cannot read changes at this version"
  private[graft] val TailLost =
    "its changes are unrecoverable from a checkpoint; cannot tail this version"

  /** The parse of commit `version`, refusing loudly when its JSON was
    * retention-cleaned; `lost` says what the caller cannot recover.
    */
  private def presentCommit(s: SparkSession, dir: String, version: Long,
                            lost: String): CommitParse = {
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(s.sessionState.newHadoopConf())
    parsedCommit(fs, logPath, version).getOrElse(throw new IllegalArgumentException(
      s"commit $version not present in $logPath (retention-cleaned?) — $lost"))
  }

  /** Scan change data files: the table's data schema PLUS the
    * `_change_type` column the writer stored in them; partition
    * columns re-attach from the cdc actions' partitionValues, and a
    * column-mapped table's physical names project back to logical —
    * the same rules as [[scanFiles]], minus deletion vectors (cdc
    * files never carry them).
    */
  private def readCdcFiles(s: SparkSession, dir: String, snap: Snapshot,
                           files: Seq[AddFile], withPath: Boolean = false): DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val cmMode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    val mapped = cmMode != "none"
    def physName(f: org.apache.spark.sql.types.StructField): String =
      if (!mapped) f.name
      else f.metadata.getString("delta.columnMapping.physicalName")
    // id mode: change-data files resolve by parquet field id like data
    // files ([[scanFiles]]); _change_type carries no id and matches by
    // its (protocol-fixed) name
    def withFieldId(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField =
      if (cmMode != "id") f
      else {
        require(f.metadata.contains("delta.columnMapping.id"),
          s"column mapping is 'id' but field '${f.name}' carries no " +
            "delta.columnMapping.id metadata — malformed schemaString")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build())
      }
    if (cmMode == "id") enableFieldIdReads(s)
    // nested physical names: the read schema carries the files'
    // physical names at EVERY level (DeltaStats.physicalShape — the
    // walker the write staging shares), casting changed structs back
    // to the logical shape on projection — cdc files of a foreign
    // per-level-named table must not null-fill their struct leaves
    def physDataType(dt: DataType): DataType =
      DeltaStats.physicalShape(dt, attachIds = cmMode == "id")
    val dataSchema = StructType(
      schema.fields.filterNot(f => snap.partCols.contains(f.name))
        .map(f => withFieldId(f.copy(name = physName(f),
          dataType = if (mapped) physDataType(f.dataType) else f.dataType))) :+
        org.apache.spark.sql.types.StructField("_change_type", org.apache.spark.sql.types.StringType))
    val logicalByPhys = schema.fields.filterNot(f => snap.partCols.contains(f.name))
      .map { f =>
        val deep = if (mapped) physDataType(f.dataType) else f.dataType
        (physName(f), f.name,
          if (deep == f.dataType) None
          // cast back to the DEEP-NULLABLE logical shape: parquet reads
          // are nullable and a struct Cast refuses nullable→non-null
          else Some(DeltaStats.deepNullable(f.dataType)))
      } :+ (("_change_type", "_change_type", None))
    val partSchema = schema.fields.filter(f => snap.partCols.contains(f.name))
    val outNames = schema.fieldNames ++ Seq("_change_type") ++
      (if (withPath) Seq("__chg_path") else Nil)
    files.groupBy(_.partitionValues).map { case (pv, group) =>
      val paths = group.map(f => resolveAddPath(new Path(dir), f.path).toString)
      val base0 = s.read.schema(dataSchema).parquet(paths: _*)
      val proj = logicalByPhys.map { case (phys, logical, castBack) =>
        val c = base0.col(s"`${phys.replace("`", "``")}`")
        castBack.fold(c)(c.cast).as(logical)
      } ++ (if (withPath)
        Seq(uriPathCol(base0.col("_metadata.file_path")).as("__chg_path")) else Nil)
      val base = base0.select(proj.toIndexedSeq: _*)
      val withParts = partSchema.foldLeft(base) { (df, f) =>
        val raw = pv.get(physName(f)).orElse(pv.get(f.name)).orNull
        df.withColumn(f.name, lit(raw).cast(f.dataType))
      }
      withParts.select(outNames.map(col).toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Read the table's row-level CHANGES for versions [fromVersion,
    * toVersion] — the Change Data Feed surface: the table's logical
    * columns plus `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage'), `_commit_version` and
    * `_commit_timestamp` (in-commit timestamp when stamped, else
    * monotone-adjusted commit-file mtime — delta-spark's CDF triple).
    *
    * Per commit: if it carries `cdc` actions, they ARE the change set
    * (the writer declared them complete — the protocol's rule).
    * Otherwise the changes derive from the file actions alone exactly
    * when that is sound: adds-only with dataChange=true → those files'
    * rows as 'insert' (the append shape); removes-only with
    * dataChange=true → the removed files' rows as 'delete' (resolved
    * against the PREVIOUS version's snapshot for partition values, and
    * only readable pre-vacuum); no dataChange actions at all →
    * nothing (compaction/checkpoint shapes). A commit that mixes
    * dataChange adds AND removes without cdc actions (a copy-on-write
    * delete/update/merge written WITHOUT CDF enabled, or a DV rewrite)
    * REFUSES loudly — its per-row changes are not derivable from file
    * actions, and delta-spark refuses the same way.
    *
    * Scale: driver state is O(actions in the window), and the PLAN is
    * O(1) in window size: all cdc files scan in one grouped pass and
    * all derived-insert files in another, each joined (broadcast) to a
    * tiny path→version map — a 10^4-version catch-up builds two scan
    * branches, not 10^4 (measured: the per-version-branch plan cost
    * was ~30 ms/version before this). The derivation for removes-only
    * commits pays one snapshot replay at v-1 (rare shape; our own
    * writers never produce it) and stays per-version.
    */
  def readChanges(s: SparkSession, dir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val snapTo = changeWindow(s, dir, fromVersion, toVersion)
    // a column-mapping REMOVAL inside the window re-keys change files:
    // versions before it are keyed by the OLD physical names, which
    // snapTo's logical read schema would silently null-misread (r17 —
    // caught by the removal repro). Refuse and name the split point —
    // delta-spark's CDF refuses non-additive schema changes the same
    // way. The none→name UPGRADE is additive here: it stamps
    // physicalName = each column's current name, so pre-upgrade files
    // keep resolving under snapTo; name→id never happens in graft.
    // the walk inspects every IN-WINDOW metaData restatement, not just
    // the endpoints: a removal + re-upgrade (or upgrade + removal)
    // leaves the endpoint modes agreeing while mid-window change files
    // are keyed by a mapping snapTo no longer carries. An unresolvable
    // fromVersion (retention-cleaned prefix) falls through — the
    // classification below raises its own loud retention refusal,
    // which must not be masked by this guard.
    cmTransitionBreak(s, dir, fromVersion, toVersion, snapTo).foreach {
      case (v, m0, m1) => throw new IllegalArgumentException(
        s"readChanges: the window [$fromVersion, $toVersion] crosses a " +
          s"column-mapping transition ('$m0' -> '$m1' at version $v) — change " +
          "files written before the transition are keyed by the old physical " +
          "names and would silently misread under the window-end schema; " +
          "split the read at the transition commit")
    }
    changesOf(s, dir, fromVersion to toVersion, snapTo)
  }

  /** The change feed's own columns, after the table's logical ones. */
  private[graft] val CdfColumns: Seq[StructField] = Seq(
    StructField("_change_type", StringType),
    StructField("_commit_version", LongType),
    StructField("_commit_timestamp", TimestampType))

  /** A change read's schema: `snap`'s logical columns plus [[CdfColumns]]. */
  private[graft] def cdfSchema(snap: Snapshot): StructType =
    StructType(DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields ++
      CdfColumns)

  /** Validates [fromVersion, toVersion] against the log; returns the
    * window-end snapshot.
    */
  private def changeWindow(s: SparkSession, dir: String,
                           fromVersion: Long, toVersion: Long): Snapshot = {
    val latest = snapshot(s, dir, None)
    require(fromVersion >= 0 && fromVersion <= toVersion && toVersion <= latest.version,
      s"readChanges: range [$fromVersion, $toVersion] outside [0, ${latest.version}]")
    if (toVersion == latest.version) latest else snapshot(s, dir, Some(toVersion))
  }

  /** The change rows of `versions` (ascending, non-empty), all read
    * under `snapTo`'s metadata — [[readChanges]] minus its window
    * checks.
    */
  private def changesOf(s: SparkSession, dir: String, versions: Seq[Long],
                        snapTo: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val outSchema = cdfSchema(snapTo)
    val outCols = outSchema.fieldNames.map(col).toIndexedSeq
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    def normPath(p: String): String =
      fs.makeQualified(resolveAddPath(root, p)).toUri.getPath
    // `_commit_timestamp` per window version: the in-commit timestamp
    // when the table stamped it (authoritative — survives file
    // copies/moves that reset mtime), else the commit file's mtime,
    // adjusted MONOTONE over the retained chain exactly like
    // [[versionAtTimestamp]] — CDF consumers ordering by it must never
    // see a commit older than its predecessor
    val tsByVersion: Map[Long, Long] =
      commitTimestamps(fs, new Path(root, "_delta_log"), versions.last).toMap

    // classify the window on the driver — O(actions), no plan built yet
    val cdcFiles = Seq.newBuilder[(AddFile, Long)]
    val insertAdds = Seq.newBuilder[(AddFile, Long)]
    val removeGroups = Seq.newBuilder[(Seq[AddFile], Long)]
    versions.foreach { v =>
      val ch = versionChanges(s, dir, v)
      if (ch.cdc.nonEmpty) ch.cdc.foreach(c => cdcFiles += ((c, v)))
      else if (ch.appendOnly) ch.adds.foreach(a => insertAdds += ((a, v)))
      else if (ch.removes.nonEmpty && ch.adds.isEmpty) {
        val prev = snapshot(s, dir, Some(v - 1))
        val gone = ch.removes.toSet
        val removedFiles = prev.active.filter(a => gone.contains(a.path))
        require(removedFiles.size == gone.size,
          s"readChanges: version $v removes ${gone.size} paths but only " +
            s"${removedFiles.size} resolve in version ${v - 1}'s snapshot — corrupt log")
        removeGroups += ((removedFiles, v))
      } else if (ch.adds.nonEmpty) throw new IllegalArgumentException(
        s"readChanges: version $v rewrites files (dataChange adds AND removes) " +
          "without change data files — its row-level changes are not derivable; " +
          "enable delta.enableChangeDataFeed before mutating, or read versions " +
          "around it")
    }

    def versionMap(pairs: Seq[(AddFile, Long)], key: String): DataFrame = {
      import s.implicits._
      pairs.map { case (f, v) => (normPath(f.path), v, tsByVersion(v)) }
        .toDF(key, "_commit_version", "__ct_ms")
        .withColumn("_commit_timestamp",
          org.apache.spark.sql.functions.timestamp_millis(col("__ct_ms")))
        .drop("__ct_ms")
    }
    val parts = Seq.newBuilder[DataFrame]
    val cdcPairs = cdcFiles.result()
    if (cdcPairs.nonEmpty) {
      // one grouped scan of the DISTINCT files; a file referenced by
      // several commits (legal for the window) joins to each version
      val distinctFiles = cdcPairs.map(_._1).distinctBy(f => (f.path, f.partitionValues))
      parts += readCdcFiles(s, dir, snapTo, distinctFiles, withPath = true)
        .join(broadcast(versionMap(cdcPairs, "__chg_path")), "__chg_path")
        .select(outCols: _*)
    }
    val insPairs = insertAdds.result()
    if (insPairs.nonEmpty) {
      val distinctFiles = insPairs.map(_._1).distinctBy(f => (f.path, f.partitionValues))
      parts += scanFiles(s, dir, snapTo, distinctFiles, keepLineage = true)
        .withColumn("_change_type", lit("insert"))
        .join(broadcast(versionMap(insPairs, "__dv_path")), "__dv_path")
        .select(outCols: _*)
    }
    removeGroups.result().foreach { case (files, v) =>
      parts += scanFiles(s, dir, snapTo, files)
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          org.apache.spark.sql.functions.timestamp_millis(lit(tsByVersion(v))))
        .select(outCols: _*)
    }
    val built = parts.result()
    if (built.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else built.reduce(_ unionByName _)
  }

  /** [[readChanges]] that SPLITS the window per-version when a
    * column-mapping transition breaks single-scan soundness, through
    * the one rule [[acrossTransitions]] (the append tail's too): the
    * grouped read otherwise. For callers that only consume the logical
    * CDF shape — the streaming source's catch-up, incremental view
    * maintenance, the change tail — this delivers correctly across a
    * removal (or a removal + re-upgrade round trip) where the strict
    * [[readChanges]] refuses; the strict form remains for callers that
    * must KNOW the window is homogeneous.
    */
  def readChangesSplit(s: SparkSession, dir: String,
                       fromVersion: Long, toVersion: Long): DataFrame = {
    val snapTo = changeWindow(s, dir, fromVersion, toVersion)
    acrossTransitions(s, dir, fromVersion, toVersion, snapTo,
      fromVersion to toVersion, cdfSchema(snapTo))(changesOf(s, dir, _, _))
  }

  /** The one split-on-transition rule for a read of `versions` inside
    * the window (fromVersion, toVersion]. With no column-mapping
    * transition breaking single-scan soundness ([[cmTransitionBreak]]),
    * ONE `read` of every version under `snapTo`'s metadata. Across one,
    * one `read` per version under that version's OWN metadata, each
    * PROJECTED to `out` (the window-end shape) before the union, by
    * column IDENTITY, not by name: every later in-window metaData
    * restatement carries each slice column forward ([[carried]]). So a
    * renamed column delivers its real values under the new name, a column
    * added mid-window null-fills in earlier slices, a dropped column's
    * values disappear (also when its name is later reused), a widened
    * column upcasts — what the single read produces for windows it can
    * serve, where a raw unionByName would fail on slices of different
    * widths. The split builds one scan per version and replays one
    * snapshot per restatement, acceptable exactly because transitions
    * are rare, priced rewrites.
    */
  private[graft] def acrossTransitions(s: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long, snapTo: Snapshot, versions: Seq[Long],
      out: StructType)(read: (Seq[Long], Snapshot) => DataFrame): DataFrame =
    if (versions.isEmpty ||
        cmTransitionBreak(s, dir, fromVersion, toVersion, snapTo).isEmpty)
      read(versions, snapTo)
    else {
      val restated = restatements(s, dir, fromVersion, toVersion)
      val fieldsMemo = scala.collection.mutable.Map.empty[Long, Seq[StructField]]
      def fieldsAt(v: Long): Seq[StructField] =
        fieldsMemo.getOrElseUpdate(v, tableFields(s, dir, v))
      versions.map { v =>
        // v's table columns → the name each carries at the window end;
        // a column absent from the map was dropped after v
        val endName = carried(fieldsAt, restated.filter(_ > v), v)
          .map { case (n, f) => n -> f.name }
        val table = fieldsAt(v).map(_.name).toSet
        val df = read(Seq(v), snapshot(s, dir, Some(v)))
        df.select(out.fields.map { f =>
          df.columns.find(c => (if (table(c)) endName.get(c) else Some(c)).contains(f.name))
            .fold(lit(null))(c => col(c)).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }.reduce(_ unionByName _)
    }

  /** The versions in (from, to] whose commit restates metaData — the
    * only points where a column is renamed, dropped, added or changes
    * its column-mapping mode.
    */
  private def restatements(s: SparkSession, dir: String, from: Long, to: Long): Seq[Long] = {
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(s.sessionState.newHadoopConf())
    ((from + 1) to to).filter(m => parsedCommit(fs, logPath, m).exists(_.cmMode.isDefined))
  }

  /** Version v's table columns, with their column-mapping metadata. */
  private[graft] def tableFields(s: SparkSession, dir: String, v: Long): Seq[StructField] =
    DataType.fromJson(snapshot(s, dir, Some(v)).schemaJson).asInstanceOf[StructType].fields.toSeq

  /** A column's column-mapping field id; None on an unmapped schema. */
  private[graft] def columnId(f: StructField): Option[Long] =
    if (f.metadata.contains("delta.columnMapping.id"))
      Some(f.metadata.getLong("delta.columnMapping.id")) else None

  /** Version v's table columns followed through each metaData
    * restatement in `restated` (ascending, all after v) by column
    * IDENTITY — by column-mapping field id between two mapped schemas
    * (a rename keeps the id, a dropped-and-re-added name gets a new
    * one), by name across an upgrade or removal (neither renames):
    * each column's name at v → its field after the last restatement.
    * A column absent from the map was dropped on the way.
    */
  private def carried(fieldsAt: Long => Seq[StructField], restated: Seq[Long],
                      v: Long): Map[String, StructField] = {
    def successor(f: StructField, next: Seq[StructField]): Option[StructField] =
      columnId(f) match {
        case Some(i) if next.exists(columnId(_).isDefined) => next.find(columnId(_).contains(i))
        case _ => next.find(_.name == f.name)
      }
    restated.foldLeft(fieldsAt(v).map(f => f.name -> f)) { (cur, m) =>
      cur.flatMap { case (n, f) => successor(f, fieldsAt(m)).map(n -> _) }
    }.toMap
  }

  /** [[carried]] from version `from`'s table columns to `to`'s fields. */
  private[graft] def carriedColumns(s: SparkSession, dir: String, from: Long,
                                    to: Long): Map[String, StructField] =
    carried(tableFields(s, dir, _), restatements(s, dir, from, to), from)

  /** Files [from, until) of a pinned, path-sorted list, clamped to its
    * length — the one slice every split micro-batch takes (the initial
    * snapshot, an over-sized append, an over-sized change payload).
    */
  private[graft] def fileSlice(files: IndexedSeq[AddFile], from: Long,
                               until: Long): IndexedSeq[AddFile] =
    files.slice(from.toInt, math.min(until, files.length.toLong).toInt)

  /** Change rows for files [from, until) of ONE version's
    * [[VersionChanges.cdfPayload]] — the same CDF columns as
    * [[readChanges]], used by the streaming source when a single huge
    * commit (a backfill, a giant MERGE) must split across micro-batches
    * instead of arriving as one batch no cluster sizes for. The union
    * of a version's slices is exactly `readChanges(v, v)` for the
    * sliceable shapes.
    */
  private[graft] def readChangesSlice(s: SparkSession, dir: String, version: Long,
                                      from: Long, until: Long): DataFrame = {
    val ch = versionChanges(s, dir, version)
    val payload = ch.cdfPayload
    require(payload.nonEmpty,
      s"readChangesSlice: version $version of $dir has no sliceable change payload")
    val snap = snapshot(s, dir, Some(version))
    val outSchema = cdfSchema(snap)
    val slice = fileSlice(payload, from, until)
    if (slice.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    // loud like readChanges' tsByVersion(v): a missing timestamp means
    // the commit vanished between offset resolution and the scan —
    // stamping epoch 0 would silently misplace the batch for every
    // consumer ordering by _commit_timestamp
    val ts = commitTimestamps(fs, new Path(root, "_delta_log"), version).toMap
      .getOrElse(version, throw new IllegalStateException(
        s"readChangesSlice: no commit timestamp for version $version of $dir — " +
          "the commit was cleaned mid-stream; restart the stream"))
    val base =
      if (ch.cdc.nonEmpty) readCdcFiles(s, dir, snap, slice)
      else scanFiles(s, dir, snap, slice).withColumn("_change_type", lit("insert"))
    base
      .withColumn("_commit_version", lit(version))
      .withColumn("_commit_timestamp",
        org.apache.spark.sql.functions.timestamp_millis(lit(ts)))
      .select(outSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Process-wide snapshot cache. A session running N queries against
    * one table must not pay N× (commit-suffix JSON parse + checkpoint
    * DataFrame setup + the gated `active` collect) — real delta-spark
    * caches Snapshot per (log, version) for the same reason — and a
    * session reading each new version must not rebuild it from the
    * checkpoint either: a miss at version t ADVANCES the newest valid
    * entry below t (see [[snapshot]]).
    *
    * An entry is validated by the files a replay from scratch reads for
    * it ([[Snapshot.sources]]: the newest checkpoint's parts and
    * sidecars at or below its version and the commit or compaction
    * files after that, by name, length and mtime, against the one
    * `listStatus` the lookup needs anyway — an advanced entry rebases
    * onto a checkpoint written since its ancestor). The state at a
    * version is a function of those files alone, so later commits,
    * checkpoints and compaction files leave an entry valid, while
    * retention cleaning of its files, a rewritten file or a fixture
    * deleting commits in place invalidate exactly the entries that
    * read them — no invalidation hooks to miss.
    *
    * Keys carry the SparkSession identity: a Snapshot holds DataFrames
    * bound to the session that built it, so entries never cross
    * sessions. Bounded LRU (`spark.graft.delta.snapshotCache.maxEntries`,
    * default 32); `spark.graft.delta.snapshotCache.enabled=false`
    * bypasses the cache and every advance. Driver-memory bound: an
    * entry holds at most one resolved file list — its own, or the
    * ancestor's it derives from until its own resolves — so a session
    * pins at most maxEntries × `spark.graft.delta.maxSnapshotFiles`
    * AddFiles, plus each entry's post-base commit suffix and sources
    * (one checkpoint interval of log-file names) and
    * [[CommitParseCache]]'s 1024 parsed log files of at most 4 MB each.
    */
  private[graft] object SnapshotCache {
    /** The SESSION rides in the key by reference (SparkSession keeps
      * AnyRef equality): a cached Snapshot's DataFrames are bound to
      * the session that built them, and keying by any derived integer
      * (an identity hash, say) could collide two live sessions into
      * one entry — handing one of them plans bound to the other.
      * `maxFiles` is part of the key because the gated resolve's
      * REFUSAL behavior is a function of it: a session that tightens
      * spark.graft.delta.maxSnapshotFiles must see a fresh resolve
      * that enforces the new gate, not a list materialized under the
      * old one.
      */
    final case class Key(session: SparkSession, logDir: String,
                         version: Long, maxFiles: Long)
    @volatile private var maxEntries = 32
    private val entries = new java.util.LinkedHashMap[Key, Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Snapshot]): Boolean =
        size() > maxEntries
    }
    def get(key: Key): Option[Snapshot] = entries.synchronized(Option(entries.get(key)))

    /** The entries of `key`'s session, log and gate below its version,
      * newest first (iteration leaves the LRU order alone).
      */
    def below(key: Key): Seq[Snapshot] = entries.synchronized {
      val out = Seq.newBuilder[Snapshot]
      entries.forEach { (k, snap) =>
        if ((k.session eq key.session) && k.logDir == key.logDir &&
            k.maxFiles == key.maxFiles && k.version < key.version) out += snap
      }
      out.result().sortBy(-_.version)
    }

    def put(key: Key, snap: Snapshot, max: Int): Unit =
      entries.synchronized {
        maxEntries = max
        // a stopped session's entries can never hit again (its plans
        // are unusable) — sweep them so they stop pinning the session
        // and its DataFrames until LRU displacement
        val it = entries.keySet().iterator()
        while (it.hasNext) {
          if (it.next().session.sparkContext.isStopped) it.remove()
        }
        entries.put(key, snap)
      }
    private[graft] def clear(): Unit = entries.synchronized(entries.clear())
  }

  /** Counts ACTUAL snapshot builds (cache misses, advances included) —
    * the spec's evidence that N repeated reads at one version build once.
    */
  private[graft] val replayCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Counts replays that start from a checkpoint (its scalar actions
    * read) — the spec's evidence that a session reading each new
    * version advances its last snapshot instead of going back to the
    * checkpoint. A rebase onto a checkpoint reads none of it until its
    * scan is used.
    */
  private[graft] val checkpointReadCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The log state a replay starts from — the empty log, a checkpoint
    * or a cached snapshot — and folds log files into, in version order.
    * `sources` accumulates the files the state is built from.
    */
  private final class ReplayState(val version: Long, var meta: Option[MetaAction],
                                  var protocol: ProtocolAction,
                                  var txns: Map[String, Long],
                                  var domains: Map[String, String],
                                  base: LiveFiles,
                                  val sources: scala.collection.mutable.Map[String, (Long, Long)]) {
    // last action per path in the files folded so far, first-touch order
    private val suffix = scala.collection.mutable.LinkedHashMap.empty[String, Option[AddFile]]

    def fold(cp: CommitParse): Unit = {
      cp.fileActions.foreach {
        case (Right(af), _) => suffix(af.path) = Some(af)
        case (Left(p), _) => suffix(p) = None
      }
      cp.meta.foreach(m => meta = Some(m))
      cp.protocol.foreach(p => protocol = p)
      txns ++= cp.txns
      cp.domains.foreach { case (d, conf) =>
        domains = conf.fold(domains - d)(c => domains + (d -> c))
      }
    }

    def source(name: String, st: org.apache.hadoop.fs.FileStatus): Unit =
      sources(name) = (st.getLen, st.getModificationTime)

    /** The base's files with the folded suffix merged over the base's
      * own (a later action on a path replaces an earlier one in place),
      * as of `target`. A driver-side base absorbs its suffix once the
      * suffix outgrows it, so a chain of advances nobody resolves stays
      * O(live files).
      */
    def liveFiles(target: Long, maxFiles: Option[Long]): LiveFiles = {
      val merged =
        if (suffix.isEmpty) base.suffix
        else if (base.suffix.isEmpty) suffix.toVector
        else (scala.collection.mutable.LinkedHashMap.from(base.suffix) ++= suffix).toVector
      val out = base.copy(suffix = merged, maxFiles = maxFiles)
      if (out.cp.isEmpty && merged.size > out.list.size)
        LiveFiles(None, out.inMemory(_ => true), target, Vector.empty, maxFiles)
      else out
    }
  }

  private object ReplayState {
    def empty: ReplayState = new ReplayState(-1L, None, ProtocolAction.Initial, Map.empty,
      Map.empty, LiveFiles(None, Nil, -1L, Vector.empty, None),
      scala.collection.mutable.Map.empty)

    /** From cached snapshot `v`, at or above `cp` — the newest checkpoint
      * at or below the target, its base built on demand:
      *  - v's replay stands on cp, or there is none: v's base, suffix
      *    and sources carry over, its resolved list beside them (as the
      *    base itself with no checkpoint scan, as `known` with one);
      *  - else (v was replayed before cp was written) the state REBASES
      *    onto cp: its lazy scan, its files as sources, v's scalar
      *    actions and v's live list as `known` when that needs no job,
      *    and the fold restarts after cp. Refolding (cp, v] over v's
      *    state changes nothing — the last action per path, metaData,
      *    protocol, txn and domain wins either way — and keeps the
      *    suffix and `sources` to one checkpoint interval, as a replay
      *    from scratch has them.
      */
    def advancing(v: Snapshot, cp: Option[(Long, () => CheckpointBase)]): ReplayState =
      cp.filterNot { case (cpV, _) => v.sources.keys.exists(_.startsWith(f"$cpV%020d.checkpoint")) } match {
        case Some((cpV, base)) =>
          val cb = base()
          new ReplayState(cpV, Some(v.meta), v.protocol, v.txns, v.domainMetadata,
            cb.files.copy(known = v.activeIfResolved.orElse(v.files.onDriver)),
            scala.collection.mutable.Map.from(cb.sources))
        case None =>
          new ReplayState(v.version, Some(v.meta), v.protocol, v.txns, v.domainMetadata,
            v.activeIfResolved.fold(v.files)(all =>
              if (v.files.cp.isEmpty) LiveFiles(None, all, v.version, Vector.empty, None)
              else v.files.copy(known = Some(all))),
            scala.collection.mutable.Map.from(v.sources))
      }
  }

  private val ClassicCheckpoint = "\\d{20}\\.checkpoint\\.parquet"
  private val MultiPartCheckpoint = "\\d{20}\\.checkpoint\\.\\d{10}\\.(\\d{10})\\.parquet"
  private val V2Checkpoint = "\\d{20}\\.checkpoint\\.[A-Za-z0-9_-]+\\.(json|parquet)"

  /** The snapshot at the target version (latest, or `versionAsOf`).
    * Served from [[SnapshotCache]] while the files it was built from are
    * unchanged; otherwise ONE replay loop folds log files into a start
    * state, newest first of:
    *  - a cached snapshot at v < target of this session, log and gate,
    *    when v is at or above the newest checkpoint at or below the
    *    target: its state carries over, or rebases onto that
    *    checkpoint when v was replayed before it was written
    *    ([[ReplayState.advancing]]) — so a suffix over a checkpoint
    *    scan never spans a newer checkpoint. A resolved list derives
    *    the new one in memory, while the checkpoint scan stays the
    *    distributed form ([[Snapshot.activeDf]]) for the checkpoint
    *    writer;
    *  - that checkpoint: its adds stay a distributed DataFrame (see the
    *    class scaladoc), its scalar actions come in one job;
    *  - the empty log.
    * Commit JSON and compaction files come from [[parsedLogFile]]'s
    * memo; every gate (reader features, column-mapping mode, chain
    * contiguity, checkpoint protection) applies to the result whatever
    * the start.
    */
  private[graft] def snapshot(s: SparkSession, dir: String,
                                versionAsOf: Option[Long]): Snapshot = {
    val hconf = s.sessionState.newHadoopConf()
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(hconf)
    require(
      try fs.getFileStatus(logPath).isDirectory
      catch { case _: java.io.FileNotFoundException => false },
      s"not a Delta table (no _delta_log): $dir")
    val entries = fs.listStatus(logPath).toSeq
    val logFiles = entries.filter(_.isFile)
    def named(re: String) = logFiles.filter(_.getPath.getName.matches(re))
    val commits = named("\\d{20}\\.json")
      .map(st => st.getPath.getName.take(20).toLong -> st).sortBy(_._1)
    // classic single-file checkpoints, multi-part
    // NNN.checkpoint.PPPPPPPPPP.QQQQQQQQQQ.parquet (a version's parts
    // are read together as one snapshot base; ignoring the multi-part
    // form would silently drop every file added at or before it when
    // retention has cleaned the pre-checkpoint commits) AND v2-manifest
    // (NNN.checkpoint.<uniqueStr>.{json,parquet}) names
    val checkpoints: Seq[(Long, Seq[FileStatus])] =
      (named(ClassicCheckpoint) ++ named(MultiPartCheckpoint) ++ named(V2Checkpoint))
        .groupBy(_.getPath.getName.take(20).toLong)
        .map { case (v, ps) => v -> ps.sortBy(_.getPath.getName) }
        .toSeq.sortBy(_._1)
    // LOG COMPACTION files (`<x>.<y>.compacted.json`, PROTOCOL.md): a
    // compaction file's END version is a reachable state even after
    // the covered commits were retention-cleaned (its reconciled
    // actions ARE versions x..y); intermediate versions inside a
    // cleaned range are not
    val compactedFiles = named("\\d{20}\\.\\d{20}\\.compacted\\.json")
      .map { st =>
        val n = st.getPath.getName
        (n.take(20).toLong, n.slice(21, 41).toLong, st)
      }.sortBy(_._1)
    val target = versionAsOf.getOrElse(
      (commits.map(_._1) ++ checkpoints.map(_._1) ++ compactedFiles.map(_._2)).maxOption
        .getOrElse(sys.error(s"empty _delta_log: $dir")))
    versionAsOf.foreach { v =>
      require(commits.exists(_._1 == v) || checkpoints.exists(_._1 == v) ||
          compactedFiles.exists(_._2 == v),
        s"versionAsOf $v not present in $logPath")
    }

    // cache lookup: key on the RESOLVED version (a latest-read and an
    // explicit versionAsOf at the same version share one entry)
    val cacheOn = s.conf.get("spark.graft.delta.snapshotCache.enabled", "true").toBoolean
    val maxFiles =
      s.conf.getOption("spark.graft.delta.maxSnapshotFiles").map(_.toLong).getOrElse(4000000L)
    val logKey = fs.makeQualified(logPath).toString
    val cacheKey = SnapshotCache.Key(s, logKey, target, maxFiles)
    val listed = logFiles.map(st => st.getPath.getName -> st).toMap
    lazy val sidecarsListed: Map[String, FileStatus] = entries
      .find(st => st.isDirectory && st.getPath.getName == "_sidecars").toSeq
      .flatMap(st => fs.listStatus(st.getPath).toSeq)
      .map(st => s"_sidecars/${st.getPath.getName}" -> st).toMap
    def valid(snap: Snapshot): Boolean = snap.sources.forall { case (name, (len, mtime)) =>
      (if (name.startsWith("_sidecars/")) sidecarsListed.get(name) else listed.get(name))
        .exists(st => st.getLen == len && st.getModificationTime == mtime)
    }
    val hit = if (cacheOn) SnapshotCache.get(cacheKey).filter(valid) else None
    if (hit.isDefined) return hit.get
    replayCounter.incrementAndGet()

    val cpBase = checkpoints.filter(_._1 <= target).lastOption
    val cpBaseV = cpBase.map(_._1).getOrElse(-1L)
    val start =
      (if (!cacheOn) None
       else SnapshotCache.below(cacheKey).find(v => v.version >= cpBaseV && valid(v)))
        .map(ReplayState.advancing(_, cpBase.map { case (v, ps) =>
          v -> (() => checkpointBase(s, fs, logPath, logKey, v, ps)) }))
        .orElse(cpBase.map { case (v, ps) => readCheckpoint(s, fs, logPath, logKey, v, ps) })
        .getOrElse(ReplayState.empty)

    // fold (start, target] in version order; action order inside a
    // file is preserved by per-line parsing. The chain must be
    // CONTIGUOUS from the start: a gap means log retention cleaned
    // commits this replay needs — a silent partial snapshot otherwise.
    // A compaction file substitutes for the whole range [x, y] when it
    // ends inside the window — the reconciled actions replace x..y's
    // commit JSONs, so a long suffix reads as a few files and retention
    // may clean the covered commits without breaking replay.
    val commitByV = commits.toMap
    var vcur = start.version + 1
    while (vcur <= target) {
      // a range STARTING at or before vcur serves too (straddling the
      // start): its actions are final-per-path, so the ones the start
      // already reflects reapply idempotently
      val cov = compactedFiles.filter(c => c._1 <= vcur && c._2 >= vcur && c._2 <= target)
      val seg =
        if (cov.nonEmpty) { val best = cov.maxBy(_._2); vcur = best._2 + 1; best._3 }
        else commitByV.get(vcur) match {
          case Some(st) => vcur += 1; st
          case None => throw new IllegalArgumentException(
            s"commit $vcur missing and no compaction file covers it — the chain " +
              s"(${start.version + 1} to $target) is not reconstructible in $logPath " +
              "(log cleaned past the newest usable checkpoint?); refusing a partial snapshot")
        }
      start.fold(parsedLogFile(fs, logKey, seg))
      start.source(seg.getPath.getName, seg)
    }

    // Reader-version gate, per PROTOCOL.md: version 2 adds column
    // mapping (supported below, name mode only); version 3 tables list
    // their reader features explicitly — anything beyond column mapping
    // (deletion vectors, v2 checkpoints, …) changes how data must be
    // interpreted and is refused LOUDLY rather than misread.
    val protocol = start.protocol
    if (protocol.minReader >= 3) {
      require(protocol.minReader == 3,
        s"Delta protocol minReaderVersion ${protocol.minReader} not supported — " +
          "refusing to misread the table")
      require(protocol.readerFeatures.nonEmpty,
        s"Delta protocol minReaderVersion 3 with no readerFeatures in $logPath — " +
          "malformed table, refusing to guess its reader requirements")
      // vacuumProtocolCheck mandates that VACUUM implementations
      // consult the protocol before reclaiming — graft's vacuum
      // resolves the snapshot through this very gate, so the
      // obligation holds by construction and the feature is pure
      // interop breadth
      // variantShredding (r17): the table MAY hold parquet files whose
      // variant columns are SHREDDED (metadata/value/typed_value
      // groups) — Spark 4's parquet row converter reassembles them
      // natively under spark.sql.variant.allowReadingShredded, so the
      // scan path reads both layouts through the declared VariantType
      val unsupported = protocol.readerFeatures -- Set("columnMapping", "deletionVectors",
        "v2Checkpoints", "typeWidening", "variantType", "timestampNtz",
        "vacuumProtocolCheck", "variantShredding")
      require(unsupported.isEmpty,
        s"unsupported Delta reader features ${unsupported.mkString(", ")} " +
          "(columnMapping, deletionVectors, v2Checkpoints, typeWidening, " +
          "variantShredding and vacuumProtocolCheck are implemented) — " +
          "refusing to misread the table")
    }
    val configuration = start.meta.map(_.configuration).getOrElse(Map.empty)
    val cmMode = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cmMode == "none" || cmMode == "name" || cmMode == "id",
      s"delta.columnMapping.mode '$cmMode' not supported (none/name/id) — " +
        "refusing to misread the table")
    // checkpointProtection (PROTOCOL.md, stamped by a TRUNCATE HISTORY
    // feature drop): a snapshot AT or ABOVE the boundary must stand on
    // a checkpoint at/above it — a from-JSON replay would cross the
    // dropped feature's historical actions, the exact exposure the
    // feature exists to close. The base counted is the newest listed
    // checkpoint at or below the target, whatever the start: a cached
    // snapshot from below the boundary (read before the drop) must not
    // carry a replay across it once the boundary checkpoint is gone
    // (every start records that checkpoint's files as sources). Time
    // travel BELOW the boundary is unaffected (that region's protocol
    // actions declare its features and gate as usual).
    configuration.get("delta.requireCheckpointProtectionBeforeVersion")
      .map(_.toLong).filter(_ > 0)
      .filterNot(_ => s.conf.get(
        "spark.graft.delta.ignoreCheckpointProtection", "false").toBoolean)
      .foreach { bound =>
        require(cpBaseV >= bound - 1,
          s"snapshot at version $target replays JSON history across the table's " +
            s"checkpoint protection boundary $bound (base: " +
            (if (cpBaseV < 0) "version 0, no checkpoint" else s"checkpoint $cpBaseV") +
            ") — a TRUNCATE HISTORY feature drop protects that history; replay " +
            "from a checkpoint at or above the boundary. If the boundary " +
            "checkpoint was deleted, repair under " +
            "spark.graft.delta.ignoreCheckpointProtection=true (this reader " +
            "understands every feature graft drops) by re-authoring it with " +
            "LakeWriter.checkpointDelta, then unset the flag")
      }
    val snap = new Snapshot(target,
      start.meta.getOrElse(sys.error(s"no metaData action found in $logPath")),
      protocol, start.txns, start.domains,
      start.liveFiles(target, if (cpBase.isDefined) Some(maxFiles) else None),
      start.sources.toMap)
    if (cacheOn) SnapshotCache.put(cacheKey, snap,
      s.conf.get("spark.graft.delta.snapshotCache.maxEntries", "32").toInt)
    snap
  }

  /** Checkpoint `v` as a replay base (`psAll`: every checkpoint file of
    * that version): its live files, the files it is read from and its
    * scalar actions. Several checkpoint forms may coexist at one
    * version; each complete form is a full snapshot by itself, so ONE
    * is read — mixing forms would double-count adds. Preference:
    * classic single file, then a V2 manifest, then multi-part. Only a
    * JSON manifest is read up front (through the commit-parse memo);
    * the add scan and the scalar actions come on first use, every
    * parquet read taking its schema from the first file's footer
    * ([[ParquetFooter.sparkSchema]]) instead of an inference job.
    * `sources` holds the form's own files and a JSON manifest's
    * sidecars (a parquet manifest's sidecars live while it names them).
    */
  private final case class CheckpointBase(files: LiveFiles,
                                          sources: Map[String, (Long, Long)],
                                          scalars: () => CommitParse)

  private def checkpointBase(s: SparkSession, fs: FileSystem, logPath: Path, logKey: String,
                             v: Long, psAll: Seq[FileStatus]): CheckpointBase = {
    def stamp(st: FileStatus) = sourceName(st) -> (st.getLen, st.getModificationTime)
    def parquet(files: Seq[FileStatus]): DataFrame =
      ParquetFooter.sparkSchema(fs.getConf, files).fold(s.read)(s.read.schema(_))
        .parquet(files.map(_.getPath.toString): _*)
    def adds(cp: DataFrame): DataFrame =
      if (cp.columns.contains("add")) checkpointAdds(cp) else addsAsResolveDf(s, Nil)
    def scan(build: => DataFrame) = LiveFiles(Some(new CheckpointScan(() => build)), Nil, v,
      Vector.empty, None)
    val classic = psAll.filter(_.getPath.getName.matches(ClassicCheckpoint))
    val v2 = psAll.filter(_.getPath.getName.matches(V2Checkpoint))
    if (classic.nonEmpty || v2.isEmpty) {
      val ps = if (classic.nonEmpty) classic else psAll
      // a multi-part checkpoint names its part count — all parts must
      // be present or the snapshot base is silently partial
      val multi = MultiPartCheckpoint.r
      ps.head.getPath.getName match {
        case multi(total) =>
          require(ps.size == total.toInt,
            s"checkpoint $v has ${ps.size} of $total parts in $logPath — refusing a partial snapshot")
        case _ =>
      }
      lazy val cp = parquet(ps)
      CheckpointBase(scan(adds(cp)), ps.map(stamp).toMap, () => checkpointScalars(cp))
    } else {
      // V2 spec checkpoint (reader feature `v2Checkpoints`):
      // `<v>.checkpoint.<uniqueStr>.{json|parquet}` is a MANIFEST —
      // non-file actions plus a `checkpointMetadata` (version
      // verified) and optional `sidecar` actions naming parquet files
      // under _delta_log/_sidecars/ that hold the add state. Several
      // uniqueStrs may coexist (each complete): take the
      // lexicographically first for determinism. Sidecars and a
      // parquet manifest's inline adds stay a distributed scan; a JSON
      // manifest is driver-parsed by the commit parser (the format
      // puts bulk adds in sidecars for exactly this reason).
      val m = v2.head
      def scalarsOf(manifest: CommitParse): CommitParse = {
        require(manifest.checkpointVersion.forall(_ == v),
          s"v2 checkpoint ${m.getPath.getName} declares a different version than its " +
            "file name — corrupt manifest, refusing")
        manifest.copy(fileActions = Nil)
      }
      def sidecars(manifest: CommitParse): Seq[FileStatus] = manifest.sidecars.map { p =>
        val path = new Path(new Path(logPath, "_sidecars"), p)
        try fs.getFileStatus(path)
        catch { case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"v2 checkpoint sidecar $path missing — refusing a partial snapshot") }
      }
      if (m.getPath.getName.endsWith(".parquet")) {
        lazy val mf = parquet(Seq(m))
        lazy val manifest = scalarsOf(checkpointScalars(mf))
        CheckpointBase(scan {
          val sc = sidecars(manifest)
          if (sc.isEmpty) adds(mf) else adds(mf).unionByName(adds(parquet(sc)))
        }, Map(stamp(m)), () => manifest)
      } else {
        val manifest = parsedLogFile(fs, logKey, m)
        val sc = sidecars(manifest)
        val inline = manifest.fileActions.collect { case (Right(af), _) => af }
        CheckpointBase(
          if (sc.isEmpty) LiveFiles(None, inline, v, Vector.empty, None)
          else scan(adds(parquet(sc))).copy(list = inline),
          (m +: sc).map(stamp).toMap, () => scalarsOf(manifest))
      }
    }
  }

  /** The start state at checkpoint `v`: its base and its scalar actions. */
  private def readCheckpoint(s: SparkSession, fs: FileSystem, logPath: Path, logKey: String,
                             v: Long, psAll: Seq[FileStatus]): ReplayState = {
    checkpointReadCounter.incrementAndGet()
    val cb = checkpointBase(s, fs, logPath, logKey, v, psAll)
    val st = new ReplayState(v, None, ProtocolAction.Initial, Map.empty, Map.empty, cb.files,
      scala.collection.mutable.Map.from(cb.sources))
    st.fold(cb.scalars())
    st
  }

  /** A checkpoint file's name under `_delta_log` (sidecars keep their
    * `_sidecars/` prefix), as [[Snapshot.sources]] records it.
    */
  private def sourceName(st: FileStatus): String =
    if (st.getPath.getParent.getName == "_sidecars") s"_sidecars/${st.getPath.getName}"
    else st.getPath.getName

  /** The scalar actions of a parquet checkpoint or V2 manifest —
    * metaData, protocol, txn, domainMetadata, sidecar and
    * checkpointMetadata — in ONE filtered-and-projected job, as a
    * [[CommitParse]] the replay folds like a commit; the add entries
    * never ride along.
    */
  private def checkpointScalars(cp: DataFrame): CommitParse = {
    import org.apache.spark.sql.Row
    val cols = Seq("metaData", "protocol", "txn", "domainMetadata", "sidecar",
      "checkpointMetadata").filter(cp.columns.toSet)
    val rows =
      if (cols.isEmpty) Array.empty[Row]
      else cp.where(cols.map(c => col(c).isNotNull).reduce(_ || _))
        .select(cols.map(col): _*).collect()
    def field[A](r: Row, f: String): Option[A] =
      if (r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f))) Some(r.getAs[A](f))
      else None
    // real delta-spark checkpoints store protocol and txn versions as
    // int32 (the protocol's parquet schema); hand-built fixtures may
    // say int64 — go through Number
    def long(r: Row, f: String): Long = r.getAs[Number](f).longValue()
    def strings(r: Row, f: String): Seq[String] =
      field[scala.collection.Seq[String]](r, f).map(_.toSeq).getOrElse(Nil)
    rows.foldLeft(CommitParse()) { (out, r) =>
      var o = out
      field[Row](r, "metaData").foreach { md =>
        o = o.copy(meta = Some(MetaAction(structRowJson(md), md.getAs[String]("schemaString"),
          field[String](md, "id"), strings(md, "partitionColumns"),
          field[scala.collection.Map[String, String]](md, "configuration").map(_.toMap)
            .getOrElse(Map.empty))))
      }
      field[Row](r, "protocol").foreach { pr =>
        o = o.copy(protocol = Some(ProtocolAction(long(pr, "minReaderVersion"),
          long(pr, "minWriterVersion"),
          strings(pr, "readerFeatures").toSet, strings(pr, "writerFeatures").toSet)))
      }
      field[Row](r, "txn").foreach { tx =>
        o = o.copy(txns = o.txns + (tx.getAs[String]("appId") -> long(tx, "version")))
      }
      field[Row](r, "domainMetadata").foreach { dm =>
        val removed = field[Boolean](dm, "removed").contains(true)
        o = o.copy(domains = o.domains + (dm.getAs[String]("domain") ->
          (if (removed) None else Some(dm.getAs[String]("configuration")))))
      }
      field[Row](r, "sidecar").foreach(sc => o = o.copy(sidecars = o.sidecars :+
        sc.getAs[String]("path")))
      field[Row](r, "checkpointMetadata").foreach(cm =>
        o = o.copy(checkpointVersion = Some(long(cm, "version"))))
      o
    }
  }

  /** One collected row of the resolve shape ([[checkpointAdds]]). */
  private def resolveRowAdd(r: org.apache.spark.sql.Row): AddFile = {
    val dv =
      if (r.isNullAt(4)) None
      else Some(DvDescriptor(r.getString(4), r.getString(5),
        if (r.isNullAt(6)) None else Some(r.getInt(6)),
        r.getInt(7), r.getLong(8)))
    AddFile(r.getString(0),
      Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty[String, String]),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3), dv,
      if (r.isNullAt(9)) None else Some(r.getString(9)),
      if (r.isNullAt(10)) None else Some(r.getLong(10)),
      if (r.isNullAt(11)) None else Some(r.getLong(11)),
      if (r.isNullAt(12)) None else Some(r.getString(12)))
  }

  /** id-mode scans need Spark's parquet field-id resolution. The
    * switch is a SESSION conf (the scan is lazy, so a scoped
    * save-and-restore cannot work): an UNSET session turns it on —
    * only schemas that carry `parquet.field.id` metadata are affected,
    * i.e. exactly the id-mode scans built here — while a session that
    * EXPLICITLY set it false (e.g. to ignore a dataset's stale ids)
    * refuses loudly instead of being silently overridden.
    */
  private def enableFieldIdReads(s: SparkSession): Unit = {
    val k = "spark.sql.parquet.fieldId.read.enabled"
    // contains() sees only EXPLICIT settings (getOption surfaces the
    // registered default, which is false)
    val explicitlyOff = s.sessionState.conf.contains(k) &&
      s.conf.get(k) == "false"
    require(!explicitlyOff,
      s"column mapping 'id' resolves by parquet field id, which needs $k=true — " +
        "this session explicitly sets it false; unset it to read id-mode tables")
    s.conf.set(k, "true")
  }

  /** A checkpoint's `add` entries flattened to the resolution schema —
    * field order is load-bearing for [[resolveRowAdd]]. Optional
    * fields (size, modificationTime, deletionVector) may be absent in
    * minimal or foreign checkpoints; they surface as typed nulls.
    */
  private def checkpointAdds(cp: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, MapType, StringType}
    val addT = cp.schema("add").dataType.asInstanceOf[StructType]
    val af = addT.fieldNames.toSet
    def opt(n: String, t: DataType) =
      (if (af(n)) col(s"add.$n") else lit(null)).cast(t)
    val dvT = if (af("deletionVector"))
      Some(addT("deletionVector").dataType.asInstanceOf[StructType]) else None
    def dvOpt(n: String, t: DataType) = (dvT match {
      case Some(d) if d.fieldNames.contains(n) => col(s"add.deletionVector.$n")
      case _ => lit(null)
    }).cast(t)
    cp.where(col("add").isNotNull).select(
      col("add.path").cast(StringType).as("path"),
      opt("partitionValues", MapType(StringType, StringType)).as("pv"),
      opt("size", LongType).as("size"),
      opt("modificationTime", LongType).as("mtime"),
      dvOpt("storageType", StringType).as("dv_st"),
      dvOpt("pathOrInlineDv", StringType).as("dv_p"),
      dvOpt("offset", IntegerType).as("dv_off"),
      dvOpt("sizeInBytes", IntegerType).as("dv_sz"),
      dvOpt("cardinality", LongType).as("dv_card"),
      // a foreign checkpoint written with writeStatsAsStruct=true +
      // writeStatsAsJson=false carries ONLY add.stats_parsed — render
      // the struct back to the JSON form the pruner reads, or data
      // skipping silently dies on such tables. UTC + micros precision
      // so temporal bounds round-trip losslessly.
      (if (af("stats_parsed"))
        org.apache.spark.sql.functions.coalesce(
          (if (af("stats")) col("add.stats") else lit(null)).cast(StringType),
          org.apache.spark.sql.functions.when(col("add.stats_parsed").isNotNull,
            org.apache.spark.sql.functions.to_json(col("add.stats_parsed"), Map(
              "timeZone" -> "UTC",
              "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
              "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))))
      else opt("stats", StringType)).as("stats"),
      opt("baseRowId", LongType).as("brid"),
      opt("defaultRowCommitVersion", LongType).as("drcv"),
      opt("clusteringProvider", StringType).as("clp"))
  }

  /** Driver-parsed AddFiles (a JSON v2-manifest's inline adds) lifted
    * into the same 10-column layout [[checkpointAdds]] produces, so
    * the lazy resolution path is ONE shape regardless of source.
    */
  private def addsAsResolveDf(s: SparkSession, adds: Seq[AddFile]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, MapType, StringType, StructField}
    val schema = StructType(Seq(
      StructField("path", StringType), StructField("pv", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("mtime", LongType),
      StructField("dv_st", StringType), StructField("dv_p", StringType),
      StructField("dv_off", IntegerType), StructField("dv_sz", IntegerType),
      StructField("dv_card", LongType), StructField("stats", StringType),
      StructField("brid", LongType), StructField("drcv", LongType),
      StructField("clp", StringType)))
    val rows = adds.map { a =>
      org.apache.spark.sql.Row(a.path, a.partitionValues, a.size, a.modificationTime,
        a.dv.map(_.storageType).orNull, a.dv.map(_.pathOrInlineDv).orNull,
        a.dv.flatMap(_.offset).map(Int.box).orNull,
        a.dv.map(d => Int.box(d.sizeInBytes)).orNull,
        a.dv.map(d => Long.box(d.cardinality)).orNull,
        a.stats.orNull,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull,
        a.clusteringProvider.orNull)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** Snapshot read at the latest version, or at `versionAsOf`.
    *
    * Column mapping (name mode): the parquet files carry PHYSICAL
    * column names (`delta.columnMapping.physicalName` in the
    * schemaString field metadata) and `partitionValues` keys are
    * physical too — the scan reads physical names and the projection
    * renames to the logical schema. Metadata-only remap: same
    * distributed scan, pushdown and pruning as the unmapped path.
    */
  /** Table history (DESCRIBE HISTORY): one row per commit JSON still
    * present in the log, newest first — (version, operation,
    * readVersion, engineInfo), from the `commitInfo` action graft's
    * writers stamp on every commit (CREATE TABLE / WRITE / DELETE /
    * UPDATE / MERGE / OPTIMIZE / RESTORE). Commits without one
    * (foreign or pre-provenance tables) surface with a null
    * operation; versions cleaned by retention are simply absent —
    * checkpoints are snapshots, not history.
    */
  def history(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hconf = s.sessionState.newHadoopConf()
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(hconf)
    val versions = fs.listStatus(logPath).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).sorted
    // `timestamp` reads off the SAME monotone series as timestampAsOf
    // and CDF's _commit_timestamp (ICT when stamped, else commit-file
    // mtime, floored by the predecessor) — DESCRIBE HISTORY, time
    // travel and the change feed must never disagree about when a
    // version happened
    val mono = commitTimestamps(fs, logPath, Long.MaxValue).toMap
    val rows = versions.flatMap { v =>
      // memoized: N DESCRIBE HISTORY calls parse each retained commit
      // once; a commit deleted between the listing and the parse
      // (racing retention) just drops from the answer
      parsedCommit(fs, logPath, v).map { cp =>
        (v, cp.operation.orNull, cp.readVersion.map(Long.box).orNull,
          cp.engineInfo.orNull, mono.get(v).map(Long.box).orNull, cp.params,
          cp.metrics)
      }
    }
    rows.sortBy(-_._1)
      .toDF("version", "operation", "readVersion", "engineInfo", "timestamp",
        "operationParameters", "operationMetrics")
  }

  /** DESCRIBE DETAIL: one row of table-level facts — format, table id,
    * location, current version, partition columns, live file count and
    * total bytes, table properties, protocol versions and feature
    * lists, and how many live files carry a deletion vector (the
    * merge-on-read debt gauge an operator sizes compaction by).
    *
    * Scale: the scalar fields are O(1) (lazy snapshot, no file
    * resolution); numFiles/sizeInBytes/numDeletionVectorFiles force
    * the gated live-file list — same cost and same
    * `maxSnapshotFiles` refusal as planning a scan, never more.
    */
  def detail(s: SparkSession, dir: String,
             versionAsOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    val snap = snapshot(s, dir, versionAsOf)
    val files = snap.active
    val location = new Path(dir).getFileSystem(s.sessionState.newHadoopConf())
      .makeQualified(new Path(dir)).toUri.toString
    // name / description / createdTime ride the raw metaData node
    // (delta-spark's DESCRIBE DETAIL shape, r16); clusteringColumns
    // come from the clustering domain — LOGICAL names for the user
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val raw = snap.metaRaw.map(om.readTree)
    def str(k: String): String = raw.flatMap(n => Option(n.get(k)))
      .filterNot(_.isNull).map(_.asText()).orNull
    val createdTime: java.lang.Long = raw.flatMap(n => Option(n.get("createdTime")))
      .filterNot(_.isNull).map(n => java.lang.Long.valueOf(n.asLong())).orNull
    val physCluster = graft.sources.Clustering.columnsOf(snap)
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val logByPhys = schema.fields.map { f =>
      (if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName") else f.name) -> f.name
    }.toMap
    val clusterCols = physCluster.map(c => logByPhys.getOrElse(c, c))
    Seq((
      "delta", snap.metaId.orNull, str("name"), str("description"), location,
      createdTime, snap.version,
      snap.partCols, clusterCols, files.size.toLong, files.map(_.size).sum,
      files.count(_.dv.isDefined).toLong, snap.configuration,
      snap.minReader, snap.minWriter, snap.readerFeatures, snap.writerFeatures
    )).toDF("format", "id", "name", "description", "location",
      "createdTime", "version", "partitionColumns", "clusteringColumns",
      "numFiles", "sizeInBytes", "numDeletionVectorFiles", "properties",
      "minReaderVersion", "minWriterVersion", "readerFeatures", "writerFeatures")
  }

  /** Verify a version's `.crc` checksum against a fresh replay at
    * that version — delta-spark's on-demand checksum validation.
    * Compares live file count, live bytes, the metaData facts
    * (schemaString, partitionColumns, configuration) and the protocol
    * versions. Returns true when a checksum exists and matches, false
    * when the version carries no checksum (chains seed at CREATE and
    * re-seed at checkpoints); a MISMATCH throws loudly — the
    * fingerprint of a lost commit on a non-atomic store or a
    * hand-edited log.
    *
    * Contract note: graft-authored chains cannot skew (the commit
    * funnel only removes OCC-resolved live paths, and the fold
    * refuses within-commit duplicate removes), but a FOREIGN-authored
    * `.crc` that itself mis-counted — e.g. an engine that folded an
    * idempotent re-remove of an already-removed path as -1 — would
    * make this validation throw on a healthy table until the next
    * checkpoint re-seeds the chain from the live set. Treat a
    * mismatch on a mixed-writer table as "re-checkpoint, then
    * re-validate" before concluding data loss.
    */
  def validateChecksum(s: SparkSession, dir: String,
                       versionAsOf: Option[Long] = None): Boolean = {
    val snap = snapshot(s, dir, versionAsOf)
    val log = new Path(new Path(dir), "_delta_log")
    val fs = log.getFileSystem(s.sessionState.newHadoopConf())
    val crcPath = new Path(log, f"${snap.version}%020d.crc")
    if (!fs.exists(crcPath)) return false
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // a truncated / unparseable / field-incomplete .crc (a crash
    // mid-write, a foreign shape) is NOT table corruption — it is an
    // unusable checksum, and answers false like a missing one
    val crc =
      try {
        val in = fs.open(crcPath)
        try om.readTree(in) finally in.close()
      } catch { case scala.util.control.NonFatal(_) => return false }
    if (crc == null || !crc.isObject ||
        !crc.hasNonNull("numFiles") || !crc.hasNonNull("tableSizeBytes"))
      return false
    val files = snap.active
    def fail(what: String, want: Any, got: Any): Nothing =
      throw new IllegalStateException(
        s"checksum mismatch for $dir at version ${snap.version}: $what — " +
          s"checksum says $want, replay says $got. A commit was lost or the " +
          "log was edited; do not trust this table state")
    if (crc.get("numFiles").asLong() != files.size.toLong)
      fail("numFiles", crc.get("numFiles").asLong(), files.size)
    if (crc.get("tableSizeBytes").asLong() != files.map(_.size).sum)
      fail("tableSizeBytes", crc.get("tableSizeBytes").asLong(), files.map(_.size).sum)
    val md = crc.get("metadata")
    if (md != null && md.has("schemaString") &&
        md.get("schemaString").asText() != snap.schemaJson)
      fail("metadata.schemaString", md.get("schemaString").asText(), snap.schemaJson)
    if (md != null && md.hasNonNull("partitionColumns")) {
      val pcs = (0 until md.get("partitionColumns").size())
        .map(md.get("partitionColumns").get(_).asText())
      if (pcs != snap.partCols)
        fail("metadata.partitionColumns", pcs.mkString(","), snap.partCols.mkString(","))
    }
    if (md != null && md.hasNonNull("configuration")) {
      val b = Map.newBuilder[String, String]
      val it = md.get("configuration").fields()
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      val conf = b.result()
      if (conf != snap.configuration)
        fail("metadata.configuration", conf.toSeq.sorted.mkString(";"),
          snap.configuration.toSeq.sorted.mkString(";"))
    }
    val pr = crc.get("protocol")
    if (pr != null && pr.hasNonNull("minReaderVersion") &&
        (pr.get("minReaderVersion").asLong() != snap.minReader ||
          pr.get("minWriterVersion").asLong() != snap.minWriter))
      fail("protocol",
        s"(${pr.get("minReaderVersion").asLong()},${pr.get("minWriterVersion").asLong()})",
        s"(${snap.minReader},${snap.minWriter})")
    true
  }

  /** The version live at `timestampMillis` — delta-spark's
    * `timestampAsOf` rule: the NEWEST commit whose log-file
    * modification time is at or below the timestamp (commit content
    * timestamps are informational; the file system clock is the
    * protocol's time-travel authority). Refuses a timestamp older
    * than the earliest RETAINED commit (its state is not
    * reconstructible — retention cleaned it) rather than silently
    * answering with a later state.
    */
  /** One commit's `inCommitTimestamp` (leading commitInfo action),
    * None when the commit file is absent (log-compacted/cleaned) or
    * carries no stamp.
    */
  private[graft] def commitIct(fs: org.apache.hadoop.fs.FileSystem, log: Path,
                               version: Long): Option[Long] =
    parsedCommit(fs, log, version).flatMap(_.ict)

  /** The MONOTONE (version, timestampMillis) series of the retained
    * commit chain at or below `uptoVersion`: in-commit timestamps
    * (when the table stamped the commit) are authoritative — the log
    * itself carries time and survives file copies/moves that reset
    * mtime; unstamped commits fall back to the log file's mtime —
    * then floored by the predecessor's stamp, since a commit can never
    * be OLDER than its parent even when the clock ran backwards
    * (delta-spark adjusts the same way). Every timestamp consumer
    * ([[versionAtTimestamp]], CDF's `_commit_timestamp`,
    * [[readChangesTimestamp]]) reads this one series, so they can
    * never disagree; commit parses ride the [[CommitParseCache]].
    */
  private[graft] def commitTimestamps(fs: org.apache.hadoop.fs.FileSystem,
                                      logPath: Path,
                                      uptoVersion: Long): Seq[(Long, Long)] =
    fs.listStatus(logPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.matches("\\d{20}\\.json"))
      .map { st =>
        val v = st.getPath.getName.take(20).toLong
        v -> commitIct(fs, logPath, v).getOrElse(st.getModificationTime)
      }
      .filter(_._1 <= uptoVersion)
      .sortBy(_._1)
      .scanLeft((Long.MinValue, Long.MinValue)) {
        case ((_, prevTs), (v, ts)) => (v, math.max(prevTs, ts))
      }.drop(1)

  def versionAtTimestamp(s: SparkSession, dir: String, timestampMillis: Long): Long = {
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(s.sessionState.newHadoopConf())
    val mono = commitTimestamps(fs, logPath, Long.MaxValue)
    require(mono.nonEmpty, s"not a Delta table (no commits): $dir")
    require(mono.head._2 <= timestampMillis,
      s"timestamp $timestampMillis predates the earliest retained commit " +
        s"(version ${mono.head._1} at ${mono.head._2}) — that state is not " +
        "reconstructible; refusing")
    mono.takeWhile(_._2 <= timestampMillis).last._1
  }

  /** CDF by WALL CLOCK — delta-spark's `startingTimestamp` /
    * `endingTimestamp` batch semantics composed over
    * [[readChanges]]: the window is [first version stamped at or
    * after `fromMillis`, last version stamped at or before
    * `toMillis`], read off the same monotone series as
    * `timestampAsOf` and the rows' own `_commit_timestamp`. Refuses
    * loudly when the range selects nothing: a start beyond the
    * newest commit, an end before the earliest retained one, or a
    * start-after-end window — answering "empty" there would silently
    * hide changes the caller asked for.
    */
  def readChangesTimestamp(s: SparkSession, dir: String,
                           fromMillis: Long, toMillis: Long): DataFrame = {
    require(fromMillis <= toMillis,
      s"readChangesTimestamp: from $fromMillis > to $toMillis")
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(s.sessionState.newHadoopConf())
    val mono = commitTimestamps(fs, logPath, Long.MaxValue)
    require(mono.nonEmpty, s"not a Delta table (no commits): $dir")
    val from = mono.find(_._2 >= fromMillis).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"readChangesTimestamp: no commit at or after $fromMillis " +
          s"(newest is version ${mono.last._1} at ${mono.last._2}); refusing " +
          "to answer an empty window as if it were history"))
    val upto = mono.takeWhile(_._2 <= toMillis)
    require(upto.nonEmpty,
      s"readChangesTimestamp: $toMillis predates the earliest retained commit " +
        s"(version ${mono.head._1} at ${mono.head._2}) — that window is not " +
        "reconstructible; refusing")
    val to = upto.last._1
    require(from <= to,
      s"readChangesTimestamp: the range [$fromMillis, $toMillis] falls between " +
        s"commits (resolved versions $from > $to) — no commit is stamped inside it")
    readChanges(s, dir, from, to)
  }

  /** Time travel by wall clock: `read` at [[versionAtTimestamp]]. */
  def readTimestamp(s: SparkSession, dir: String, timestampMillis: Long): DataFrame =
    read(s, dir, Some(versionAtTimestamp(s, dir, timestampMillis)))

  /** Predicate-filtered read with DATA SKIPPING: files whose
    * stats/partition envelope cannot satisfy `predicate` are pruned on
    * the driver WITHOUT being opened (add.stats, written from parquet
    * footers at commit time — [[DeltaStats]]), then the predicate
    * applies exactly on the distributed scan of the survivors. The
    * result equals `read(...).where(predicate)`; the difference is the
    * 100-TB cost profile: a narrow predicate on a clustered/z-ordered
    * table touches O(matching files), not O(table).
    */
  def readWhere(s: SparkSession, dir: String, predicate: String,
                versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(s, dir, versionAsOf)
    val files = DeltaStats.prune(s, snap.active, predicate, snap)
    scanFiles(s, dir, snap, files)
      .where(org.apache.spark.sql.functions.expr(predicate))
  }

  /** Highest `txn` version committed for `appId`, or -1 if none — the
    * idempotence watermark of PROTOCOL.md's transaction identifiers: a
    * streaming writer skips any batch id at or below it, so a batch
    * retried after a sink crash lands exactly once.
    */
  def lastTxnVersion(s: SparkSession, dir: String, appId: String): Long =
    snapshot(s, dir, None).txns.getOrElse(appId, -1L)

  /** Strips scheme + authority off a file URI/path string, leaving the
    * path component — `_metadata.file_path` ("file:///a/b"), binaryFile
    * `path` ("file:/a/b") and Hadoop `Path.toUri.getPath` ("/a/b") all
    * normalize to the same key, which is what the deletion-vector
    * anti-join matches on.
    */
  private val SchemeAuthorityRe = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?"

  /** Decoded path component of a file URI string. `_metadata.file_path`
    * and binaryFile `path` are URL-encoded URI strings (a space renders
    * as %20) while the log-derived join side uses Hadoop's DECODED
    * `toUri.getPath` — both keys must be the decoded form or a file
    * under a directory with a space never matches and its deleted rows
    * silently resurface. Literal '+' is protected first because
    * `url_decode` is form-decoding (it would turn '+' into a space,
    * which URI path encoding never produces). Stays in builtins so the
    * scan projection keeps whole-stage codegen.
    */
  private def uriPathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{regexp_replace, url_decode}
    url_decode(regexp_replace(regexp_replace(c, SchemeAuthorityRe, ""), "\\+", "%2B"))
  }

  /** The deleted (file, row-index) set of a snapshot as a DataFrame of
    * `__dv_path` (normalized data-file path) and `__dv_ridx` — the
    * anti-join side of a DV-carrying read. Decoding runs on EXECUTORS:
    * sidecar files ride the binaryFile source (one row per `.bin`
    * file, Hadoop conf handled by Spark), inline bitmaps ship as byte
    * rows; only the KB-scale descriptors live on the driver, so a
    * table with millions of deleted rows never materializes them
    * driver-side.
    */
  private[graft] def deletedRowsDf(s: SparkSession, root: Path,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   withDv: Seq[AddFile]): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, udf}
    def norm(p: Path): String = fs.makeQualified(p).toUri.getPath
    // (dataPath, sidecarPath|null, offset, size, cardinality, inlineBytes|null)
    val descs = withDv.map { f =>
      val d = f.dv.get
      val dataNorm = norm(resolveAddPath(root, f.path))
      d.storageType match {
        case "i" =>
          // padded to a 4-byte group boundary by the base85 encoding;
          // sizeInBytes recovers the true length
          val bytes = base85Decode(d.pathOrInlineDv)
          require(bytes.length >= d.sizeInBytes,
            s"inline deletion vector decodes to ${bytes.length} bytes < declared ${d.sizeInBytes}")
          (dataNorm, null: String, -1, d.sizeInBytes, d.cardinality, bytes.take(d.sizeInBytes))
        case "u" | "p" =>
          val off = d.offset.getOrElse(sys.error(
            s"file-backed deletionVector for ${f.path} carries no offset"))
          (dataNorm, norm(dvFilePath(root, d)), off, d.sizeInBytes, d.cardinality,
            null: Array[Byte])
        case other =>
          sys.error(s"unsupported deletionVector storageType '$other' for ${f.path} — " +
            "refusing to surface deleted rows as live data")
      }
    }
    val sliceUdf = udf { (content: Array[Byte], off: Int, sz: Int, card: Long) =>
      decodeDvFromFile(content, off, sz, card)
    }
    val inlineUdf = udf { (bytes: Array[Byte], card: Long) =>
      decodeDvBitmap(bytes, card)
    }
    import s.implicits._
    val fileDescs = descs.filter(_._2 != null)
    val fromFiles = if (fileDescs.isEmpty) None else {
      val content = s.read.format("binaryFile")
        .load(fileDescs.map(_._2).distinct: _*)
        .select(uriPathCol(col("path")).as("__dvfile"),
          col("content"))
      val descDf = fileDescs.map { case (dp, dvp, off, sz, card, _) => (dp, dvp, off, sz, card) }
        .toDF("__dv_path", "__dvfile", "off", "sz", "card")
      Some(descDf.join(content, "__dvfile")
        .select(col("__dv_path"),
          explode(sliceUdf(col("content"), col("off"), col("sz"), col("card"))).as("__dv_ridx")))
    }
    val inlineDescs = descs.filter(_._6 != null)
    val fromInline = if (inlineDescs.isEmpty) None else {
      Some(inlineDescs.map { case (dp, _, _, _, card, bytes) => (dp, bytes, card) }
        .toDF("__dv_path", "bytes", "card")
        .select(col("__dv_path"),
          explode(inlineUdf(col("bytes"), col("card"))).as("__dv_ridx")))
    }
    (fromFiles.toSeq ++ fromInline.toSeq).reduce(_ unionByName _)
  }

  def read(s: SparkSession, dir: String, versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(s, dir, versionAsOf)
    snap.synchronized {
      snap.fullScanMemo.getOrElse {
        val df = scanFiles(s, dir, snap, snap.active)
        snap.fullScanMemo = Some(df)
        df
      }
    }
  }

  /** Read a ROW-TRACKING table with its row identities: the table
    * columns plus `_row_id` (= the file's `baseRowId` + the row's
    * parquet row_index — the protocol's id derivation when no
    * materialized column exists, which graft never writes) and
    * `_row_commit_version` (the add's defaultRowCommitVersion). Stable
    * across appends, merge-on-read DV deletes and restores; a
    * copy-on-write rewrite re-identifies the rows it rewrites (the
    * non-preserving profile — see [[graft.sources.RowTracking]]).
    * The id map is one (path, baseRowId, version) row per LIVE file —
    * bounded by the already-gated snapshot list — broadcast into the
    * scan; everything else stays the shared distributed pushdown scan.
    */
  def readWithRowIds(s: SparkSession, dir: String,
                     versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(s, dir, versionAsOf)
    require(snap.writerFeatures.contains("rowTracking"),
      s"table at $dir does not declare the rowTracking feature — run " +
        "LakeWriter.enableRowTracking first")
    scanFilesWithRowIds(s, dir, snap, snap.active)
  }

  /** The id-carrying scan of `files`: table columns + `_row_id` +
    * `_row_commit_version` — factored from [[readWithRowIds]] so
    * id-preserving rewrites (compactDelta) can re-materialize exactly
    * what the reader would derive.
    */
  private[graft] def scanFilesWithRowIds(s: SparkSession, dir: String,
                                         snap: Snapshot,
                                         files: Seq[AddFile]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import s.implicits._
    files.find(_.baseRowId.isEmpty).foreach(a => throw new IllegalArgumentException(
      s"rowTracking declared but live file ${a.path} carries no baseRowId — " +
        "the enableRowTracking backfill is missing (or a restore rewound below " +
        "enablement); refusing to fabricate row identities"))
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val idMap = files.map(a =>
      (fs.makeQualified(resolveAddPath(root, a.path)).toUri.getPath,
        a.baseRowId.get, a.defaultRowCommitVersion.getOrElse(-1L)))
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // preserved profile: a file written by an id-preserving rewrite
    // (compactDelta on a tracked table) stores each row's identity in
    // the MATERIALIZED physical columns, which win over the fresh
    // baseRowId + row_index derivation; pre-rewrite files read them as
    // null and fall through to the derived form
    val mat = graft.sources.RowTracking.materializedCols(snap)
    val extraPhys = mat.toSeq.flatMap { case (idc, vc) => Seq(
      org.apache.spark.sql.types.StructField(idc, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(vc, org.apache.spark.sql.types.LongType))
    }
    val joined = scanFiles(s, dir, snap, files, keepLineage = true, extraPhys = extraPhys)
      .join(broadcast(idMap.toDF("__rt_path", "__rt_base", "__rt_ver")),
        col("__dv_path") === col("__rt_path"))
    val (idExpr, verExpr) = mat match {
      case Some((idc, vc)) =>
        (org.apache.spark.sql.functions.coalesce(col(s"`$idc`"),
          col("__rt_base") + col("__dv_ridx")),
          org.apache.spark.sql.functions.coalesce(col(s"`$vc`"), col("__rt_ver")))
      case None =>
        (col("__rt_base") + col("__dv_ridx"), col("__rt_ver"))
    }
    joined.select((schema.fieldNames.map(col) :+
      idExpr.as("_row_id") :+
      verExpr.as("_row_commit_version")).toIndexedSeq: _*)
  }

  /** Partition-pruned snapshot read: only files whose log
    * `partitionValues` carry every (key, value) in `partition` are
    * resolved, collected and scanned — on a 100-TB table the driver
    * never materializes the other partitions' file entries (pruning
    * happens inside the distributed resolution, and the
    * maxSnapshotFiles gate applies to the pruned list). Keys/values
    * are the log's string form — physical keys on a column-mapped
    * table. Equality-only by design: it must evaluate identically on
    * the driver (commit suffix) and in the resolve DataFrame, which
    * rules out arbitrary expressions.
    */
  def readPartition(s: SparkSession, dir: String, partition: Map[String, String],
                    versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(s, dir, versionAsOf)
    // validate against the declared partition columns WITHOUT forcing
    // the full file resolution (that would defeat the pruning); on a
    // column-mapped table both the logical and physical spellings of a
    // partition column are accepted, but matching is against the log's
    // physical keys, so remap logical → physical here
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val mapped = snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
    val physByLogical = schema.fields.filter(f => snap.partCols.contains(f.name))
      .map(f => f.name -> (if (!mapped) f.name
        else f.metadata.getString("delta.columnMapping.physicalName"))).toMap
    val physSet = physByLogical.values.toSet
    val unknown = partition.keySet.filterNot(k =>
      physByLogical.contains(k) || physSet.contains(k))
    require(unknown.isEmpty,
      s"readPartition: ${unknown.mkString(", ")} not partition columns " +
        s"(declared: ${snap.partCols.mkString(", ")})")
    val physPartition = partition.map { case (k, v) =>
      physByLogical.getOrElse(k, k) -> v
    }
    scanFiles(s, dir, snap, snap.activeMatching(physPartition))
  }

  /** The distributed scan of `files` under `snap`'s metadata — the
    * shared tail of the batch read (all active files) and the
    * streaming tail source (one version's new adds): column-mapping
    * remap, log-authoritative partition values, deletion-vector
    * anti-filter.
    */
  /** `keepLineage = true` appends `__dv_path` (normalized file path)
    * and `__dv_ridx` (row index) to the output — what the DELETE
    * writer needs to turn a predicate match back into per-file row
    * indexes. Lineage rows are post-DV-filter, so a second delete on
    * an already-vectored file only sees its LIVE rows.
    */
  /** `extraPhys`: additional PHYSICAL parquet columns to surface —
    * columns outside the logical schema (the materialized row-id
    * columns a preserving rewrite stores). Files lacking them read as
    * null, which is exactly the reader contract: null means "derive
    * from baseRowId + row_index".
    */
  private[graft] def scanFiles(s: SparkSession, dir: String,
                               snap: Snapshot, files: Seq[AddFile],
                               keepLineage: Boolean = false,
                               extraPhys: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val cmMode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    val mapped = cmMode != "none"
    def physName(f: org.apache.spark.sql.types.StructField): String =
      if (!mapped) f.name
      else {
        require(f.metadata.contains("delta.columnMapping.physicalName"),
          s"column mapping is '$cmMode' but field '${f.name}' carries no " +
            "delta.columnMapping.physicalName metadata — malformed schemaString")
        f.metadata.getString("delta.columnMapping.physicalName")
      }
    // id mode: the parquet FIELD IDS are authoritative, not the names
    // the files happen to carry — attach the protocol's column id as
    // parquet.field.id so Spark's readers resolve by id (the physical
    // name stays as the projection handle on our side)
    def withFieldId(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField =
      if (cmMode != "id") f
      else {
        require(f.metadata.contains("delta.columnMapping.id"),
          s"column mapping is 'id' but field '${f.name}' carries no " +
            "delta.columnMapping.id metadata — malformed schemaString")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build())
      }
    if (cmMode == "id") enableFieldIdReads(s)
    // NESTED physical names (delta-spark assigns one per level; graft's
    // own mapped tables only rename at the top): the read schema must
    // carry the files' physical names at EVERY level or nested leaves
    // silently null-fill — DeltaStats.physicalShape, the SAME walker
    // the write staging uses, so read and write schemas cannot
    // desynchronize. Inner fields are lenient (no metadata = keep the
    // name — graft's shape); a changed struct casts back to the
    // logical type on projection, which renames positionally and is a
    // value no-op (identical field types). The cast is applied ONLY
    // when a nested name actually differs, so graft-written tables
    // keep their exact previous plans (and nested pushdown).
    def physDataType(dt: DataType): DataType =
      DeltaStats.physicalShape(dt, attachIds = cmMode == "id")
    val dataFields = schema.fields.filterNot(f => snap.partCols.contains(f.name))
    val dataSchema = StructType(dataFields
      .map(f => withFieldId(f.copy(name = physName(f),
        dataType = if (mapped) physDataType(f.dataType) else f.dataType))) ++
      extraPhys.map(_.copy(nullable = true)))
    // (physical top-level name, logical name, cast-back type when the
    // nested physical shape differs from the logical one)
    val logicalByPhys = dataFields.map { f =>
      val deep = if (mapped) physDataType(f.dataType) else f.dataType
      (physName(f), f.name,
        if (deep == f.dataType) None
        // deep-nullable target: see readCdcFiles' twin above
        else Some(DeltaStats.deepNullable(f.dataType)))
    }
    val partSchema = schema.fields.filter(f => snap.partCols.contains(f.name))

    if (files.isEmpty) {
      val outSchema = StructType(schema.fields ++
        extraPhys.map(_.copy(nullable = true)) ++
        (if (!keepLineage) Nil else Seq(
          org.apache.spark.sql.types.StructField("__dv_path", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__dv_ridx", org.apache.spark.sql.types.LongType))))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }

    val hasDv = files.exists(_.dv.isDefined)
    val withMeta = hasDv || keepLineage
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())

    // partition values come from the LOG (authoritative per the spec),
    // typed via schemaString. When every file sits in exactly the
    // `col=value` directories its log values name (what graft's writer
    // and Spark's lay out), partition discovery reads the same values
    // from the paths: ONE relation, whose partition filters prune files
    // before any I/O. Otherwise one union branch per partition-value
    // tuple, each carrying its values as literals.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
      DEFAULT_PARTITION_NAME, escapePathName}
    def partDir(pv: Map[String, String]): String = partSchema.map { f =>
      escapePathName(f.name) + "=" +
        Option(pv.getOrElse(f.name, null)).map(escapePathName).getOrElse(DEFAULT_PARTITION_NAME)
    }.mkString("/")
    val discovered = !mapped && partSchema.nonEmpty &&
      partSchema.forall(f => f.dataType match {
        case StringType | DateType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }) &&
      files.forall { f =>
        !isAbsoluteAddPath(f.path) && {
          val rel = percentDecode(f.path)
          rel.lastIndexOf('/') > 0 &&
            rel.substring(0, rel.lastIndexOf('/')) == partDir(f.partitionValues)
        }
      }
    val groups =
      if (discovered) Seq(Map.empty[String, String] -> files)
      else files.groupBy(_.partitionValues).toSeq
    val unioned = groups.map { case (pv, group) =>
      // absolute URIs (shallow clones / external files) resolve as the
      // URI they are; relative entries against the table root
      val paths = group.map(f => resolveAddPath(root, f.path).toString)
      val base0 =
        if (discovered) s.read.schema(StructType(dataSchema.fields ++ partSchema))
          .option("basePath", root.toString).parquet(paths: _*)
        else s.read.schema(dataSchema).parquet(paths: _*)
      // ONE atomic physical→logical projection, not a rename fold: after
      // column renames/swaps on a legacy-upgraded name-mode table, one
      // field's physical name may legally equal ANOTHER field's logical
      // name, and a sequential rename would create a duplicate column
      // mid-fold and fail on a readable table
      val projection = logicalByPhys.map { case (phys, logical, castBack) =>
        val c = base0.col(s"`${phys.replace("`", "``")}`")
        castBack.fold(c)(c.cast).as(logical)
      } ++ extraPhys.map(f => base0.col(s"`${f.name.replace("`", "``")}`")) ++
        (if (!discovered) Nil
         else partSchema.map(f => base0.col(s"`${f.name.replace("`", "``")}`")).toSeq) ++
        (if (!withMeta) Nil else Seq(
        // which file and which row this came from — the join key the
        // deletion-vector anti-filter matches; stays inside the
        // distributed scan (parquet's generated row_index), no UDF
        uriPathCol(base0.col("_metadata.file_path")).as("__dv_path"),
        base0.col("_metadata.row_index").as("__dv_ridx")))
      val base = base0.select(projection.toIndexedSeq: _*)
      val withParts = if (discovered) base else partSchema.foldLeft(base) { (df, f) =>
        // physical key first (what a column-mapped log writes), logical
        // as the compatibility fallback
        val raw = pv.get(physName(f)).orElse(pv.get(f.name)).orNull
        df.withColumn(f.name, lit(raw).cast(f.dataType))
      }
      withParts.select((schema.fieldNames.map(col) ++
        extraPhys.map(f => col(s"`${f.name.replace("`", "``")}`")) ++
        (if (withMeta) Seq(col("__dv_path"), col("__dv_ridx")) else Nil)).toIndexedSeq: _*)
    }.reduce(_ unionByName _)

    if (!hasDv) unioned
    else {
      // anti-join away the deleted (file, row) pairs. The deleted set's
      // size is KNOWN on the driver (descriptor cardinalities), so the
      // broadcast decision is exact, not an estimate: typical DV loads
      // (a few % of rows) broadcast; a pathological mass-delete falls
      // back to a shuffle anti-join rather than OOMing the executors.
      val dvFiles = files.filter(_.dv.isDefined)
      val deleted = deletedRowsDf(s, root, fs, dvFiles)
      // size the broadcast decision in BYTES, not rows: each deleted row
      // carries the full normalized path string + a long, so a row-count
      // cutoff alone could broadcast hundreds of MB of path copies. The
      // estimate is exact on cardinality (driver-known from descriptors)
      // and conservative on width (qualified path length + 24B of
      // long/object overhead); cap at 32 MB — past that, shuffle.
      val rootLen = root.toString.length
      val estBytes = dvFiles.map { f =>
        f.dv.get.cardinality * (f.path.length + rootLen + 24L)
      }.sum
      val joinSide =
        if (estBytes <= 32L * 1024 * 1024)
          org.apache.spark.sql.functions.broadcast(deleted)
        else deleted
      val filtered = unioned.join(joinSide, Seq("__dv_path", "__dv_ridx"), "left_anti")
      if (keepLineage) filtered
      else filtered.select((schema.fieldNames.map(col) ++
        extraPhys.map(f => col(s"`${f.name.replace("`", "``")}`"))).toIndexedSeq: _*)
    }
  }
}
