package graft

import org.apache.spark.sql.SparkSession

/** Common session tuning for all graft entry points.
  *
  * - `nanosAsLong`: the testdata `events` table stores parquet
  *   TIMESTAMP(NANOS), which Spark can only read as long nanos.
  * - AQE handles skew joins and partition coalescing at runtime — the
  *   static shuffle partition count is a ceiling, not a plan constant.
  */
object GraftSession {
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // write TIMESTAMP as parquet TIMESTAMP(MICROS) instead of the
      // legacy INT96: INT96 chunks carry no usable footer min/max, so
      // staying on the default would silently disable data skipping
      // for every timestamp-with-local-zone column graft writes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // A wide lake's index build is a union with one branch per table,
      // and each branch's generated code inlines that table's id — at
      // 10^3+ tables the default 100-entry codegen cache thrashes and
      // every action recompiles every branch (measured 38s vs 7s for a
      // repeat action over 1000 tables). Sized for 10^4-branch plans;
      // entries are soft-referenced so this is a cap, not a reservation.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // FileOutputCommitter v2: task outputs move to the destination at
      // task commit instead of a serial driver-side rename pass at job
      // commit. Safe for every graft write path — the Delta funnel
      // stages into a writer-private directory and publishes through
      // the log (its own atomicity), and plain parquet/csv sinks here
      // are overwrite-or-fresh directories. At many-file commits the v1
      // job-commit rename pass is a driver serialization point.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")

  /** Extra tuning for the single-JVM (local[N]) entry points — Bench,
    * Verify, tests. Shuffle and cache compression trade CPU for network
    * and memory footprint; in one JVM there is no network and the
    * working set is far below the heap, so the codec work is pure
    * overhead (~10-25% of small-stage latency measured). A cluster
    * deployment should NOT copy these.
    *
    * Mixed-mode hazard: local files are written and deleted here
    * through the RAW local filesystem, which neither writes nor
    * maintains Hadoop's `.crc` sidecars. A sidecar left by an earlier
    * checksum-fs write of the same path goes stale when the file is
    * overwritten or deleted under this tuning, and a checksum-fs session
    * (plain `tune()` or a default session) that later reads the file
    * verifies it against the stale sidecar and throws ChecksumException.
    * Paths written under this tuning must not be re-read or overwritten
    * by a checksum-fs session; delete their `.crc` files when a path
    * changes mode.
    */
  def tuneLocal(b: SparkSession.Builder): SparkSession.Builder =
    tune(b)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      // Hadoop's default file:// implementation is ChecksumFileSystem:
      // every created file (staged parquet, each Delta log json /
      // checkpoint, every small sink file) writes a shadow ".….crc"
      // sidecar and every read re-verifies it — for a single-JVM local
      // store that is one extra create+write+rename per real file for
      // integrity the local page cache already gives us. Raw local fs
      // halves the small-file op count. Cluster stores (HDFS/S3) have
      // their own integrity layers and never consult this key.
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      // same for the FileContext API (streaming checkpoint offset/commit
      // logs go through fs.AbstractFileSystem, not FileSystem)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
}
