package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet footers read on the driver, without a Spark job. */
private[graft] object ParquetFooter {

  private def read[T](conf: Configuration, st: FileStatus)(f: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try f(reader) finally reader.close()
  }

  /** The Spark schema `files` were written with, read from the footer's
    * `org.apache.spark.sql.parquet.row.metadata` — the source Spark's
    * own inference prefers, without its job. The first file in name
    * order stands for all of them, as in Spark's inference without
    * schema merging. None when `files` is empty or the footer carries
    * no Spark schema (a non-Spark writer); the caller then lets Spark
    * infer as before.
    */
  def sparkSchema(conf: Configuration, files: Seq[FileStatus]): Option[StructType] =
    files.sortBy(_.getPath.getName).headOption.flatMap(st => read(conf, st)(r =>
      Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))))
      .map(json => DataType.fromJson(json).asInstanceOf[StructType])

  /** Row groups in `files`: the most tasks a scan of them can run in
    * parallel (a split holding no row group's midpoint reads nothing).
    */
  def rowGroups(conf: Configuration, files: Seq[FileStatus]): Int =
    files.map(st => read(conf, st)(_.getRowGroups.size)).sum
}
