package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.types.{DataType, StructType}

/** Schemas of parquet files read on the driver, without a Spark job. */
private[graft] object ParquetFooter {

  /** The Spark schema `files` were written with, read from the footer's
    * `org.apache.spark.sql.parquet.row.metadata` — the source Spark's
    * own inference prefers, without its job. The first file in name
    * order stands for all of them, as in Spark's inference without
    * schema merging. None when `files` is empty or the footer carries
    * no Spark schema (a non-Spark writer); the caller then lets Spark
    * infer as before.
    */
  def sparkSchema(conf: Configuration, files: Seq[FileStatus]): Option[StructType] =
    files.sortBy(_.getPath.getName).headOption.flatMap { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(json => DataType.fromJson(json).asInstanceOf[StructType])
}
