package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Parquet's schema inference, one footer at a time, for
  * `graft.io.OCIO.parquet`: the footer read and the footer-to-schema
  * conversion that `ParquetFileFormat.mergeSchemasInParallel` runs
  * inside a Spark job, called on the driver. Both are package-private
  * in Spark, hence this package.
  */
object GraftFooters {
  /** The footer of `file`, row groups skipped; throws if unreadable. */
  def read(conf: Configuration, file: FileStatus): Option[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), ignoreCorruptFiles = false).headOption

  /** The schema inference gives `footer`, under the session's confs. */
  def schema(footer: Footer, spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark)
}
