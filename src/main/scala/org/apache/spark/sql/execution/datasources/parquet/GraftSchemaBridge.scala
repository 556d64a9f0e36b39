package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.SparkException
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that live behind
  * `private[parquet]` / `private[sql]` / `private[spark]`: the parallel footer
  * reader, the pairwise schema merge (with the error Spark raises when it
  * fails) and the file index's hidden-name rule. Lets a caller merge footer
  * schemas on the driver exactly as `ParquetFileFormat.mergeSchemasInParallel`
  * does in its job. Sits in the parquet package because the footer reader is
  * `private[parquet]`; the same reason as `org.apache.spark.sql.graft.ColumnBridge`.
  */
object GraftSchemaBridge {
  def readFooters(conf: Configuration, files: Seq[FileStatus],
                  ignoreCorruptFiles: Boolean): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles)

  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    try left.merge(right, caseSensitive)
    catch {
      case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(left, right, e)
    }

  /** True for names Spark's file listing skips (`_*`, `.*`, `*._COPYING_`). */
  def hiddenFromScan(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
