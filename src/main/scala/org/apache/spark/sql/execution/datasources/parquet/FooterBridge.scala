package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge to the per-file step of Spark's parquet schema inference, whose
  * footer reader and schema converter are `private[parquet]`. Lives under
  * the parquet package so the access modifier admits it (the same move as
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]]). Runs on the driver
  * and starts no Spark job. */
object FooterBridge {

  /** The session's Hadoop configuration, SQL confs folded in, as a file
    * source sees it. */
  def hadoopConf(spark: SparkSession): Configuration =
    SessionStateHelper.getHadoopConf(spark)

  /** The Spark schema stored in `file`'s footer, converted with the same
    * session flags `ParquetFileFormat.mergeSchemasInParallel` uses. A
    * corrupt footer fails (`ignoreCorruptFiles` would only turn that into
    * an "unable to infer schema" failure later). */
  def footerSchema(spark: SparkSession, file: FileStatus,
                   conf: Configuration): StructType = {
    val sql = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), ignoreCorruptFiles = false)
    ParquetFileFormat.readSchemaFromFooter(footers.head, converter)
  }
}
