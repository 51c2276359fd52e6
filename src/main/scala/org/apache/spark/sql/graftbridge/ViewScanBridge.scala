package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The private Spark calls a driver-planned parquet scan needs, so that
  * its listing and schema follow `spark.read.parquet` exactly: the
  * path-name filter of Spark's file listing, the session's Hadoop conf,
  * and the schema inference of a non-merging parquet read. They are
  * `private[spark]`, so this object lives under org.apache.spark like
  * the other bridges.
  */
object ViewScanBridge {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Spark's listing skips these names: `_`/`.` prefixes (`_SUCCESS`,
    * `.crc` sidecars, `.spark-staging-*` and `_temporary` dirs) except
    * `key=value` dirs and the parquet summary files.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  def hadoopConf(spark: SparkSession): Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** The data schema `spark.read.parquet` infers from `files` without
    * `mergeSchema`: one footer decides — a summary file's if there is
    * one, else the first data file's by path — converted as
    * `ParquetFileFormat.mergeSchemasInParallel` converts it and made
    * nullable as `DataSource` makes every file source's schema. The
    * footer is read here on the driver, not by a job. `None` when there
    * is no file to read.
    */
  def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    // ParquetUtils.inferSchema's pick, over the files sorted by path
    val sorted = files.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName))).map { f =>
        val conf = classic(spark).sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf(spark)), SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer, converter).asNullable
      }
  }
}
