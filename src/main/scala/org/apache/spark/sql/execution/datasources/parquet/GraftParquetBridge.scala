package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge into the parquet source's package-private footer reader, so
  * `graft.fs.ParquetDir` can infer a data schema the way
  * `ParquetFileFormat.inferSchema` does without scheduling its job. No
  * Spark internals are modified. */
object GraftParquetBridge {

  private val Summaries = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
    ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  /** The session settings and read options a table's inferred data
    * schema depends on, as one memo-key string. */
  def schemaInputs(spark: SparkSession, options: Map[String, String]): String = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val opts = new ParquetOptions(options, conf)
    Seq(opts.mergeSchema, opts.ignoreCorruptFiles, conf.isParquetSchemaRespectSummaries,
      conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation, conf.caseSensitiveAnalysis)
      .map(b => if (b) '1' else '0').mkString + options.toSeq.sorted.mkString(":", ",", "")
  }

  /** `ParquetFileFormat.inferSchema(spark, options, files)`, step for
    * step (`ParquetUtils.inferSchema`): files sorted by path; without
    * `mergeSchema` the one footer Spark picks (`_common_metadata`, then
    * `_metadata`, then the first data file); with it the data files'
    * footers (none when summaries are trusted) then the summaries',
    * merged in that order. The footers are read on the driver, where
    * `mergeSchemasInParallel` reads them in a job, except for a merge
    * over more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * files: that one keeps Spark's job. */
  def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val opts = new ParquetOptions(options, conf)
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.filter(_.getPath.getName == n)
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val data = leaves.filterNot(f => Summaries(f.getPath.getName))
    val toTouch =
      if (opts.mergeSchema)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
    if (opts.mergeSchema && toTouch.length > conf.parallelPartitionDiscoveryThreshold)
      return ParquetFileFormat.mergeSchemasInParallel(options, toTouch, spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val hadoopConf = SessionStateHelper.getHadoopConf(spark, options)
    ParquetFileFormat.readParquetFootersInParallel(hadoopConf, toTouch, opts.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceLeftOption { (merged, next) =>
        try merged.merge(next, conf.caseSensitiveAnalysis)
        catch {
          case cause: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, cause)
        }
      }
  }
}
