package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's parquet format, with the schema of a non-merging read taken
  * on the driver. Without `mergeSchema` Spark reads exactly one footer,
  * but it reads it in a one-task Spark job; this format reads that same
  * footer on the driver. Lives in Spark's package because
  * `readParquetFootersInParallel` is `private[parquet]`; read through
  * `graft.sources.Parquet`, never directly.
  *
  * Everything but `inferSchema` is Spark's: listing, partition
  * inference, the reader, `shortName` (so plans still print
  * `Relation … parquet` and `FileScan parquet`) and `equals`.
  */
class GraftParquetFormat extends ParquetFileFormat {

  private val Summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)

  /** With `mergeSchema` off, the file `ParquetUtils.inferSchema` picks
    * (leaves sorted by path: `_common_metadata`, else `_metadata`, else
    * the first data file), converted with the flags of Spark's schema
    * job; with it on, Spark's parallel merge job.
    */
  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    val parquetOptions = new ParquetOptions(options, conf)
    if (parquetOptions.mergeSchema) super.inferSchema(spark, options, files)
    else {
      val leaves = files.sortBy(_.getPath.toString)
      def named(name: String) = leaves.find(_.getPath.getName == name)
      val file = named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !Summaries(f.getPath.getName)))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat.readParquetFootersInParallel(
          sessionState(spark).newHadoopConfWithOptions(options), file.toSeq,
          parquetOptions.ignoreCorruptFiles)
        .headOption
        .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
