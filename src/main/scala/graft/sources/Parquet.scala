package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFormat

/** graft's one parquet read path. It is `spark.read.parquet` except
  * for where the schema comes from: a read that does not merge schemas
  * takes it from the one footer Spark would pick, read on the driver,
  * so building the frame launches no Spark job; a `mergeSchema` read
  * keeps Spark's parallel merge job. Reads are V1, Spark's default for
  * parquet. `ParquetReadSpec` fails on any other parquet read under
  * `src/main`.
  */
object Parquet {

  private val Format = classOf[GraftParquetFormat].getName

  def read(s: SparkSession, paths: String*): DataFrame =
    read(s, Map.empty[String, String], paths: _*)

  /** With reader options, e.g. `basePath` or `mergeSchema`. */
  def read(s: SparkSession, options: Map[String, String], paths: String*): DataFrame =
    s.read.format(Format).options(options).load(paths: _*)
}
