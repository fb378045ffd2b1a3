package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append-time schema evolution for a parquet directory — the lakehouse
  * "ADD COLUMN is free" contract without a table format: later batches
  * may add columns; readers see the UNION schema with nulls backfilled
  * in old files.
  *
  * Two deliberate properties of the read path:
  *  - `mergeSchema` unions footer schemas at planning time (a
  *    file-count-sized driver merge, same scale class as
  *    [[StatsManifest]]'s planning metadata). The default reader takes
  *    ONE file's schema — silently dropping late columns when an old
  *    file is sampled first; pinning mergeSchema here is the
  *    correctness fix, not an optimization.
  *  - Incompatible REDEFINITION of an existing column (e.g. long →
  *    string) fails the merge loudly at plan time rather than producing
  *    rows — evolution means widening the column SET, never mutating a
  *    column's type; the spec pins the failure.
  */
object EvolvingLayout {

  /** Append a batch; its schema may be a superset of earlier batches'. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Read with the union schema; columns absent in a file read as null. */
  def read(s: SparkSession, path: String): DataFrame =
    Parquet.read(s, Map("mergeSchema" -> "true"), path)
}
