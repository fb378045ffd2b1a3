package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-style directory-partitioned parquet layout — the warehouse's
  * coarse time/tenant axis (dt=…/ directories), complementing
  * [[BucketedLayout]] (join co-location) and [[SpatialLayout]] (Z2
  * clustering). Partition values live in directory names, so three
  * pruning regimes apply at scan time, in cost order:
  *
  *  1. static partition pruning — a literal predicate on the partition
  *     column prunes directories at PLANNING time (no file listing
  *     beyond the survivors);
  *  2. DYNAMIC partition pruning (DPP) — when the partition column is
  *     join-keyed against a filtered dimension, Catalyst injects the
  *     dim's key set as a runtime `dynamicpruning` subquery into the
  *     fact scan's PartitionFilters, reusing the join's broadcast: at
  *     100 TB a "current quarter" dim filter skips reading years of
  *     fact directories with zero user annotation;
  *  3. row-group pruning via min/max stats inside surviving files.
  *
  * The partition column must be LOW cardinality (months/days/tenants —
  * thousands, not millions): each value is a directory, and a
  * high-cardinality partitionBy is the small-files pathology
  * [[Compaction]] exists to fix.
  */
object PartitionedLayout {

  /** Write `df` Hive-partitioned by `partCol` (directory per value). */
  def writeByKey(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Read the layout; the partition column is reconstructed from
    * directory names (never stored in data pages).
    */
  def read(s: SparkSession, path: String): DataFrame = Parquet.read(s, path)
}
