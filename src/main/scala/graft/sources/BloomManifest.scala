package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FunctionDefs

/** Per-file Bloom-filter manifest + driver-side file skipping for point
  * lookups on a column the layout is NOT clustered by — the Delta/Iceberg
  * bloom-index mechanism without a table format, and the needle-in-a-
  * haystack complement of [[StatsManifest]] (whose min/max stats only
  * help on the clustering column: on any other column every file's
  * [lo, hi] spans the domain and nothing prunes).
  *
  * Write side: one partial-aggregated pass over the fresh layout builds
  * one [[graft.functions.BloomAgg]] filter per file over
  * `xxhash64(lookupCol)` — the merge is a byte-OR, so the shuffle
  * carries one m-bit buffer per (file, partition) pair, never rows. The
  * manifest is FILE-COUNT-sized metadata (a few KB per file), i.e.
  * driver scale at 100 TB, exactly like a format's puffin/bloom blobs.
  *
  * Read side: hash the probe values (a tiny local job so build and
  * probe share Spark's own xxhash64 — no reimplementation to drift),
  * evaluate membership INSIDE the manifest scan, and hand the data
  * scan only files where some probe MIGHT be present. A
  * Bloom "no" is definitive, so skipped files provably hold no matches;
  * the exact `IN` filter is re-applied to survivors, so false positives
  * cost only bytes read, never wrong rows — pruning is a performance
  * contract, the residual filter is the correctness contract.
  *
  * At 100 TB with k point probes this reads O(k · filesize · fp-rate)
  * instead of the full table — the difference between a lookup and a
  * table scan.
  */
object BloomManifest {

  /** Write `df` into `nFiles` files clustered by `clusterCol` (any
    * convenient layout — the bloom index is what serves the lookups),
    * plus a `_bloom` manifest of (file, bloom over xxhash64(lookupCol)).
    *
    * `numBits = 0` (default) sizes the filters from the DATA: ~10 bits
    * per expected key per file (≈0.8% fp at 5 hashes). A fixed size
    * silently saturates as the table grows — at 5 bits/key fill the
    * per-file false-positive rate is ~50% and the skipping contract is
    * vacuous; auto-sizing keeps fp-rate constant at any scale. The row
    * count comes from the freshly written footers (metadata-only).
    */
  def write(df: DataFrame, path: String, clusterCol: String,
            lookupCol: String, nFiles: Int,
            numBits: Int = 0, numHashes: Int = 5): Unit = {
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    val bits =
      if (numBits > 0) numBits
      else {
        val n = Parquet.read(s, path).count() // footer-count, no data read
        val perFile = math.max(1L, (n + nFiles - 1) / nFiles)
        math.min(1L << 27, math.max(1L << 16, perFile * 10L)).toInt
      }
    Parquet.read(s, path)
      .groupBy(input_file_name().as("file"))
      .agg(FunctionDefs.callAgg("bloom_agg",
        xxhash64(col(lookupCol)),
        lit(bits), lit(numHashes)).as("bloom"),
        count(lit(1)).as("n_rows"))
      .withColumn("num_hashes", lit(numHashes))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_bloom")
  }

  def manifest(s: SparkSession, path: String): DataFrame =
    Parquet.read(s, s"$path/_bloom")

  /** The files whose bloom admits AT LEAST ONE of the probe values.
    * Membership runs INSIDE the manifest scan (the native
    * `bloom_contains` expression), so the driver receives only the
    * surviving file NAMES — never the filter blobs. At a million files
    * × 8 KB blooms that is the difference between collecting 8 GB of
    * bitsets and collecting a file list; the manifest scan itself is
    * a (distributable) metadata read, like a format's manifest
    * evaluation. Probe hashes come from a one-row-per-value local job
    * so the hash function is BY CONSTRUCTION the same xxhash64 the
    * write side aggregated.
    */
  def candidateFiles(s: SparkSession, path: String, probes: Seq[String]): Array[String] = {
    import s.implicits._
    val hashes: Array[Long] = probes.toDF("v")
      .select(xxhash64(col("v"))).as[Long].collect()
    if (hashes.isEmpty) return Array.empty
    val admits = hashes.map(h => FunctionDefs.call("bloom_contains",
        col("bloom"), lit(h), col("num_hashes")))
      .reduce(_ || _)
    manifest(s, path).filter(admits)
      .select("file").collect().map(_.getString(0))
  }

  /** Point-lookup read: scan only the bloom-admitted files and re-apply
    * the exact IN filter.
    */
  def lookupRead(s: SparkSession, path: String, lookupCol: String,
                 probes: Seq[String]): DataFrame =
    StatsManifest.readFiles(s, path, candidateFiles(s, path, probes).toIndexedSeq)
      .filter(col(lookupCol).isin(probes.map(lit): _*))
}
