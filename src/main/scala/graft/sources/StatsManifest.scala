package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics manifest + driver-side file skipping —
  * the Delta/Iceberg data-skipping mechanism without a table format.
  *
  * Directory partitioning ([[PartitionedLayout]]) prunes on LOW-
  * cardinality columns only; parquet row-group stats prune INSIDE a
  * file but only after the file is opened and its footer fetched. At
  * 100 TB / millions of files the footer round-trips are themselves the
  * bottleneck (one remote read per file per query), which is exactly why
  * the lakehouse formats keep per-file min/max in a separate manifest:
  * the planner consults metadata that is FILE-COUNT-sized — driver
  * scale, like Delta's log — and hands the scan only the files whose
  * [min,max] intersects the predicate. With the data range-clustered on
  * the stat column (one repartitionByRange at write time) file ranges
  * are disjoint, so a point/band query touches O(band/filesize) files
  * no matter how large the table grows.
  *
  * Correctness does not depend on the pruning: the residual filter is
  * re-applied to the surviving files, so a stale or lossy manifest can
  * only cost performance (extra files read), never rows — the spec pins
  * pruned == unpruned row-for-row.
  *
  * Crash-safety (r11): the manifest is the ONLY read path probes use,
  * so a torn manifest write would make appended rows permanently
  * invisible. Manifest generations therefore commit through
  * [[VersionedDir]] — readers resolve the latest `_SUCCESS`-marked
  * generation, so a crash anywhere inside [[append]] leaves the old
  * generation served intact (the appended data files exist but are
  * unreferenced until the replayed append commits). Single-writer,
  * idempotent-replay semantics — see [[VersionedDir]]'s contract.
  */
object StatsManifest {

  private def statsOf(df: DataFrame, statCol: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(statCol)).as("lo"), max(col(statCol)).as("hi"),
        count(lit(1)).as("n_rows"))

  /** Write `df` range-clustered into `nFiles` by `statCol`, then commit
    * the per-file (file, lo, hi, n_rows) manifest under `path/_manifest`
    * (underscore prefix = invisible to data-path directory listings).
    * The stats pass is one partial-aggregated scan of the fresh layout,
    * grouped by `input_file_name()` — paid once at write time, the same
    * trade every table format makes.
    */
  def write(df: DataFrame, path: String, statCol: String, nFiles: Int): Unit = {
    df.repartitionByRange(nFiles, col(statCol))
      .sortWithinPartitions(statCol)
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    VersionedDir.write(statsOf(Parquet.read(s, path), statCol), s"$path/_manifest")
  }

  def manifest(s: SparkSession, path: String): DataFrame =
    VersionedDir.read(s, s"$path/_manifest")

  /** Append a delta to a manifested layout WITHOUT rescanning it: the
    * delta lands as new range-clustered part files, their stats come
    * from one scan of THOSE FILES ONLY (diffed by directory listing),
    * and the manifest becomes old ∪ new — O(delta) work, committed as
    * a new [[VersionedDir]] generation (never a self-overwrite, so no
    * checkpoint and no torn-read window). Appended file ranges may
    * overlap resident ones; [[prunedFiles]] tests range INTERSECTION,
    * so reads stay correct and pruning degrades by at most the
    * appended file count until a periodic [[write]] re-clusters (the
    * Compaction trade, applied to manifests).
    *
    * Returns the appended files' stats rows (file, lo, hi, n_rows) —
    * file-count-sized, already collected — so an in-memory maintainer
    * ([[MinhashIndex.Maintainer]]) can extend a cached manifest
    * without re-reading it.
    */
  def append(df: DataFrame, path: String, statCol: String,
             nFiles: Int): Seq[org.apache.spark.sql.Row] = {
    val s = df.sparkSession
    // the fresh-file diff must list through the path's Hadoop FS —
    // java.io.File sees nothing on file:/hdfs:/s3a: URIs and the
    // manifest would silently stop extending (probes then MISS every
    // appended row: the manifest is the only read path here)
    def files(): Set[String] = FsUtil.listPartFiles(s, path)
    val before = files()
    df.repartitionByRange(math.max(1, nFiles), col(statCol))
      .sortWithinPartitions(statCol)
      .write.mode("append").parquet(path)
    val fresh = (files() -- before).toSeq.map(n => s"$path/$n")
    if (fresh.isEmpty) Seq.empty
    else {
      // file-count-sized: collect the delta stats once, reuse them for
      // the merged commit AND the caller's cache extension
      val freshRows = statsOf(Parquet.read(s, fresh: _*), statCol).collect().toSeq
      val freshDf = s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(freshRows).asJava),
        manifest(s, path).schema)
      VersionedDir.write(manifest(s, path).unionByName(freshDf),
        s"$path/_manifest")
      freshRows
    }
  }

  /** The files whose [lo, hi] intersects [from, to] — a driver-side
    * filter over file-count-sized metadata, mirroring a format
    * planner's manifest scan.
    */
  def prunedFiles(s: SparkSession, path: String, from: Column, to: Column): Array[String] =
    manifest(s, path)
      .filter(col("hi") >= from && col("lo") <= to)
      .select("file").collect().map(_.getString(0))

  /** Point-set pruning over ALREADY-COLLECTED manifest rows (the index
    * Maintainers' driver-cache shape, r12): which files' [lo, hi]
    * contain at least one of `keys`. Pure local Scala — ZERO Spark
    * jobs, O(files × log keys) binary searches — replacing the
    * per-probe broadcast range-join + collect the r11 probe floor was
    * made of. Long-keyed manifests only (both posting indexes and
    * their docs tables key on longs). Same correctness contract as
    * every pruning here: callers re-apply exact predicates (equi-joins
    * / semi-joins) to the surviving files, so this can only cost extra
    * files read, never rows.
    */
  def pruneLocal(rows: Seq[org.apache.spark.sql.Row], keys: Array[Long]): Seq[String] = {
    if (keys.isEmpty || rows.isEmpty) return Nil
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    rows.flatMap { r =>
      val lo = r.getAs[Number]("lo").longValue()
      val hi = r.getAs[Number]("hi").longValue()
      var i = java.util.Arrays.binarySearch(sorted, lo)
      if (i < 0) i = -i - 1
      if (i < sorted.length && sorted(i) <= hi) Some(r.getAs[String]("file"))
      else None
      // .distinct below: a duplicate manifest row must never read (and
      // row-duplicate) the same parquet file twice — the range-join
      // pruning this replaced was immune via its own distinct
    }.distinct
  }

  /** [[pruneLocal]] for UNTYPED keys (an index whose id column isn't
    * numeric): prunes when both the keys and the manifest ranges are
    * numbers, otherwise returns every file — pruning is advisory
    * (callers re-apply exact predicates), so degrading to no-pruning
    * preserves correctness where the long-keyed fast path would throw.
    */
  def pruneLocalAny(rows: Seq[org.apache.spark.sql.Row], keys: Array[Any]): Seq[String] = {
    if (keys.isEmpty || rows.isEmpty) return Nil
    val numeric = keys.forall(_.isInstanceOf[Number]) && rows.forall { r =>
      r.getAs[Any]("lo").isInstanceOf[Number] &&
        r.getAs[Any]("hi").isInstanceOf[Number]
    }
    if (numeric) pruneLocal(rows, keys.map(_.asInstanceOf[Number].longValue()))
    else rows.map(_.getAs[String]("file")).distinct
  }

  /** Band read through the manifest: list only intersecting files, scan
    * them, and re-apply the exact predicate (pruning is a performance
    * contract, the filter is the correctness contract).
    */
  def prunedRead(s: SparkSession, path: String, statCol: String,
                 from: Column, to: Column): DataFrame =
    readFiles(s, path, prunedFiles(s, path, from, to).toIndexedSeq)
      .filter(col(statCol) >= from && col(statCol) <= to)

  /** The layout at `path` restricted to `files` (the survivors of a
    * manifest prune) — or, when none survive, an empty frame with the
    * layout's schema. The one read every manifest-pruned path shares.
    */
  def readFiles(s: SparkSession, path: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) Parquet.read(s, path).filter(lit(false))
    else Parquet.read(s, files: _*)

  /** Every row the committed manifest serves — and only those: data
    * files a crashed [[append]] landed without a manifest commit stay
    * invisible to full-table reads (compaction) as they are to probes.
    */
  def committed(s: SparkSession, path: String): DataFrame =
    readFiles(s, path,
      manifest(s, path).select("file").distinct().collect().map(_.getString(0)).toIndexedSeq)
}
