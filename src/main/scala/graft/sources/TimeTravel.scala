package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned snapshot layout with time travel — the Iceberg/Delta
  * snapshot mechanism as plain parquet + a version log, composed from
  * [[graft.ops.MergeInto]]'s CDC-apply semantics.
  *
  * Physical layout:
  * {{{
  *   path/files/v<N>/__bucket=<b>/part-*.parquet   # data, COW per bucket
  *   path/_log/v<N>/                               # manifest: (bucket, dir)
  * }}}
  *
  * Rows hash-bucket on the table key. A commit rewrites ONLY the buckets
  * its changeset touches (copy-on-write at bucket granularity — the
  * partitionBy write gives file-level separation, so untouched buckets'
  * files are shared byte-for-byte between snapshots, never copied). The
  * new manifest maps every bucket to the newest directory that holds its
  * rows; old manifests stay behind, so ANY historical version remains
  * readable until vacuumed: time travel is a manifest choice, not a data
  * copy.
  *
  * Scale shape at 100 TB: the manifest is BUCKET-count-sized metadata
  * (driver scale, like a format's snapshot file); a commit costs
  * O(affected buckets + changeset), never a base rewrite; a versioned
  * read plans its file list driver-side and scans each live directory
  * exactly once with a bucket-membership filter (partition pruning on
  * `__bucket` — the filter sits on a partition column, so unneeded
  * buckets inside a shared directory are pruned at planning, not read).
  */
object TimeTravel {

  private val BUCKET = "__bucket"

  private def bucketOf(keyCol: String, nBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int")

  private def fs(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  /** v0: write the full table bucketed on `keyCol`, manifest all buckets
    * at v0's directory.
    */
  def init(df: DataFrame, path: String, keyCol: String, nBuckets: Int): Unit = {
    val s = df.sparkSession
    val dataDir = s"$path/files/v0"
    df.withColumn(BUCKET, bucketOf(keyCol, nBuckets))
      .repartition(col(BUCKET))
      .write.mode("overwrite").partitionBy(BUCKET).parquet(dataDir)
    import s.implicits._
    (0 until nBuckets).map(b => (b, dataDir)).toDF("bucket", "dir")
      .withColumn("n_buckets", lit(nBuckets))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_log/v0")
  }

  /** Latest committed version (driver-side listing of the log — one
    * directory per snapshot, format-planner scale).
    */
  def currentVersion(s: SparkSession, path: String): Int = {
    val st = fs(s).listStatus(new org.apache.hadoop.fs.Path(s"$path/_log"))
    st.map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
  }

  private def manifest(s: SparkSession, path: String, version: Int): DataFrame =
    Parquet.read(s, s"$path/_log/v$version")

  /** Apply a CDC changeset (op 'I'|'U'|'D' + seq, [[graft.ops.MergeInto]]
    * semantics) as a new snapshot. Only the buckets holding changed keys
    * are rewritten; every other bucket's manifest entry carries forward.
    * Returns the new version number.
    */
  def commit(s: SparkSession, path: String, changes: DataFrame,
             keyCol: String, opCol: String, seqCol: String): Int = {
    val v = currentVersion(s, path)
    val m = manifest(s, path, v).collect()
    val nBuckets = m.head.getAs[Int]("n_buckets")
    val withB = changes.withColumn(BUCKET, bucketOf(keyCol, nBuckets))
    // changesets are the small side by construction (a day's CDC vs the
    // table) — the distinct bucket list is ≤ nBuckets rows to the driver
    val touched = withB.select(BUCKET).distinct()
      .collect().map(_.getInt(0)).toSet
    val next = v + 1
    import s.implicits._
    if (touched.isEmpty) { // empty changeset: the snapshot is a manifest copy
      m.map(r => (r.getInt(0), r.getString(1))).toSeq.toDF("bucket", "dir")
        .withColumn("n_buckets", lit(nBuckets))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_log/v$next")
      return next
    }
    val newDir = s"$path/files/v$next"
    val touchedBase = readBuckets(s, m.filter(r => touched(r.getInt(0))))
    val merged = graft.ops.MergeInto.applyChanges(
      touchedBase, withB.drop(BUCKET), keyCol, opCol, seqCol)
    merged.withColumn(BUCKET, bucketOf(keyCol, nBuckets))
      .repartition(col(BUCKET))
      .write.mode("overwrite").partitionBy(BUCKET).parquet(newDir)
    // a changeset that deletes EVERY surviving row of the touched
    // buckets leaves a file-less partitioned directory (only _SUCCESS):
    // schema inference fails on read and the __bucket partition column
    // vanishes. Rewrite it as an explicit zero-row parquet WITH the
    // bucket column, so the snapshot (and later commits reading these
    // buckets as their base) stay readable through readBuckets
    // unchanged. Partitioned writes materialize one `__bucket=<b>`
    // subdirectory per present value — data presence == any subdir.
    val hasData = fs(s)
      .listStatus(new org.apache.hadoop.fs.Path(newDir)).exists(_.isDirectory)
    if (!hasData)
      merged.withColumn(BUCKET, bucketOf(keyCol, nBuckets))
        .coalesce(1).write.mode("overwrite").parquet(newDir)
    val entries = m.map { r =>
      val b = r.getInt(0)
      (b, if (touched(b)) newDir else r.getString(1))
    }.toSeq.toDF("bucket", "dir")
      .withColumn("n_buckets", lit(nBuckets))
    entries.coalesce(1).write.mode("overwrite").parquet(s"$path/_log/v$next")
    next
  }

  /** Union-read the manifest's live (bucket, dir) set: one scan per
    * distinct directory, bucket membership pushed onto the `__bucket`
    * partition column (planning-time pruning).
    */
  private def readBuckets(s: SparkSession,
                          entries: Array[org.apache.spark.sql.Row]): DataFrame = {
    val byDir = entries.groupBy(_.getString(1)).view.mapValues(_.map(_.getInt(0)))
    byDir.map { case (dir, buckets) =>
      Parquet.read(s, dir)
        .filter(col(BUCKET).isin(buckets.toIndexedSeq.map(b => lit(b)): _*))
        .drop(BUCKET)
    }.reduce(_ unionByName _)
  }

  /** The table as of snapshot `version` (time travel). */
  def readVersion(s: SparkSession, path: String, version: Int): DataFrame =
    readBuckets(s, manifest(s, path, version).collect())

  /** Snapshot expiry (the format VACUUM): retain the newest
    * `keepLast` snapshots, delete every manifest older than that and
    * every data directory no retained manifest references. Reference
    * resolution walks RETAINED manifests only — a directory shared
    * into a live snapshot by copy-on-write survives no matter how old
    * its writing version is, so expiry can never corrupt a readable
    * snapshot. All driver-side metadata work (version-count sized).
    * Returns the deleted data-directory names.
    */
  def vacuum(s: SparkSession, path: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val f = fs(s)
    val cur = currentVersion(s, path)
    val retained = (math.max(0, cur - keepLast + 1) to cur)
    val live: Set[String] = retained.flatMap(v =>
      manifest(s, path, v).select("dir").distinct()
        .collect().map(_.getString(0))).toSet
    val liveNames = live.map(d => new org.apache.hadoop.fs.Path(d).getName)
    val filesRoot = new org.apache.hadoop.fs.Path(s"$path/files")
    val dead = f.listStatus(filesRoot)
      .map(_.getPath).filterNot(p => liveNames(p.getName))
    dead.foreach(p => f.delete(p, true))
    (0 until retained.head).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$path/_log/v$v"), true)
    }
    dead.map(_.getName).toSeq.sorted
  }
}
