package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-atomic commit for small metadata tables (manifests, index
  * params) — the piece a bare `mode("overwrite")` parquet write lacks:
  * Spark's overwrite DELETES the old directory before the new job
  * commits, so a crash mid-write loses BOTH generations, and a crash
  * between two related overwrites serves a torn mix. The lakehouse
  * answer is a version log, and this is its minimal form:
  *
  *  - a versioned dir holds numbered generations `v00000001`,
  *    `v00000002`, … — each an ordinary parquet directory;
  *  - a generation COUNTS only once its `_SUCCESS` marker exists,
  *    which Spark's file-output committer writes strictly after every
  *    data file is moved into place;
  *  - readers resolve the HIGHEST committed generation — a crash at
  *    any point of a write leaves a partial dir without `_SUCCESS`
  *    that readers skip, so they serve the old generation or the new
  *    one, never a torn read;
  *  - older generation dirs — committed AND torn (uncommitted dirs a
  *    crash left behind, which are skipped-over, never reused) — are
  *    pruned AFTER a successful commit (best-effort — leftovers cost
  *    bytes, not correctness, and an interrupted prune is healed by
  *    the next commit).
  *
  * Concurrency contract: SINGLE WRITER (the [[StatsManifest.append]] /
  * [[MinhashIndex.Maintainer.append]] maintenance contract — one
  * daily/streaming maintainer). Two concurrent writers could pick the same next
  * version number; readers would still never tear (one job's committer
  * wins the directory), but the loser's rows would be dropped.
  * Replays are idempotent by construction: re-running a failed write
  * simply commits the next generation.
  */
private[graft] object VersionedDir {

  private val VersionRe = "^v(\\d{8})$".r

  private def fs(s: SparkSession, path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Committed generation numbers (have `_SUCCESS`), ascending. */
  private def committed(s: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(s, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VersionRe(n)
          if f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
          Some(n.toInt)
        case _ => None
      })
      .toSeq.sorted
  }

  def exists(s: SparkSession, dir: String): Boolean =
    committed(s, dir).nonEmpty

  /** Path of the latest committed generation; loud error when none —
    * a versioned dir with zero committed generations means the very
    * first write never finished (or the path is wrong), and serving
    * an empty frame would silently read as an empty index.
    */
  def latestPath(s: SparkSession, dir: String): String = {
    val vs = committed(s, dir)
    require(vs.nonEmpty, s"VersionedDir: no committed generation under $dir")
    f"$dir/v${vs.last}%08d"
  }

  /** The latest committed generation as a DataFrame. */
  def read(s: SparkSession, dir: String): DataFrame =
    Parquet.read(s, latestPath(s, dir))

  /** Version numbers of ALL generation dirs present — committed or
    * torn — ascending.
    */
  private def present(s: SparkSession, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(s, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VersionRe(n) => Some(n.toInt)
        case _ => None
      })
      .toSeq.sorted
  }

  /** Commit `df` as the next generation, then prune older committed
    * generations. `df` may read FROM the current generation (the
    * manifest-merge shape): the new generation is a fresh directory,
    * so the plan never overwrites its own input, and the old
    * generation is deleted only after the new `_SUCCESS` exists.
    */
  def write(df: DataFrame, dir: String): Unit = {
    val s = df.sparkSession
    val stale = present(s, dir)
    val next = stale.lastOption.getOrElse(0) + 1
    df.coalesce(1).write.mode("overwrite").parquet(f"$dir/v$next%08d")
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(s, p)
    // prune EVERY older generation dir below the fresh commit:
    // previously-committed ones AND stale uncommitted (torn) dirs a
    // past crash left behind — torn dirs are never reused (the
    // next-version counter skips past them) so without this they
    // accumulate forever on a long-lived streaming index (r11 verdict
    // finding #2). Safe order: the new `_SUCCESS` exists before
    // anything is deleted, and a reader that listed before the prune
    // still resolves a complete generation (single-writer contract).
    // Best-effort as before — an interrupted prune heals on the next
    // commit.
    stale.foreach(v =>
      f.delete(new org.apache.hadoop.fs.Path(f"$dir/v$v%08d"), true))
  }
}
