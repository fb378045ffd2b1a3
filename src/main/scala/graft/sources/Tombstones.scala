package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Logical deletes for the persisted layouts ([[AnnLayout]],
  * [[MinhashIndex]], [[HammingIndex]]) — the one place that knows the
  * `path/tombstones` layout. A rewrite per delete would be a
  * corpus-sized write, so deleted ids land in `path/tombstones`
  * (append-mode parquet, id-only, deletion-volume-sized) and every read
  * path drops them with one broadcast anti-join: the lakehouse
  * merge-on-read delete-vector trade. Compaction is merge-on-write: it
  * reads through [[without]] and [[clear]]s the destination first, since
  * tombstones inherited from a previously-used destination would
  * silently hide live compacted rows.
  *
  * Re-checked on every read (existence goes through the path's Hadoop
  * FS — `java.io.File` cannot see file:/hdfs:/s3a: URIs and would
  * silently serve deleted rows there), so a delete is visible to
  * handles opened before it.
  */
private[sources] object Tombstones {

  private def dir(path: String): String = s"$path/tombstones"

  /** Record `ids(idCol)` as deleted under `path`. */
  def add(path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(dir(path))

  /** `frame` (which has an `id` column) without the ids deleted under
    * `path`.
    */
  def without(s: SparkSession, path: String, frame: DataFrame): DataFrame =
    if (!FsUtil.exists(s, dir(path))) frame
    else frame.join(
      broadcast(Parquet.read(s, dir(path)).select("id").distinct()),
      Seq("id"), "left_anti")

  /** Start `path` with no deletes (a compaction destination). */
  def clear(s: SparkSession, path: String): Unit = FsUtil.delete(s, dir(path))
}
