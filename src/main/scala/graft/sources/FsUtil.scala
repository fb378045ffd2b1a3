package graft.sources

import org.apache.spark.sql.SparkSession

/** Filesystem probes that follow Spark's Hadoop configuration. Layout
  * paths may live on any Hadoop-supported filesystem (file:, hdfs:,
  * s3a:), and `java.io.File` silently reports "absent" for every URI
  * scheme it cannot parse — which would turn logical deletes
  * ([[AnnLayout]] tombstones) and manifest extensions
  * ([[StatsManifest.append]]) into silent no-ops anywhere but the
  * local disk.
  */
private[graft] object FsUtil {

  def exists(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete; no-op when absent. */
  def delete(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Names of the plain `part-*` data files directly under `dir`
    * (empty when the directory doesn't exist yet).
    */
  def listPartFiles(s: SparkSession, dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSet
  }

  /** `key=<value>` partition directories directly under `dir`, as
    * (value, full path) pairs, from one driver-side listing (empty when
    * `dir` doesn't exist yet).
    */
  def listPartitionDirs(s: SparkSession, dir: String, key: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = key + "="
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => (st.getPath.getName.stripPrefix(prefix), st.getPath.toString))
  }
}
