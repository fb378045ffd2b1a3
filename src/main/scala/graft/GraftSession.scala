package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** One way to start graft: [[GraftSparkExtensions]].
  *
  * `builder` sets `spark.sql.extensions=graft.GraftSparkExtensions`, the
  * production path, plus the settings of a local deployment. `enable`
  * applies the same extension to a session that was built without it.
  * Plan quality depends on neither: graft sets no optimizer conf, and a
  * plan fix is a rule inside [[GraftSparkExtensions]].
  */
object GraftSession {

  /** A local session with graft. Besides the extension it sets only
    * what differs from Spark's defaults for a local run: the master and
    * shuffle partitions sized to `cpus` (cluster-managed on a cluster),
    * the UTC session time zone the query results assume, the UI off,
    * and graft's local filesystem. Chain `.config(…)` on the returned
    * builder for anything else.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Local writes set modes in-process instead of forking `chmod`
      // per file and directory (no libhadoop). Hadoop caches the first
      // `file:` filesystem, so this only takes effect at build time.
      .config("spark.hadoop.fs.file.impl", "graft.sources.PosixLocalFileSystem")
      .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)

  /** Apply [[GraftSparkExtensions]] to a session that lacks it: its
    * functions go into the session's registry, its rules into
    * `experimental.extraOptimizations` and its barrier strategy into
    * `experimental.extraStrategies`. A session that already has the
    * extension, from `spark.sql.extensions` or an earlier `enable`, is
    * returned unchanged. The rules then run in Spark's last, user-provided
    * optimizer batch rather than inside its operator-optimization batches,
    * so plans can differ from a builder session's; `PruneImpliedGuardsSpec`
    * checks the guard pruning on both.
    */
  def enable(spark: SparkSession): SparkSession = {
    GraftBridge.applyExtensions(spark, new GraftSparkExtensions)
    spark
  }
}
