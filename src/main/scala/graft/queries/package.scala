package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}

package object queries {

  /** Fan a scan-partitioned frame out to the session parallelism when
    * the input yields fewer splits than cores (single-row-group
    * small-SF parquet; one unsplittable gzip member) — the qProfile
    * guard. A no-op on real multi-file layouts, where splits >> cores.
    * One definition for the three query families; each call site keeps
    * its own applicability note (the guard is only worth its exchange
    * where the downstream per-row work dwarfs one extra move of the
    * projected rows — see the Spatial/Relational/Pipeline call sites
    * for the measured placement rules).
    */
  private[queries] def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** The one directory every query fixture of this JVM lives under:
    * made on first use by Spark's `createTempDir` (a `graft-<uuid>`
    * directory in `java.io.tmpdir`), which registers it for deletion
    * at JVM shutdown, after the SparkContext stops.
    */
  private[graft] lazy val scratchRoot: java.io.File = GraftBridge.tempDir("graft")

  /** A fresh, empty directory under [[scratchRoot]] whose name starts
    * with `prefix` — for what is written anew on every call.
    */
  private[graft] def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot.toPath, prefix).toString

  // one holder per (fixture name, sf dir); a holder's monitor guards
  // its build, so two fixtures build independently and a build may
  // call another fixture (a computeIfAbsent over the map would throw
  // `Recursive update` there)
  private final class Built { var value: Option[Any] = None }
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[(String, String), Built]()

  /** What a query fixture's `build` made — a layout path, an index
    * handle, a merge table — built at most once per (`name`, sf `dir`)
    * per JVM. `build` gets an empty directory of its own under
    * [[scratchRoot]], `<root>/<name>/<hash of dir>`, to write into. A
    * build that throws records nothing, so the next call builds again,
    * into that directory emptied.
    */
  private[graft] def fixture[T](name: String, dir: String)(build: String => T): T = {
    val b = fixtures.computeIfAbsent((name, dir), _ => new Built)
    b.synchronized {
      b.value.getOrElse {
        val d = new java.io.File(new java.io.File(scratchRoot, name),
          Integer.toHexString(dir.hashCode))
        org.apache.spark.network.util.JavaUtils.deleteRecursively(d)
        d.mkdirs()
        val v = build(d.getPath)
        b.value = Some(v)
        v
      }
    }.asInstanceOf[T]
  }
}
