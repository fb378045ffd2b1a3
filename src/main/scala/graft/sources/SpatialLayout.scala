package graft.sources

import graft.functions.st
import graft.geom.Z2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z2-clustered parquet layout — the storage half of the spatial
  * pushdown design (SURVEY.md §3/§4).
  *
  * Write side: every row carries `extent` (plain struct → parquet
  * min/max stats per field) and a Z2 cell key; rows are range-partitioned
  * by the key and sorted by (z2p, z2) within each file, so each row group
  * covers a tight spatial neighborhood, and a coarse prefix (`z2p`)
  * becomes a directory partition.
  *
  * Read side: a query window prunes three times —
  *   1. directory pruning: one driver-side listing of the layout root
  *      names the `z2p=` directories, and only the covered ones (plus
  *      the spill directory) are handed to Spark, so unmatched
  *      directories are never listed for files; `z2p IN (covering
  *      cells)` stays as the PartitionFilters over what was listed;
  *   2. row-group pruning: SpatialFilterPushdown rewrites
  *      `st_intersects(extent, window)` into field ranges → PushedFilters
  *      against the sorted row-group stats;
  *   3. exact residual: JTS verification on the survivors only.
  *
  * At 100 TB this is the difference between a full scan and touching the
  * few percent of files a window actually overlaps.
  */
object SpatialLayout {

  /** Spill directory key for geometries that span more than one
    * dirLevel cell — always scanned, so no window can lose them.
    */
  val SpillKey = -1L

  /** Write `df` in the Z2-clustered layout. `level` keys row ordering
    * (finer = tighter row groups); `dirLevel` keys directory granularity
    * (4 → up to 256 directories worldwide). Rows are sorted by
    * (z2p, z2) within each file.
    *
    * A geometry whose envelope fits inside one dirLevel cell gets that
    * cell as its directory key; one that crosses a cell boundary goes to
    * the [[SpillKey]] directory (read on every window — the standard
    * out-of-band bucket, bounded because dirLevel is coarse). Keying the
    * directory on the centroid cell alone would silently drop
    * boundary-crossing geometries whose centroid falls outside the
    * window's covered cells.
    */
  def writeZ2(df: DataFrame, geomCol: String, path: String,
              level: Int = 12, dirLevel: Int = 4): Unit =
    df.withColumn("extent", st.extentFromGeom(col(geomCol)))
      .withColumn("z2", st.z2Cell(col(geomCol), lit(level)))
      .withColumn("__cover", st.z2CellCover(col(geomCol), lit(dirLevel)))
      .withColumn("z2p",
        when(size(col("__cover")) === 1, col("__cover").getItem(0))
          .otherwise(lit(SpillKey)))
      .drop("__cover")
      .repartitionByRange(col("z2"))
      // The partitioned write requires rows sorted by z2p and adds that
      // sort itself, dropping a plain z2 sort; (z2p, z2) satisfies it.
      .sortWithinPartitions("z2p", "z2")
      .write.partitionBy("z2p").mode("overwrite").parquet(path)

  /** Scan a Z2 layout pruned to a query window: covered directories plus
    * the spill directory, extent ranges for row-group pruning, then the
    * exact JTS predicate on the survivors.
    */
  def readWindow(spark: SparkSession, path: String,
                 xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                 dirLevel: Int = 4, geomCol: String = "geom"): DataFrame = {
    val cells = Z2.coverEnvelope(xmin, ymin, xmax, ymax, dirLevel) :+ SpillKey
    val window = st.makeBBOX(lit(xmin), lit(ymin), lit(xmax), lit(ymax))
    Parquet.read(spark, Map("basePath" -> path), windowDirs(spark, path, cells.toSet): _*)
      .filter(col("z2p").isin(cells.map(Long.box).toIndexedSeq: _*))
      .filter(st.intersects(col("extent"), window)) // pushdown-rewritten ranges
      .filter(st.intersects(col(geomCol), window))  // exact JTS residual
  }

  /** The directories a window reads: the `z2p=` directories of `cells`
    * that exist. Handing Spark a few paths keeps its file listing on the
    * driver; the whole root would be listed by a Spark job with one task
    * per directory once it holds more than 32.
    *
    * Spark infers `z2p`'s type from the directories it is given, so when
    * the window covers none, or the layout holds a key past Int range
    * (dirLevel ≥ 16), the directory with the largest key is added too:
    * the schema then matches a read of the whole root, and the `z2p IN`
    * PartitionFilter prunes that directory before any of its files is
    * read. A root without `z2p=` directories is read as is.
    */
  private def windowDirs(spark: SparkSession, path: String, cells: Set[Long]): Seq[String] = {
    val dirs = FsUtil.listPartitionDirs(spark, path, "z2p").map { case (v, p) => (v.toLong, p) }
    if (dirs.isEmpty) Seq(path)
    else {
      val covered = dirs.filter(d => cells(d._1))
      val widest = dirs.maxBy(_._1)
      val witness = if (covered.isEmpty || !widest._1.isValidInt) Seq(widest) else Nil
      (covered ++ witness).distinct.map(_._2)
    }
  }
}
