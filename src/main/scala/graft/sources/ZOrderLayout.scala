package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic multi-column Z-order clustering — the lakehouse
  * OPTIMIZE-ZORDER primitive, generalizing [[SpatialLayout]]'s
  * lat/lon-specific Z2 curve to ANY small set of numeric columns
  * (order keys, timestamps, tenant ids). A single range-sort can
  * cluster one axis; interleaving the axes' bits into one key makes
  * EVERY part file cover a tight hyper-rectangle, so parquet min/max
  * footer statistics prune row groups for predicates on ANY of the
  * z-ordered columns — the property a linear sort gives only to its
  * leading column.
  *
  * Scale notes:
  *  - per-column (min, max) comes from ONE aggregate job (parquet
  *    footer stats make it cheap); the affine grid + bit interleave are
  *    then pure scan-side codegen'd arithmetic — no UDF, no shuffle
  *    beyond the single `repartitionByRange` every re-layout pays;
  *  - `bits` caps at 63/k so the interleaved key stays in one long —
  *    16 bits/axis resolves 65k cells per axis, far finer than
  *    row-group granularity needs;
  *  - skewed axes degrade gracefully: equal-width cells put hot values
  *    in one cell, which the range partitioner then splits by the
  *    OTHER axes' bits (production systems move to rank-space for
  *    extreme skew; the layout contract is unchanged).
  */
object ZOrderLayout {

  /** Interleave the low `bits` bits of the grid columns: bit b of
    * column j lands at position b·k + j (column 0 in the lowest lane,
    * matching [[graft.geom.Z2]]'s even/odd convention at k = 2).
    */
  private[graft] def interleave(grids: Seq[Column], bits: Int): Column = {
    val k = grids.size
    grids.zipWithIndex.flatMap { case (g, j) =>
      (0 until bits).map(b =>
        shiftleft(shiftright(g, b).bitwiseAND(lit(1L)), b * k + j))
    }.reduce(_ + _)
  }

  /** Write `df` z-ordered by `zcols`: affine-grid each column to
    * `bits`-bit cells using its global (min, max), interleave into one
    * zkey, then range-partition into `parts` files and sort within —
    * each row group ends up covering a tight cell block on every axis.
    */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[String],
                    parts: Int, bits: Int = 16): Unit = {
    require(zcols.nonEmpty && zcols.size * bits <= 63,
      s"zcols×bits = ${zcols.size}×$bits must fit a long (≤63 bits)")
    val gmax = (1L << bits) - 1
    // one footer-stat aggregate for every column's range
    val aggCols = zcols.flatMap(c => Seq(min(col(c).cast("double")).as(s"mn_$c"),
      max(col(c).cast("double")).as(s"mx_$c")))
    val mm = df.agg(aggCols.head, aggCols.tail: _*).head()
    val grids = zcols.zipWithIndex.map { case (c, i) =>
      val mn = mm.getDouble(2 * i)
      val mx = mm.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(gmax), greatest(lit(0L),
        floor((col(c).cast("double") - lit(mn)) / lit(span) * lit(gmax.toDouble))
          .cast("long")))
    }
    df.withColumn("__zkey", interleave(grids, bits))
      .repartitionByRange(parts, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  def read(s: SparkSession, path: String): DataFrame = Parquet.read(s, path)
}
