package graft.plans

import graft.SparkTestSession
import graft.functions.st
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The point of the Extent design: spatial predicates over extent struct
  * columns must reach the parquet scan as pushed range filters.
  */
class PushdownSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val extentParquet: String = {
    val dir = scratch("graft-extents") + "/boxes"
    spark.range(1000).select(
      col("id"),
      st.extentFromGeom(st.makeBBOX(
        col("id").cast("double") % 360 - 180,
        (col("id") * 7).cast("double") % 170 - 85,
        col("id").cast("double") % 360 - 179,
        (col("id") * 7).cast("double") % 170 - 84)).as("extent"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  // formatted mode prints the full (untruncated) PushedFilters list
  private def executed(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("st_intersects(extent, bbox literal) pushes range filters to parquet") {
    val df = spark.read.parquet(extentParquet)
      .filter(st.intersects(col("extent"), st.makeBBOX(-10.0, -10.0, 10.0, 10.0)))
    val plan = executed(df)
    plan should include("PushedFilters")
    plan should include("extent.xmin")
    plan should include("LessThanOrEqual(extent.xmin,10.0)")
    plan should include("GreaterThanOrEqual(extent.xmax,-10.0)")
    // and the rewrite is exact for box literals: no residual st_intersects
    plan should not include "st_intersects"
  }

  test("st_contains(extent, geometry literal) pushes ranges and keeps exact residual") {
    val df = spark.read.parquet(extentParquet)
      .filter(st.contains(col("extent"), st.makePoint(lit(5.5), lit(5.5))))
    val plan = executed(df)
    plan should include("LessThanOrEqual(extent.xmin,5.5)")
    plan should include("GreaterThanOrEqual(extent.xmax,5.5)")
    plan should include("st_contains") // JTS boundary semantics residual
  }

  test("rewrite preserves results (vs no-rule brute force) incl. reversed args and NOT") {
    val base = spark.read.parquet(extentParquet)
    val window = st.makeBBOX(-10.0, -10.0, 10.0, 10.0)
    // brute force via the non-rewritable geometry path
    val brute = base
      .filter(st.intersects(st.extentToGeom(col("extent")), window))
      .select("id").collect().map(_.getLong(0)).toSet
    val viaRule = base.filter(st.intersects(col("extent"), window))
      .select("id").collect().map(_.getLong(0)).toSet
    val reversed = base.filter(st.intersects(window, col("extent")))
      .select("id").collect().map(_.getLong(0)).toSet
    viaRule shouldBe brute
    reversed shouldBe brute
    val negated = base.filter(!st.intersects(col("extent"), window))
      .select("id").collect().map(_.getLong(0)).toSet
    negated shouldBe (base.select("id").collect().map(_.getLong(0)).toSet -- brute)
  }

  test("non-rectangular literal: ranges pushed AND exact residual kept") {
    val tri = st.geomFromWKT(lit("POLYGON ((0 0, 20 0, 0 20, 0 0))"))
    val df = spark.read.parquet(extentParquet).filter(st.intersects(col("extent"), tri))
    val plan = executed(df)
    plan should include("LessThanOrEqual(extent.xmin,20.0)")
    plan should include("st_intersects")
    // exactness: triangle misses boxes in the upper-right of its bbox
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    val bboxOnly = spark.read.parquet(extentParquet)
      .filter(st.intersects(col("extent"), st.makeBBOX(0.0, 0.0, 20.0, 20.0)))
      .select("id").collect().map(_.getLong(0)).toSet
    ids.subsetOf(bboxOnly) shouldBe true
    ids.size should be < bboxOnly.size
  }

  test("non-foldable second argument is left untouched") {
    val df = spark.read.parquet(extentParquet)
      .withColumn("probe", st.makePoint(lit(-179.5), lit(-84.5)))
      .filter(st.intersects(col("extent"), col("probe")))
    executed(df) should include("st_intersects")
    df.count() should be > 0L // id 0's box is [-180,-85]..[-179,-84]
  }
}
