package graft

import graft.functions.st
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Parity with the reference's own test queries
  * (spatial/src/test/.../STSpec.scala:24 and
  * spatial-index/src/test/.../STIndexSpec.scala:28): the same polygon
  * corpus (spatial/src/test/resources/polygons.csv — public NYC parcel
  * WKT) filtered by the same GeoJSON query window must return the same
  * rows, through both the DataFrame DSL and SQL, on the raw geometry and
  * on an extent column (where the pushdown rule rewrites the filter).
  */
class ReferenceParitySpec extends AnyFunSuite with SparkTestSession with Matchers {

  private val csvPath = "/root/reference/spatial/src/test/resources/polygons.csv"
  private def haveReference = new java.io.File(csvPath).exists()

  // the reference suites' query window (test input data, not code)
  private val windowGeoJson =
    """{"type":"Polygon","coordinates":[[[-75.5859375,40.32517767999294],[-75.5859375,43.197167282501276],[-72.41015625,43.197167282501276],[-72.41015625,40.32517767999294],[-75.5859375,40.32517767999294]]]}"""

  private lazy val polygons: DataFrame = {
    val df = SparkTestSession.session.read
      .option("header", "true").option("delimiter", ",").csv(csvPath)
      .withColumn("geom", st.geomFromWKT(col("wkt")))
    df.createOrReplaceTempView("polygons_csv_view")
    df
  }

  test("ST_Intersects(geom, GeoJSON window) filters the CSV view to 5 rows (DSL)") {
    assume(haveReference)
    polygons.filter(st.intersects(col("geom"), st.geomFromGeoJson(lit(windowGeoJson))))
      .count() shouldBe 5
  }

  test("same query through SQL, as the reference runs it") {
    assume(haveReference)
    polygons // force view registration
    spark.sql(
      s"""SELECT * FROM polygons_csv_view
         |WHERE ST_Intersects(geom, ST_GeomFromGeoJson('$windowGeoJson'))""".stripMargin)
      .count() shouldBe 5
  }

  test("ST_ExtentFromGeom extracts the window's envelope") {
    assume(haveReference)
    val e = spark.sql(s"SELECT ST_ExtentFromGeom(ST_GeomFromGeoJson('$windowGeoJson'))")
      .head().getStruct(0)
    e.getDouble(0) shouldBe -75.5859375 +- 1e-6
    e.getDouble(1) shouldBe 40.3251777 +- 1e-6
    e.getDouble(2) shouldBe -72.4101562 +- 1e-6
    e.getDouble(3) shouldBe 43.1971673 +- 1e-6
  }

  test("extent-column ST_Intersects matches the geometry filter and is rewritten to ranges") {
    assume(haveReference)
    val withBbox = polygons.withColumn("bbox", st.extentFromGeom(col("geom")))
    val viaExtent = withBbox
      .filter(st.intersects(col("bbox"), st.geomFromGeoJson(lit(windowGeoJson))))
    viaExtent.count() shouldBe 5
    // the optimizer must have turned the extent predicate into field ranges
    val optimized = viaExtent.queryExecution.optimizedPlan.toString
    optimized should include("bbox").and(include("xmin"))
  }

  test("ST_Intersects filters a parquet copy to the same 5 rows, with pushed extent ranges") {
    assume(haveReference)
    // STIndexSpec's parquet variant: same corpus through the columnar path
    val pq = scratch("graft-parity") + "/polygons"
    polygons.withColumn("bbox", st.extentFromGeom(col("geom")))
      .drop("geom").withColumn("geom", st.geomFromWKT(col("wkt")))
      .write.mode("overwrite").parquet(pq)
    val back = spark.read.parquet(pq)
    back.filter(st.intersects(col("geom"), st.geomFromGeoJson(lit(windowGeoJson))))
      .count() shouldBe 5
    val viaExtent = back.filter(st.intersects(col("bbox"), st.geomFromGeoJson(lit(windowGeoJson))))
    viaExtent.count() shouldBe 5
    // range predicates reach the parquet scan on the struct fields
    viaExtent.queryExecution.executedPlan.toString should include("PushedFilters: [")
    viaExtent.queryExecution.executedPlan.toString should include("bbox.xmin")
  }

  test("non-foldable second argument (bbox, bbox) stays unoptimized, as in the reference") {
    assume(haveReference)
    val withBbox = polygons.withColumn("bbox", st.extentFromGeom(col("geom")))
    val df = withBbox.filter(st.intersects(col("bbox"), col("bbox")))
    df.count() shouldBe polygons.count()
    df.queryExecution.optimizedPlan.toString should include("st_intersects")
  }
}
