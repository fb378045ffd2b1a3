package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Core machinery checks: codegen + interpreted paths, SQL registration,
  * polymorphic dispatch, null propagation, implicit casts.
  */
class GeomFnSpec extends AnyFunSuite with SparkTestSession with Matchers {

  test("constructors + accessors through the DSL (codegen path)") {
    val df = spark.range(5).select(
      col("id"),
      st.x(st.makePoint(col("id").cast("double"), lit(2.0) * col("id"))).as("px"),
      st.y(st.makePoint(col("id").cast("double"), lit(2.0) * col("id"))).as("py"))
    val rows = df.orderBy("id").collect()
    rows.map(_.getDouble(1)).toSeq shouldBe Seq(0.0, 1.0, 2.0, 3.0, 4.0)
    rows.map(_.getDouble(2)).toSeq shouldBe Seq(0.0, 2.0, 4.0, 6.0, 8.0)
  }

  test("SQL registration: full pipeline via spark.sql") {
    val out = spark.sql(
      """SELECT st_asText(st_makePoint(1.5, 2.5)) AS wkt,
        |       st_area(st_makeBBOX(0, 0, 2, 3)) AS a,
        |       st_x(st_geomFromWKT('POINT (7 8)')) AS gx,
        |       st_intersects(st_makeBBOX(0,0,1,1), st_makePoint(0.5, 0.5)) AS hit,
        |       st_intersects(st_makeBBOX(0,0,1,1), st_makePoint(5, 5)) AS miss
        |""".stripMargin).head()
    out.getString(0) shouldBe "POINT (1.5 2.5)"
    out.getDouble(1) shouldBe 6.0
    out.getDouble(2) shouldBe 7.0
    out.getBoolean(3) shouldBe true
    out.getBoolean(4) shouldBe false
  }

  test("implicit casts: integer literals into double slots") {
    spark.sql("SELECT st_x(st_makePoint(3, 4)) AS x").head().getDouble(0) shouldBe 3.0
  }

  test("null propagation: null input → null output, both eval paths") {
    val r = spark.sql(
      "SELECT st_x(st_geomFromWKT(CAST(NULL AS STRING))), st_x(st_geomFromWKT('LINESTRING (0 0, 1 1)'))").head()
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true // st_x of non-point is NULL (boxed-null path)
  }

  test("polymorphic st_intersects over extent structs") {
    val r = spark.sql(
      """SELECT st_intersects(st_makeExtent(0,0,10,10), st_makeExtent(5,5,15,15)) AS ee,
        |       st_intersects(st_makeExtent(0,0,10,10), st_makePoint(5,5)) AS eg,
        |       st_intersects(st_makePoint(5,5), st_makeExtent(0,0,10,10)) AS ge,
        |       st_intersects(st_makeExtent(0,0,1,1), st_makeExtent(2,2,3,3)) AS miss
        |""".stripMargin).head()
    r.getBoolean(0) shouldBe true
    r.getBoolean(1) shouldBe true
    r.getBoolean(2) shouldBe true
    r.getBoolean(3) shouldBe false
  }

  test("arity dispatch: st_geomFromGeoHash with and without precision") {
    val r = spark.sql(
      """SELECT st_asText(st_centroid(st_geomFromGeoHash(st_geoHash(st_makePoint(10.0, 20.0), 40)))) AS c
        |""".stripMargin).head()
    // 40-bit geohash cell centered very near the encoded point
    val wkt = r.getString(0)
    wkt should startWith("POINT")
  }

  test("wrong arity / wrong types produce analysis errors") {
    an[Exception] should be thrownBy spark.sql("SELECT st_x(1.0)").collect()
    an[Exception] should be thrownBy spark.sql("SELECT st_makePoint(1.0)").collect()
  }

  test("interpreted eval matches codegen (constant folding path)") {
    // Foldable expressions go through interpreted eval during optimization.
    val folded = spark.sql("SELECT st_distance(st_makePoint(0,0), st_makePoint(3,4)) AS d").head()
    folded.getDouble(0) shouldBe 5.0
  }

  test("geometry columns round-trip through parquet as UDT") {
    import spark.implicits._
    val tmp = scratch("graft-udt")
    spark.range(10).select(col("id"),
        st.makePoint(col("id").cast("double"), lit(1.0)).as("geom"))
      .write.mode("overwrite").parquet(s"$tmp/pts")
    val back = spark.read.parquet(s"$tmp/pts")
    back.schema("geom").dataType shouldBe a[graft.geom.GeometryUDT]
    back.select(sum(st.x(col("geom")))).as[Double].head() shouldBe 45.0
  }
}
