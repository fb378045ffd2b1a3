package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Append-time schema evolution: union schema with null backfill, and
  * the two failure modes the contract pins (silent column loss without
  * mergeSchema; loud failure on column-type redefinition).
  */
class EvolvingLayoutSpec extends AnyFunSuite with SparkTestSession with Matchers {

  import scala.jdk.CollectionConverters._

  private def mk(rows: Seq[org.apache.spark.sql.Row],
                 fields: (String, org.apache.spark.sql.types.DataType)*) =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }))

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.sql.Row

  test("added column reads as null for old files; new files carry it") {
    val p = scratch("graft-evolve-spec") + "/t"
    EvolvingLayout.append(
      mk((0L until 50L).map(i => Row(i, s"v$i")), "id" -> LongType, "v" -> StringType), p)
    EvolvingLayout.append(
      mk((50L until 80L).map(i => Row(i, s"v$i", s"x$i")),
        "id" -> LongType, "v" -> StringType, "extra" -> StringType), p)
    val r = EvolvingLayout.read(spark, p)
    r.columns.sorted shouldBe Array("extra", "id", "v")
    r.count() shouldBe 80L
    r.filter(col("extra").isNull).count() shouldBe 50L
    r.filter(col("extra") === "x60").select("id").head().getLong(0) shouldBe 60L
  }

  test("column-type redefinition fails loudly at plan time, not silently") {
    val p = scratch("graft-evolve-bad") + "/t"
    EvolvingLayout.append(mk(Seq(Row(1L, 2L)), "id" -> LongType, "v" -> LongType), p)
    EvolvingLayout.append(mk(Seq(Row(2L, "s")), "id" -> LongType, "v" -> StringType), p)
    an[Exception] should be thrownBy EvolvingLayout.read(spark, p).collect()
  }
}
