package graft

import graft.functions.{FunctionRegistration, st}
import graft.ops.MaterializedStrategy
import graft.plans.{PruneImpliedGuards, SpatialFilterPushdown}
import org.apache.spark.sql.{BareSession, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The two ways onto graft's one extension: `builder` (which names it
  * in `spark.sql.extensions`) and `enable` on a session built without it.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private val names = FunctionRegistration.builders.map(_._1)

  /** Each graft function's registered builder, by name. */
  private def registered(s: SparkSession): Seq[AnyRef] = {
    val registry = s.sessionState.functionRegistry
    names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)).orNull)
  }

  test("enable on a builder session changes nothing: same rules, same function builders") {
    val rules = spark.experimental.extraOptimizations
    val before = registered(spark)
    GraftSession.enable(spark) shouldBe theSameInstanceAs(spark)
    spark.experimental.extraOptimizations shouldBe rules
    registered(spark).zip(before).foreach { case (after, was) => after shouldBe theSameInstanceAs(was) }
  }

  test("enable on a session built without graft registers every function once and both rules") {
    val bare = BareSession(spark)
    val registry = bare.sessionState.functionRegistry
    registry.functionExists(FunctionIdentifier("word_shingles")) shouldBe false
    GraftSession.enable(bare)
    for (n <- names) withClue(s"$n: ") {
      registry.lookupFunction(FunctionIdentifier(n)).map(_.getClassName) shouldBe Some("graft.functions")
    }
    bare.experimental.extraOptimizations shouldBe Seq(SpatialFilterPushdown, PruneImpliedGuards)
    bare.experimental.extraStrategies shouldBe Seq(MaterializedStrategy)
    val once = registered(bare)
    GraftSession.enable(bare)
    bare.experimental.extraOptimizations shouldBe Seq(SpatialFilterPushdown, PruneImpliedGuards)
    bare.experimental.extraStrategies shouldBe Seq(MaterializedStrategy)
    registered(bare).zip(once).foreach { case (after, was) => after shouldBe theSameInstanceAs(was) }
  }

  test("enable on a session built without graft: the extent pushdown reaches the parquet scan") {
    val dir = scratch("graft-enable") + "/boxes"
    spark.range(100).select(col("id"), st.extentFromGeom(st.makeBBOX(
      col("id").cast("double"), col("id").cast("double"),
      col("id").cast("double") + 1, col("id").cast("double") + 1)).as("extent"))
      .write.mode("overwrite").parquet(dir)
    val bare = GraftSession.enable(BareSession(spark))
    val df = bare.read.parquet(dir)
      .filter(st.intersects(col("extent"), st.makeBBOX(10.5, 10.5, 20.5, 20.5)))
    df.queryExecution.explainString(ExplainMode.fromString("formatted")) should
      include("LessThanOrEqual(extent.xmin,20.5)")
    df.select("id").collect().map(_.getLong(0)).toSet shouldBe (10L to 20L).toSet
  }

  test("an enabled session runs a barrier entry: sp_overlay reads its Materialized node, same rows") {
    val bare = GraftSession.enable(BareSession(spark))
    val df = SparkEntry.queries("sp_overlay")(bare, sfDir)
    val rows = df.collect().toSeq
    df.queryExecution.executedPlan.toString should include("Materialized [")
    rows should not be empty
    rows shouldBe SparkEntry.queries("sp_overlay")(spark, sfDir).collect().toSeq
  }

  test("graft replaces exactly two of Spark's built-in functions: st_asbinary and st_geomfromwkb") {
    val builtin = BareSession(spark).sessionState.functionRegistry.listFunction()
      .map(_.funcName.toLowerCase).toSet
    names.map(_.toLowerCase).filter(builtin).toSet shouldBe Set("st_asbinary", "st_geomfromwkb")
  }
}
