package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Narrow bridge to `private[sql]` Spark internals graft needs:
  * Column⇄Expression conversion (for the typed DSL),
  * AbstractDataType.acceptsType (for expression type checks), frames
  * over a logical plan (for `graft.ops.Pins`), a session's extensions
  * (for `GraftSession.enable`) and Spark's self-deleting temp
  * directory (for `graft.queries.scratchRoot`).
  */
object GraftBridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def accepts(expected: AbstractDataType, actual: DataType): Boolean =
    expected.acceptsType(actual)

  /** A frame over an already-analyzed logical plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply `extension` to a session that was built without it: the
    * functions it injects go into the session's registry, its optimizer
    * rules into `experimental.extraOptimizations` and its planner
    * strategies into `experimental.extraStrategies`. Does nothing when
    * the session's own extensions, or an earlier call, already supply
    * those rules.
    */
  def applyExtensions(spark: SparkSession, extension: SparkSessionExtensions => Unit): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val ext = new SparkSessionExtensions
    extension(ext)
    val rules = ext.buildOptimizerRules(session)
    val present = session.extensions.buildOptimizerRules(session) ++
      session.experimental.extraOptimizations
    if (!rules.forall(present.contains)) {
      ext.registerFunctions(session.sessionState.functionRegistry)
      session.experimental.extraOptimizations ++= rules.filterNot(present.contains)
      session.experimental.extraStrategies ++= ext.buildPlannerStrategies(session)
    }
  }

  /** Catalyst⇄Scala value converters (for user-registered aggregates,
    * whose callbacks speak external Scala types — String, Seq, Row —
    * not UTF8String/ArrayData/InternalRow).
    */
  def toScalaConverter(dt: DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)
  def toCatalystConverter(dt: DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)

  /** Block until the async listener bus has delivered every queued
    * event — deterministic per-query metric attribution for Bench
    * (task-end events otherwise post after the query returns and
    * bleed into the NEXT query's counters under load).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A new `<prefix>-<uuid>` directory in `java.io.tmpdir`, registered
    * with Spark's shutdown-delete list: it is removed when the JVM
    * exits, after the SparkContext stops.
    */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
