package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{AbstractDataType, DataType}
import org.apache.spark.storage.StorageLevel

/** Narrow bridge to `private[sql]` Spark internals graft needs:
  * Column⇄Expression conversion (for the typed DSL),
  * AbstractDataType.acceptsType (for expression type checks) and a
  * session's extensions (for `GraftSession.enable`).
  */
object GraftBridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def accepts(expected: AbstractDataType, actual: DataType): Boolean =
    expected.acceptsType(actual)

  /** Release the cached blocks behind a `localCheckpoint()`ed frame.
    * Owned by [[graft.ops.Pins.close]]; the only direct callers are
    * functions that create and release a checkpoint themselves. No-op
    * for frames that aren't checkpoint-backed.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** True when `df` reads a persisted RDD directly: its optimized plan
    * is a [[LogicalRDD]] with a storage level, bare or under a
    * projection of attributes and attribute aliases. The storage level
    * matters: `foreachBatch` and `createDataFrame(rdd)` frames are
    * `LogicalRDD`s over plain, recomputing RDDs.
    */
  def checkpointBacked(df: Dataset[_]): Boolean = {
    def persisted(r: LogicalRDD) = r.rdd.getStorageLevel != StorageLevel.NONE
    df.queryExecution.optimizedPlan match {
      case r: LogicalRDD => persisted(r)
      case Project(list, r: LogicalRDD) => persisted(r) && list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      }
      case _ => false
    }
  }

  /** Apply `extension` to a session that was built without it: the
    * functions it injects go into the session's registry and its
    * optimizer rules into `experimental.extraOptimizations`. Does
    * nothing when the session's own extensions, or an earlier call,
    * already supply those rules.
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
}
