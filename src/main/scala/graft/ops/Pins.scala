package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Expression, ExpressionSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{InputRDDCodegen, LeafExecNode, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.storage.StorageLevel

/** Owner of graft's materialization barriers: the only code that
  * builds a [[Materialized]] plan node. A function whose result reads a
  * barrier lazily takes a `Pins` and materializes through it; whoever
  * owns the `Pins` decides when the blocks go. A long-running loop
  * opens one per trigger (or per round) and closes it once the output
  * that reads it has materialized. A one-shot caller passes a fresh
  * `Pins` (the default argument, or [[Pins.once]]) and never closes it:
  * the ContextCleaner frees the blocks once the result is unreachable.
  *
  * A frame pinned here is valid until [[close]]; after that, planning a
  * read of it fails with an `IllegalStateException` that names the
  * barrier (a local checkpoint cannot recompute). Two results pinned by
  * different `Pins` never invalidate each other.
  */
final class Pins {
  private val held = scala.collection.mutable.ArrayBuffer.empty[Barrier]
  private val scopes = scala.collection.mutable.ArrayBuffer.empty[Pins]
  private var closed = false

  private def open(): Unit =
    if (closed) throw new IllegalStateException("Pins: checkpoint after close()")

  /** `df` materialized once behind a [[Materialized]] node, recorded
    * for [[close]]. `eager = false` writes the blocks on the first
    * action that reads them. Returns `df` itself, recording nothing,
    * when it already reads a barrier or a user's own `localCheckpoint`
    * ([[Pins.reusable]]): a second copy would only pin more blocks,
    * and the first copy belongs to someone else.
    */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = synchronized {
    open()
    if (Pins.reusable(df)) df
    else {
      val b = Barrier(df, eager)
      held += b
      GraftBridge.frame(df.sparkSession, Materialized(b.relation.output, b))
    }
  }

  /** A `Pins` that closes with this one, or earlier by its own
    * [[close]]: for a loop that drops each round's barrier once the
    * next one has materialized while its caller owns the last one.
    */
  def scope(): Pins = synchronized {
    open()
    val p = new Pins
    scopes += p
    p
  }

  /** Unpersist every recorded barrier and close every [[scope]].
    * Idempotent.
    */
  def close(): Unit = synchronized {
    closed = true
    held.foreach(_.release())
    held.clear()
    scopes.foreach(_.close())
    scopes.clear()
  }
}

object Pins {

  /** `df` behind a barrier of its own fresh `Pins`, which the
    * ContextCleaner frees once the result is unreachable.
    */
  def once(df: DataFrame, eager: Boolean = true): DataFrame = new Pins()(df, eager)

  /** `df.orderBy(sortCol, sortCols: _*)` with a lazy barrier under the
    * sort. A global sort's range partitioner samples its child by
    * EXECUTING it, so a heavy projection under a bare orderBy is
    * computed twice: once for the sample pass and once for the sort's
    * map pass (measured: the two stages cost about the same on the
    * geometry batteries and the codec decodes). The barrier writes the
    * rows once; sample and sort then read blocks. Use it only where the
    * per-row compute dwarfs one block write of the output.
    */
  def sorted(sortCol: String, sortCols: String*): DataFrame => DataFrame =
    df => once(df, eager = false).orderBy(sortCol, sortCols: _*)

  /** The skip rule: `df` already reads a barrier or a persisted RDD,
    * bare or under a projection of attributes and attribute aliases.
    * A `foreachBatch` or `createDataFrame(rdd)` frame is a `LogicalRDD`
    * over a plain, recomputing RDD, so it still gets its barrier.
    */
  private[ops] def reusable(df: DataFrame): Boolean = {
    def read(p: LogicalPlan) = p match {
      case _: Materialized => true
      case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    }
    df.queryExecution.optimizedPlan match {
      case Project(list, child) => read(child) && list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      }
      case p => read(p)
    }
  }
}

/** One barrier: the `LogicalRDD` of its checkpoint, whose statistics,
  * constraints, partitioning and ordering the plan nodes carry, and
  * what it computed, for display. The display keeps nothing that holds
  * data: the child's optimized plan with every barrier it reads
  * replaced by a [[shown]] copy, and the executed plan as text. Only
  * the label travels with a task that serializes its plan.
  */
final class Barrier private (
    val label: String,
    @transient rel: LogicalRDD,
    @transient private[ops] val computed: Option[LogicalPlan],
    @transient private[ops] val executed: String) extends Serializable {
  @volatile private var released = false

  /** The checkpoint; fails, naming the barrier, once released. */
  private[ops] def relation: LogicalRDD = {
    if (released) throw new IllegalStateException(
      s"graft barrier $label ${rel.output.map(_.name).mkString("[", ", ", "]")} was released by " +
        "Pins.close() and cannot be read again: close its Pins only after every frame " +
        "that reads it has run")
    rel
  }

  /** `e` over a plan node's `output` instead of the checkpoint's. */
  private[ops] def onto[T <: Expression](output: Seq[Attribute])(e: T): T = {
    val m = AttributeMap(rel.output.zip(output))
    e.transform { case a: Attribute => m.getOrElse(a, a) }.asInstanceOf[T]
  }

  private[ops] def release(): Unit = {
    released = true
    rel.rdd.unpersist(blocking = false)
  }

  /** A display-only copy: the label, no checkpoint, no child. */
  private[ops] def shown: Barrier = new Barrier(label, null, None, "")

  override def toString: String = label
}

private[ops] object Barrier {

  /** Materialize `df` (the one `localCheckpoint` in graft). */
  def apply(df: DataFrame, eager: Boolean): Barrier = {
    if (!df.sparkSession.sessionState.planner.strategies.contains(MaterializedStrategy))
      throw new IllegalStateException("graft barriers need graft.GraftSparkExtensions " +
        "on the session: build it with GraftSession.builder or call GraftSession.enable")
    val qe = df.queryExecution
    val rel = df.localCheckpoint(eager).queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val computed = qe.optimizedPlan.transformWithSubqueries {
      case m: Materialized => m.copy(handle = m.handle.shown)
    }
    val executed = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    new Barrier(callSite(), rel, Some(computed),
      MaterializedExec.nested.withValue(true)(executed.treeString))
  }

  /** `File.scala:line` of the first caller outside this file and
    * outside Spark, Scala and the JDK: stable from build to build.
    */
  private def callSite(): String =
    Thread.currentThread.getStackTrace.iterator.find { f =>
      f.getFileName != "Pins.scala" &&
        !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(f.getClassName.startsWith)
    }.map(f => s"${f.getFileName}:${f.getLineNumber}").getOrElse("?")
}

/** A materialized frame in a logical plan: a leaf, like the `LogicalRDD`
  * of a `localCheckpoint`, so iterative callers never re-optimize a
  * growing tree, and it carries that relation's statistics, constraints,
  * partitioning and ordering. The plan it computed shows as an inner
  * child. Equal only to itself under the same [[Barrier]], so two reads
  * of one barrier may share an exchange and two barriers never do.
  */
case class Materialized(output: Seq[Attribute], handle: Barrier)
    extends LeafNode with MultiInstanceRelation {

  override def producedAttributes = outputSet

  override def newInstance(): Materialized = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = {
    val stats = handle.relation.computeStats()
    stats.copy(attributeStats = AttributeMap(stats.attributeStats.toSeq.map {
      case (a, s) => handle.onto(output)(a) -> s
    }))
  }

  override lazy val constraints: ExpressionSet =
    ExpressionSet(handle.relation.constraints.map(handle.onto(output)))

  override protected def doCanonicalize(): LogicalPlan =
    copy(output = output.map(QueryPlan.normalizeExpressions(_, output)))

  override def innerChildren: Seq[QueryPlan[_]] = handle.computed.toSeq

  override protected def stringArgs: Iterator[Any] = Iterator(output, handle)
}

/** Reads a [[Barrier]]'s blocks. Prints the executed plan of what the
  * barrier computed under its own line.
  */
case class MaterializedExec(output: Seq[Attribute], handle: Barrier)
    extends LeafExecNode with InputRDDCodegen {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = handle.relation.outputPartitioning match {
    case e: Expression => handle.onto(output)(e).asInstanceOf[Partitioning]
    case p => p
  }

  override def outputOrdering: Seq[SortOrder] =
    handle.relation.outputOrdering.map(handle.onto(output))

  override def inputRDD: RDD[InternalRow] = handle.relation.rdd

  override protected val createUnsafeProjection: Boolean = true

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val rowSchema = schema
    handle.relation.rdd.mapPartitionsWithIndex { (index, iter) =>
      val proj = UnsafeProjection.create(rowSchema)
      proj.initialize(index)
      iter.map { r => numOutputRows += 1; proj(r) }
    }
  }

  override protected def doCanonicalize(): SparkPlan =
    copy(output = output.map(QueryPlan.normalizeExpressions(_, output)))

  override protected def stringArgs: Iterator[Any] = Iterator(output, handle)

  override def generateTreeString(
      depth: Int, lastChildren: java.util.ArrayList[Boolean], append: String => Unit,
      verbose: Boolean, prefix: String, addSuffix: Boolean, maxFields: Int,
      printNodeId: Boolean, printOutputColumns: Boolean, indent: Int): Unit = {
    super.generateTreeString(depth, lastChildren, append, verbose, prefix, addSuffix,
      maxFields, printNodeId, printOutputColumns, indent)
    if (!MaterializedExec.nested.value && handle.executed.nonEmpty) {
      // laid out as an inner child, the way InMemoryRelation shows its plan
      val pad = "   " * indent +
        (0 until lastChildren.size).map(i => if (lastChildren.get(i)) "   " else ":  ").mkString + "   "
      handle.executed.linesIterator.zipWithIndex.foreach { case (line, i) =>
        append(pad + (if (i == 0) "+- " else "   ") + line + "\n")
      }
    }
  }
}

private[ops] object MaterializedExec {
  /** Set while a barrier's executed plan is rendered: the barriers it
    * reads print their own line only, so the text stays one level deep.
    */
  val nested = new scala.util.DynamicVariable(false)
}

/** Plans [[Materialized]]; injected by `graft.GraftSparkExtensions`. */
object MaterializedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: Materialized => MaterializedExec(m.output, m.handle) :: Nil
    case _ => Nil
  }
}
