package graft

import graft.functions.FunctionRegistration
import graft.ops.MaterializedStrategy
import graft.plans.{PruneImpliedGuards, SpatialFilterPushdown}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Everything graft injects into a session: the geometry UDT, the SQL
  * functions, the two optimizer rules and the planner strategy for
  * `graft.ops.Pins` barriers. Enable with
  * `spark.sql.extensions=graft.GraftSparkExtensions` (what
  * [[GraftSession.builder]] sets), or apply to a session that already
  * exists with [[GraftSession.enable]]. Mirrors the reference's
  * `SpatialFilterPushdownOptimizations`
  * (reference: spatial-index/src/main/scala/com/azavea/hiveless/spark/sql/SpatialFilterPushdownOptimizations.scala:1).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.geom.GeometryUDT.init()
    FunctionRegistration.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder))
    }
    ext.injectOptimizerRule(_ => SpatialFilterPushdown)
    ext.injectOptimizerRule(_ => PruneImpliedGuards)
    ext.injectPlannerStrategy(_ => MaterializedStrategy)
  }
}
