package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine: everything a session needs for this repo's SQL and plans,
  * in ONE list —
  *  - the optimizer rules [[RangeJoinBinRewrite]], [[ZoneMapPrune]]
  *    (file skipping from manifest metadata) and
  *    [[LakeAggregateFromManifest]] (counts and extrema from it);
  *  - the [[DeferredEffect]] planner strategy;
  *  - the Timestream dialect's functions ([[graft.functions.Dialect]]);
  *  - the pipeline table functions ([[graft.functions.PipelineSql]]);
  *  - the session confs in [[GraftExtensions.Confs]].
  *
  * Two entry points apply it:
  *  - clusters: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (plus the [[GraftExtensions.Confs]] as `--conf`s: the extension API
  *    has no hook for session confs);
  *  - a session that already exists: [[graft.GraftSession.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(RangeJoinBinRewrite(_))
    ext.injectOptimizerRule(ZoneMapPrune(_))
    ext.injectOptimizerRule(_ => LakeAggregateFromManifest)
    ext.injectPlannerStrategy(_ => DeferredEffect.Strategy)
    def info(name: String) = new ExpressionInfo(classOf[GraftExtensions].getName, name)
    graft.functions.Dialect.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    graft.functions.PipelineSql.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info(name), builder))
    }
  }
}

object GraftExtensions {
  /** Session confs the engine needs: events.parquet's TIMESTAMP(NANOS)
    * `ts` is read as a long and normalized by [[graft.Tables.events]]. */
  val Confs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")
}
