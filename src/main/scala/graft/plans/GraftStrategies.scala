package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy lowering the engine's custom logical operators to
  * their physical implementations — the [[AsOfJoinPlan]] →
  * [[AsOfJoinExec]] and [[BandJoinPlan]] → [[BandJoinExec]] hops.
  * Injected by [[graft.GraftExtensions]] via
  * `injectPlannerStrategy`, so any session built through
  * [[graft.Sessions]] (or a SQL user setting `spark.sql.extensions`)
  * plans the operator without code changes.
  */
object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, payload, payloadOut,
        broadcast, forward, nearest, tolerance, strict) =>
      if (broadcast.getOrElse(fitsBroadcast(r, SQLConf.get)))
        BroadcastAsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
          payload, payloadOut, forward, nearest, tolerance, strict) :: Nil
      else
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
          payload, payloadOut, forward, nearest, tolerance, strict) :: Nil
    case BandJoinPlan(l, r, lk, rk, lt, rt, lo, hi, payload, payloadOut,
        broadcast, leftOuter) =>
      if (broadcast.getOrElse(fitsBroadcast(r, SQLConf.get)))
        BroadcastBandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
          lo, hi, payload, payloadOut, leftOuter) :: Nil
      else
        BandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt,
          lo, hi, payload, payloadOut, leftOuter) :: Nil
    case _ => Nil
  }

  /** The strategy of an unhinted custom join (`broadcast = None`),
    * decided like Spark's JoinSelection: broadcast when the right
    * side's logical size estimate fits under
    * `spark.sql.autoBroadcastJoinThreshold` (<= 0 disables broadcast). */
  private[graft] def fitsBroadcast(right: LogicalPlan, conf: SQLConf): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold > 0 && right.stats.sizeInBytes <= threshold
  }
}
