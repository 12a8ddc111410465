package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col

/** The analyzed children and bound columns of one custom time join
  * ([[AsOfJoinPlan]], [[BandJoinPlan]]). `payloadOut` holds the join's
  * output attributes for the payload: fresh exprIds, forced nullable
  * (an unmatched left row carries a NULL payload). */
private[graft] final case class TimeJoinInputs(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    payload: Seq[Attribute],
    payloadOut: Seq[Attribute])

private[graft] object TimeJoinInputs {

  /** Lowers a DataFrame-level time join to the logical node `node`
    * builds from the bound inputs. The right time column is cast to
    * the left's type when they differ (e.g. DATE → TIMESTAMP_NTZ). A
    * right side derived from the SAME scan as the left (the q93
    * attribution shape: purchases filtered out of events) shares its
    * attributes' exprIds, so it is re-aliased to fresh ones
    * ([[PlanDedup]]) before the key/time/payload lookups bind to it,
    * as the Analyzer's DeduplicateRelations does for ordinary joins. */
  def lower(left: DataFrame, right: DataFrame,
            leftKeys: Seq[String], rightKeys: Seq[String],
            leftTime: String, rightTime: String,
            payload: Seq[String])
           (node: TimeJoinInputs => LogicalPlan): DataFrame = {
    val lType = left.schema(leftTime).dataType
    val r0 =
      if (right.schema(rightTime).dataType == lType) right
      else right.withColumn(rightTime, col(rightTime).cast(lType))
    val lPlan = left.queryExecution.analyzed
    val rPlan = PlanDedup.freshRight(lPlan, r0.queryExecution.analyzed)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$n' in ${p.output.map(_.name)}"))
    val payloadAttrs = payload.map(attr(rPlan, _))
    val payloadOut = payloadAttrs.map(a =>
      AttributeReference(a.name, a.dataType, nullable = true)())
    GraftPlanApi.ofRows(left.sparkSession, node(TimeJoinInputs(
      lPlan, rPlan, leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime), payloadAttrs, payloadOut)))
  }
}
