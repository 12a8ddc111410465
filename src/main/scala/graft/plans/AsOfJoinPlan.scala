package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Logical backward as-of join — the whole-operator Catalyst tier of
  * [[graft.operators.AsOfJoin]]: for every left row, attach the payload
  * of the latest right row with the same key and
  * `rightTime <= leftTime` (null times sort smallest, mirroring the
  * union+window formulation's NULLS FIRST timeline).
  *
  * The node exists so the PLANNER, not the query author, picks the
  * physical strategy: [[GraftStrategies]] lowers it to [[AsOfJoinExec]],
  * a single co-partitioned sort-merge pass — one shuffle per side, no
  * union row inflation, no window state. Registered through
  * [[graft.GraftExtensions]] like every other engine extension.
  *
  * @param payload    right-side attributes to carry to the output
  * @param payloadOut the operator's OUTPUT attributes for the payload:
  *                   fresh expr-ids, forced nullable (a left row before
  *                   any right row yields an all-NULL payload)
  * @param broadcast  physical-strategy hint, mirroring Spark's join
  *                   hints: `Some(true)` plans [[BroadcastAsOfJoinExec]]
  *                   (right side broadcast as a sorted index, left side
  *                   never shuffled or sorted), `Some(false)` plans
  *                   [[AsOfJoinExec]] (co-partitioned sort-merge, both
  *                   sides spill-safe), and `None` lets the PLANNER
  *                   choose from the right side's size estimate vs
  *                   `spark.sql.autoBroadcastJoinThreshold` — the exact
  *                   rule Spark's JoinSelection applies to equi-joins
  * @param forward    direction: `false` = backward (latest right with
  *                   `rightTime <= leftTime`, the trade/quote shape);
  *                   `true` = forward (EARLIEST right with
  *                   `rightTime >= leftTime`, the next-event shape)
  * @param nearest    `true` = NEAREST semantics (the closer of the
  *                   backward/forward matches, tie → backward, pandas
  *                   merge_asof `direction='nearest'`) fused into ONE
  *                   physical pass — the execs track both candidates in
  *                   the same merge/probe that a single direction costs,
  *                   instead of composing two joins (two left
  *                   exchanges). Requires an integral- or
  *                   floating-backed time type (distance arithmetic);
  *                   [[graft.operators.AsOfJoin.asof]] plans the
  *                   composed two-join form otherwise.
  *                   Mutually exclusive with `forward`.
  * @param tolerance  bounded match distance (pandas
  *                   `merge_asof(tolerance=)`), in the time type's
  *                   NATIVE unit (micros for timestamps, days for
  *                   dates, raw for integrals — the band-join
  *                   convention): backward requires `lt − rt <= tol`,
  *                   forward `rt − lt <= tol`, and nearest bounds each
  *                   direction independently before picking the nearer
  *                   survivor. An out-of-bound (or null-time) match
  *                   yields a NULL payload, like no match at all.
  *                   Needs an integral-backed time type.
  * @param strict     pandas `merge_asof(allow_exact_matches=False)`:
  *                   a right row at EXACTLY the left time never
  *                   matches — backward requires `rt < lt`, forward
  *                   `rt > lt`, nearest excludes the exact-time row
  *                   from both directions (the lookahead-bias guard in
  *                   backtesting: a quote stamped AT the trade time
  *                   must not inform the trade). Composes with every
  *                   direction, strategy, and `tolerance`; works for
  *                   any ordered time type (it is a comparison flip,
  *                   not arithmetic). Null times order smallest, so
  *                   under `strict` a null-time LEFT row has no
  *                   backward match (nothing is strictly before null)
  *                   and its forward match is the key's first
  *                   NON-null-time right row.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    payloadOut: Seq[Attribute],
    broadcast: Option[Boolean] = None,
    forward: Boolean = false,
    nearest: Boolean = false,
    tolerance: Option[Long] = None,
    strict: Boolean = false)
  extends BinaryNode {

  require(!(forward && nearest),
    "as-of join direction is backward, forward OR nearest — not both")
  require(tolerance.forall(_ >= 0L), "as-of tolerance must be >= 0")

  override def output: Seq[Attribute] = left.output ++ payloadOut

  /** payloadOut is minted HERE — without this, `missingInput` would flag
    * the fresh attributes as unresolved references. */
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}
