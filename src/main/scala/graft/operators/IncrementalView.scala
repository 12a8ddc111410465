package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q

/** Incremental view maintenance from a change feed — the consumer side
  * of [[MorTable.changes]]: a derived grouped aggregate (per-group
  * SUM + COUNT; AVG is their ratio) kept current by applying each
  * feed batch's SIGNED contributions, never by recomputing from the
  * base table. insert/update_post rows add (+value, +1);
  * delete/update_pre rows subtract (−value, −1) — which is why the
  * feed must be the preimage-emitting variant: a postimage-only
  * update cannot be subtracted. This is the classic delta-propagation
  * rule for distributive aggregates (view maintenance as in the
  * materialized-view literature), running on the same [[DeltaStore]]
  * mechanics as [[IncrementalStats]]: each feed batch appends one
  * tiny additive delta (rows = touched groups), the current view is
  * the fold of live deltas, and compaction folds history away.
  *
  * Values fold as DECIMAL (exact, order-independent — a double sum
  * would be engine- and partitioning-order-dependent); groups whose
  * membership nets to zero vanish from the view.
  *
  * At 100 TB the point is the cost model: maintaining the view costs
  * O(changed slice) per batch ([[MorTable.changes]]'s contract)
  * instead of O(table) per refresh.
  */
final case class IncrementalView(store: DeltaStore, groupSchema: StructType)
    extends Maintained {
  import IncrementalView._

  private def keys: Seq[String] = groupSchema.fieldNames.toSeq

  /** Apply one change-feed batch: `feed` carries the group columns, an
    * `op` column (insert / delete / update_pre / update_post — the
    * preimage variant of [[MorTable.changes]]), and `valueCol`. An
    * unknown op fails the job (raise_error), not silently mis-signs. */
  def applyFeed(feed: DataFrame, valueCol: String, batchId: Int): Unit = {
    val sgn = when(col("op").isin("insert", "update_post"), lit(1))
      .when(col("op").isin("delete", "update_pre"), lit(-1))
      .otherwise(raise_error(concat(lit("unknown change-feed op: "), col("op"))))
    val delta = feed
      .select(keys.map(col) :+ sgn.as("sgn") :+ col(valueCol).as("v"): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(Q.dec2(col("v")).cast(DecimalType(28, 2)) * col("sgn")).as("vsum"),
        sum(col("sgn").cast("long")).as("cnt"))
      .select(keys.map(col) :+
        col("vsum").cast(DecimalType(28, 2)) :+ col("cnt"): _*)
    store.append(
      delta.withColumn("gbucket", store.gb(groupStruct(keys))),
      batchId, within = keys.map(col))
  }

  /** The current view: fold of the live additive deltas; groups whose
    * membership netted to zero are gone. */
  def view(spark: SparkSession): DataFrame =
    fold(store.read(spark, schema(groupSchema), None), keys)

  /** Fold history into one base row per surviving group. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, schema(groupSchema), groupStruct(keys),
      all => fold(all, keys), upTo)
}

object IncrementalView {

  /** Stored partial: the caller's group columns + (vsum, cnt). */
  def schema(groupSchema: StructType): StructType =
    StructType(groupSchema.fields.toSeq :+
      StructField("vsum", DecimalType(28, 2)) :+
      StructField("cnt", LongType))

  private def groupStruct(groupCols: Seq[String]) =
    struct(groupCols.map(col): _*)

  private def fold(partials: DataFrame, groupCols: Seq[String]): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("vsum")).cast(DecimalType(28, 2)).as("vsum"),
        sum(col("cnt")).as("cnt"))
      .where(col("cnt") > 0)
}
