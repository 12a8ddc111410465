package graft.streaming

import graft.operators.{DeltaStore, MorTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The reference's daily cron -> upsert -> monthly-rollup loop
  * (daily_fetch.py:17-54 -> db.py:113-133 -> db.py:150-197): the
  * coin_history table and its monthly min/max rollup, kept as two
  * last-write-wins [[MorTable]]s on [[DeltaStore]] — the table keyed on
  * (coin_id, fetch_date) under `tableDir`, the rollup on (coin_id,
  * year, month) under `rollupDir`.
  *
  * Design (SURVEY.md §2.F): the reference accepts arbitrarily late data —
  * db.py:118-125 updates unconditionally — so the honest mapping is a
  * foreachBatch merge (no watermark: late rows always win), not a
  * watermarked stateful aggregation. Batch `batchId`:
  *   1. dedups the batch on (coin_id, fetch_date),
  *   2. upserts it into the table as delta `batchId`,
  *   3. recomputes the monthly min/max of ONLY the (coin, year, month)
  *      groups the batch touched, from every live table row in those
  *      groups (a late overwrite can lower a month's max, so the
  *      batch's own rows are not enough) — the incremental-view-
  *      maintenance behavior of db.py:162-189 as a targeted recompute,
  *   4. upserts those groups into the rollup as delta `batchId`.
  *
  * Exactly-once: both commits replace the delta of their batch id, so a
  * replay of batch `batchId` (a crash between the two commits, or a
  * stream re-delivering it from its checkpoint) rewrites what the
  * crashed attempt wrote and converges on the same state. Both tables
  * must advance in batch-id order, as a stream's micro-batches do.
  *
  * Scale notes: steps 2 and 4 write O(batch) bytes and read nothing.
  * Step 3 narrows the table's stored rows to the touched groups BEFORE
  * the last-write-wins fold ([[MorTable.snapshot]]'s `keep`), so the
  * fold and aggregate run over the touched slice only; the scan under
  * it still lists and reads every bucket, because the store buckets by
  * the hash of (coin_id, fetch_date), which no (coin, month) group
  * prunes. The tables get no compaction policy here: every batch adds
  * one delta to each, so read cost grows with the number of batches
  * until [[MorTable.compact]] folds them.
  *
  * `schema` is the batches' coin_history shape; the rollup's schema is
  * derived from it.
  */
final case class IncrementalRollup(tableDir: String, rollupDir: String,
                                   schema: StructType) {
  val table = MorTable(DeltaStore(tableDir), Seq("coin_id", "fetch_date"), schema)
  val rollup = MorTable(DeltaStore(rollupDir), Seq("coin_id", "year", "month"),
    new StructType()
      .add(schema("coin_id"))
      .add("year", IntegerType)
      .add("month", IntegerType)
      .add("min_price_usd", schema("price_usd").dataType)
      .add("max_price_usd", schema("price_usd").dataType))

  /** One micro-batch merge under `batchId`; also usable directly for
    * batch backfills, one call per batch in id order. */
  def mergeBatch(spark: SparkSession, batch0: DataFrame, batchId: Int): Unit = {
    if (batch0.isEmpty) return
    val batch = batch0.dropDuplicates("coin_id", "fetch_date")
    table.upsert(batch, batchId)

    val touched = batch.select(
      col("coin_id"),
      year(col("fetch_date")).as("year"),
      month(col("fetch_date")).as("month")).distinct()
    // year and month are functions of fetch_date, so every version of a
    // key passes this filter or fails it together
    val fresh = table.snapshot(spark, _
        .withColumn("year", year(col("fetch_date")))
        .withColumn("month", month(col("fetch_date")))
        .join(broadcast(touched), Seq("coin_id", "year", "month"), "left_semi"))
      .where(col("price_usd").isNotNull)
      .groupBy(
        col("coin_id"),
        year(col("fetch_date")).as("year"),
        month(col("fetch_date")).as("month"))
      .agg(
        min(col("price_usd")).as("min_price_usd"),
        max(col("price_usd")).as("max_price_usd"))
    rollup.upsert(fresh, batchId)
  }

  /** The rollup as of the last merge: (coin_id, year, month,
    * min_price_usd, max_price_usd). */
  def monthly(spark: SparkSession): DataFrame = rollup.snapshot(spark)
}

object IncrementalRollup {

  /** Start the stream. `input` is a streaming DataFrame in coin_history
    * shape (coin_id, fetch_date, price_usd, ...). Trigger.AvailableNow
    * gives exactly the reference's daily-batch semantics when kicked by
    * cron. */
  def start(spark: SparkSession, input: DataFrame, tableDir: String,
            rollupDir: String, checkpointDir: String,
            availableNow: Boolean = true): StreamingQuery = {
    val r = IncrementalRollup(tableDir, rollupDir, input.schema)
    val writer = input.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        r.mergeBatch(spark, batch, Replay.batchId(id))
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
