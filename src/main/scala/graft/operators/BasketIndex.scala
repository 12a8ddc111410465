package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental ASSOCIATION-RULE state — q198's market-basket counts
  * (pair support / confidence / lift over per-order brand sets) kept
  * up to date under appended order lines.
  *
  * The obstacle to a plain additive fold is the DISTINCT: an order's
  * brand set, not its line rows, defines the pairs, and an order's
  * lines can straddle batches — a line in wave 2 pairs with a brand
  * the same order bought in wave 0, and a re-purchased brand must not
  * recount. So the state keeps the MEMBERSHIP set itself,
  * `mem (ok, brand)`, hash-bucketed by order key, and each wave
  * derives its truly-new memberships with one bucket-pruned anti-join
  * (an order's rows all share its bucket — exact, the [[TriIndex]]
  * discipline).
  *
  * From the fresh memberships the PAIR DELTA is exact and disjoint by
  * construction: a pair instance (ok, a, b) is new iff ≥1 of its two
  * memberships is fresh — fresh x stored covers exactly-one-fresh,
  * fresh x fresh from the < side covers both-fresh, and both-stored
  * instances were counted by the wave that completed them; one join
  * of fresh against prior ∪ fresh emits each instance once. Pair
  * counts, brand counts (fresh memberships per brand), and the
  * distinct-order count (batch orders with no stored membership) are
  * then PURELY ADDITIVE — the [[StatCellIndex]] fold — and all four
  * tables commit in ONE atomic grouped delta of O(batch +
  * batch-pairs) rows; stored rows are never rewritten.
  *
  * Reads exclude the wave's own delta, so a checkpoint replay derives
  * the same fresh set and replaces its delta identically — the
  * q221/q225 streaming contract (and as there, bit-identical replay
  * holds only while the wave's delta is live: compact at the START of
  * the next batch, never between the fold and its checkpoint commit).
  *
  * Scale: the per-wave read is O(touched orders' buckets), the write
  * O(batch); the report aggregates the pair/brand/order tables —
  * brand-pair-dim-sized, never the corpus. Reference analog:
  * sql/analysis_queries.sql's co-occurrence matrix family (README
  * query 7) generalized to support/confidence/lift.
  */
final case class BasketIndex(root: String) extends Maintained {
  import BasketIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Fold one wave of (order, brand) line rows (duplicates fine) into
    * the maintained counts: one bucket-pruned membership read, one
    * atomic grouped commit of fresh memberships + pair/brand/order
    * count deltas. */
  def appendWave(spark: SparkSession, batch: DataFrame, waveId: Int): Unit = {
    store.heal()
    // REPARTITION-ONCE discipline: the membership distinct, the fresh
    // anti-join on (ok, brand), the pair join on ok, and the new-order
    // distinct all require clustering by a key set CONTAINING ok, and
    // HashPartitioning(ok) satisfies every one of them (Spark's subset
    // rule) — one exchange per side per wave, reused by every
    // downstream stage. (An order-grain collect_set formulation was
    // measured SLOWER at scale: the object-hash set aggregation cost
    // more than the whole-stage-codegen distinct + sort-merge joins it
    // replaced.)
    val b = batch.toDF("ok", "brand")
      .select(col("ok").cast(LongType).as("ok"), col("brand"))
      .repartition(col("ok"))
      .distinct()
    val tb = store.touched(b, col("ok"))
    onPrunedRead("mem", tb)
    // stored memberships, scan-pruned to the touched buckets — NOT
    // row-pruned further: every consumer below joins on ok, which
    // restricts to the batch's orders anyway, and a pre-filtering
    // semi-join costs a full extra exchange per wave. CACHED, not
    // checkpointed: the cache preserves the ok partitioning and the
    // consumers all feed the single grouped-commit write job (state
    // is parquet between waves — no lineage chain to cut).
    val prior = store.read(spark, memSchema, Some(tb),
        table = Some("mem"), excludeDelta = Some(waveId))
      .repartition(col("ok"))
      .cache()
    val fresh = b.join(prior, Seq("ok", "brand"), "left_anti")
      .cache()
    // pair instances completed by this wave: exactly-one-fresh ∪
    // both-fresh — disjoint (and both-stored was counted by the wave
    // that completed it), expressed as ONE join of fresh against
    // prior ∪ fresh: a stored partner pairs at any brand inequality,
    // a fresh partner only from the < side (else the instance would
    // emit twice)
    val partners = prior.withColumn("stored", lit(true))
      .unionByName(fresh.withColumn("stored", lit(false)))
    val pairDelta = fresh.as("f")
      .join(partners.as("m"),
        col("f.ok") === col("m.ok") &&
          (col("m.stored") && col("f.brand") =!= col("m.brand") ||
            !col("m.stored") && col("f.brand") < col("m.brand")))
      .select(least(col("f.brand"), col("m.brand")).as("brand_a"),
        greatest(col("f.brand"), col("m.brand")).as("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("c"))
    val brandDelta = fresh.groupBy("brand").agg(count(lit(1)).as("c"))
    // orders first seen this wave: no stored membership at all. An
    // order absent from fresh is wholly stored, so the batch's
    // candidate set is fresh's own orders.
    val ordDelta = fresh.select("ok").distinct()
      .join(prior.select("ok").distinct(), Seq("ok"), "left_anti")
      .agg(count(lit(1)).as("c")).select(lit(1).as("k"), col("c"))
    store.appendTables(
      fresh.withColumn("tbl", lit("mem"))
        .withColumn("gbucket", store.gb(col("ok")))
        .unionByName(pairDelta.withColumn("tbl", lit("pairs"))
          .withColumn("gbucket",
            store.gb(struct(col("brand_a"), col("brand_b")))),
          allowMissingColumns = true)
        .unionByName(brandDelta.withColumn("tbl", lit("brands"))
          .withColumn("gbucket", store.gb(col("brand"))),
          allowMissingColumns = true)
        .unionByName(ordDelta.withColumn("tbl", lit("ords"))
          .withColumn("gbucket", store.gb(col("k"))),
          allowMissingColumns = true),
      waveId, within = Seq(col("ok"), col("brand"), col("brand_a")))
    fresh.unpersist()
    prior.unpersist()
  }

  /** The maintained (brand_a, brand_b, n_ab) pair counts. */
  def pairs(spark: SparkSession): DataFrame =
    store.read(spark, pairSchema, None, table = Some("pairs"))
      .groupBy("brand_a", "brand_b").agg(sum("c").as("n_ab"))

  /** The maintained per-brand order counts. */
  def brands(spark: SparkSession): DataFrame =
    store.read(spark, brandSchema, None, table = Some("brands"))
      .groupBy("brand").agg(sum("c").as("n"))

  /** The maintained distinct-order count (single row). */
  def orderCount(spark: SparkSession): DataFrame =
    store.read(spark, ordSchema, None, table = Some("ords"))
      .agg(coalesce(sum("c"), lit(0L)).as("n_orders"))

  /** Fold deltas into one base: memberships are immutable rows
    * (identity fold — the anti-join already guarantees uniqueness);
    * the three count tables sum by key. One atomic grouped commit. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("mem", memSchema, col("ok"), (df: DataFrame) => df),
      ("pairs", pairSchema, struct(col("brand_a"), col("brand_b")),
        (df: DataFrame) => df.groupBy("brand_a", "brand_b")
          .agg(sum("c").as("c"))),
      ("brands", brandSchema, col("brand"),
        (df: DataFrame) => df.groupBy("brand").agg(sum("c").as("c"))),
      ("ords", ordSchema, col("k"),
        (df: DataFrame) => df.groupBy("k").agg(sum("c").as("c")))),
      upTo)
}

object BasketIndex {

  private val memSchema = StructType(Seq(
    StructField("ok", LongType), StructField("brand", StringType)))
  private val pairSchema = StructType(Seq(
    StructField("brand_a", StringType), StructField("brand_b", StringType),
    StructField("c", LongType)))
  private val brandSchema = StructType(Seq(
    StructField("brand", StringType), StructField("c", LongType)))
  private val ordSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("c", LongType)))

  /** Test seam: invoked on every pruned state read with (phase,
    * buckets-read); specs assert strict-subset reads. No-op in
    * production. */
  private[graft] var onPrunedRead: (String, Seq[Int]) => Unit = (_, _) => ()
}
