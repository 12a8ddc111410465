package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental bigram-LM COUNT maintenance — the model half of the
  * q169 fluency filter, maintained the way a production corpus grows:
  * each ingest batch contributes its bigram/prefix counts ONCE
  * (O(batch) work) and scoring serves from the maintained model; the
  * corpus is never re-counted. Counts are ADDITIVE, so (a) a batch's
  * contribution is a batch-local aggregate — no read of stored state
  * on the write path at all, the cheapest possible maintenance
  * shape — and (b) the compact fold is a sum-by-key, which makes
  * incremental maintenance equal one-shot recompute EXACTLY. That
  * equality is what lets the q171 registry entry reuse q169's DuckDB
  * oracle verbatim (the q109/q114 move: one green row certifies the
  * ingest protocol, delta/base covering, the mid-stream compact, and
  * the served scoring end-to-end).
  *
  * State: ONE grouped-commit [[DeltaStore]] holding BOTH count tables
  * (`bi`: bigram -> count, `uni`: prefix unigram -> count) — a batch's
  * two delta slices land in one atomic commit (`appendTables`), so the
  * model can never be half-advanced: a crash between "bi committed"
  * and "uni committed" cannot exist, and P(w2|w1) ratios always read
  * numerator and denominator from the same batch horizon.
  */
final case class LmIndex(root: String) extends Maintained {
  import LmIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Count one batch's bigram stream (`bi` string, `w1` string — one
    * row per bigram OCCURRENCE) and append both count tables as the
    * delta for `batchId` in one grouped atomic commit. */
  def appendBatch(spark: SparkSession, docBi: DataFrame, batchId: Int): Unit = {
    store.heal()
    val biC = docBi.groupBy(col("bi").as("k"))
      .agg(count(lit(1)).cast(LongType).as("c"))
      .withColumn("tbl", lit("bi"))
    val uniC = docBi.groupBy(col("w1").as("k"))
      .agg(count(lit(1)).cast(LongType).as("c"))
      .withColumn("tbl", lit("uni"))
    store.appendTables(
      biC.unionByName(uniC).withColumn("gbucket", store.gb(col("k"))),
      batchId, within = Seq(col("k")))
  }

  /** The maintained count table (`k`, `c`): live deltas carry PARTIAL
    * per-batch counts, so the read folds them with a sum-by-key — the
    * same fold [[compact]] bakes into the base. */
  def counts(spark: SparkSession, table: String): DataFrame =
    sumByKey(store.read(spark, kcSchema, None, table = Some(table)))

  /** Fold both tables' deltas into one base in one atomic grouped
    * commit (sum-by-key — the additive fold). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("bi", kcSchema, col("k"), sumByKey _),
      ("uni", kcSchema, col("k"), sumByKey _)), upTo)
}

object LmIndex {

  private val kcSchema = StructType(Seq(
    StructField("k", StringType), StructField("c", LongType)))

  private def sumByKey(df: DataFrame): DataFrame =
    df.groupBy("k").agg(sum(col("c")).as("c"))
}
