package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-MAINTAINED mergeable sketches — the property that makes
  * sketches useful at 100 TB is not approximation, it is MERGEABILITY:
  * each ingest batch contributes O(sketch)-sized state (never O(batch
  * keys)) and the union of contributions equals the one-shot sketch
  * EXACTLY, because every component merges losslessly:
  *
  *   - `cms`  (d, b, c): count-min cells are ADDITIVE — the fold is a
  *     sum by (depth, bucket), 3x64 rows however big the corpus;
  *   - `grid` (event_type, g, c): ε-grid histogram cells, additive;
  *   - `kmv`  (event_type, h): k-minimum-values — each batch keeps its
  *     own <= k smallest DISTINCT hashes per type, and the k smallest
  *     of the union of per-batch k-smallest sets equal the k smallest
  *     of the full corpus (any corpus-global top-k hash is top-k
  *     within its own batch). Duplicate hashes across batches collapse
  *     under the read-side DISTINCT, so the k-th order statistic —
  *     and the estimate — is bit-identical to the one-shot build.
  *
  * That exact-merge property is what lets the q181 registry entry be
  * gated by q44's one-shot DuckDB oracle VERBATIM (the q109/q114/q171
  * move). State is ONE grouped [[DeltaStore]]: a batch's three sketch
  * slices land in one atomic commit, so no reader ever sees the CMS at
  * a different batch horizon than the KMV it cross-checks.
  *
  * Hash/seed constants mirror q44 (ExtraQueries.scala) exactly — the
  * sketches are the SAME sketches, maintained instead of rebuilt.
  */
final case class SketchIndex(root: String) extends Maintained {
  import SketchIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Sketch one batch of events and append all three slices as ONE
    * grouped atomic delta — O(sketch) rows, no reads of stored state. */
  def appendBatch(spark: SparkSession, events: DataFrame, batchId: Int): Unit = {
    store.heal()
    val base = events.select(col("event_type"), etkCol.as("etk"),
      col("user_id"), col("value"))
    val perType = base.groupBy("event_type")
      .agg(min(col("etk")).as("etk"), count(lit(1)).as("n"))
    val cms = perType
      .select(explode(array(seeds.zipWithIndex.map { case ((a, b0), i) =>
        struct(lit(i).as("d"),
          pmod(pmod(lit(a) * col("etk") + lit(b0), lit(P)), lit(W)).as("b"),
          col("n").as("c"))
      }: _*)).as("r"))
      .select(col("r.d").as("d"), col("r.b").as("b"), col("r.c").as("c"))
      .groupBy("d", "b").agg(sum(col("c")).as("c"))
      .withColumn("tbl", lit("cms"))
    val grid = base
      .groupBy(col("event_type"),
        floor(col("value") * lit(2.0)).cast(LongType).as("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("tbl", lit("grid"))
    val wk = Window.partitionBy("event_type").orderBy("h")
    val kmv = base
      .select(col("event_type"),
        pmod(lit(950706376L) * col("user_id") + lit(12345L), lit(P)).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(wk))
      .where(col("rn") <= K).drop("rn")
      .withColumn("tbl", lit("kmv"))
    val union = cms
      .unionByName(grid, allowMissingColumns = true)
      .unionByName(kmv, allowMissingColumns = true)
    store.appendTables(union.withColumn("gbucket", store.gb(gkey)),
      batchId, within = Seq(gkey))
  }

  /** Fold all three slices into one base in one atomic grouped commit —
    * additive sums for cms/grid, distinct-keep-k-min for kmv. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("cms", cmsSchema, col("b"),
        (df: DataFrame) => df.groupBy("d", "b").agg(sum(col("c")).as("c"))),
      ("grid", gridSchema, col("event_type"),
        (df: DataFrame) =>
          df.groupBy("event_type", "g").agg(sum(col("c")).as("c"))),
      ("kmv", kmvSchema, col("event_type"),
        (df: DataFrame) => {
          val w = Window.partitionBy("event_type").orderBy("h")
          df.distinct().withColumn("rn", row_number().over(w))
            .where(col("rn") <= K).drop("rn")
        })), upTo)

  /** The maintained CMS cells (d, b, c) — live deltas carry partial
    * counts, folded with the same sum [[compact]] bakes in. */
  def cms(spark: SparkSession): DataFrame =
    store.read(spark, cmsSchema, None, table = Some("cms"))
      .groupBy("d", "b").agg(sum(col("c")).as("c"))

  /** The maintained ε-grid cells (event_type, g, c). */
  def grid(spark: SparkSession): DataFrame =
    store.read(spark, gridSchema, None, table = Some("grid"))
      .groupBy("event_type", "g").agg(sum(col("c")).as("c"))

  /** The maintained distinct KMV hash pool (event_type, h) — per-batch
    * k-smallest sets, duplicates collapsed; the serve side takes the
    * k-th order statistic. */
  def kmv(spark: SparkSession): DataFrame =
    store.read(spark, kmvSchema, None, table = Some("kmv"))
      .distinct()
}

object SketchIndex {

  val P = 2147483647L // 2^31 - 1
  val W = 64L         // CMS width
  val K = 16          // KMV k
  val seeds: Seq[(Long, Long)] =
    Seq((1000003L, 12345L), (999983L, 54321L), (1000033L, 98765L))

  private val cmsSchema = StructType(Seq(
    StructField("d", IntegerType), StructField("b", LongType),
    StructField("c", LongType)))
  private val gridSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("g", LongType),
    StructField("c", LongType)))
  private val kmvSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("h", LongType)))

  /** q44's integer type key — a pure function of the type string, so
    * batch-local bucket assignment equals one-shot assignment. */
  def etkCol: org.apache.spark.sql.Column =
    (ascii(substring(col("event_type"), 1, 1)) * 961 +
      ascii(substring(col("event_type"), 2, 1)) * 31 +
      length(col("event_type"))).cast(LongType)

  private def gkey = coalesce(col("event_type"), col("b").cast(StringType))
}
