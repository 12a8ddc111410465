package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental table statistics — the ANALYZE-maintenance story. A
  * planner's stats (min/max/null-count/row-count per column; what
  * drives partition pruning, join sizing, and this engine's own
  * table-stats caches like `embCount`) must not cost a full-table
  * scan per ingest batch at 100 TB. Every statistic kept here is
  * MERGEABLE: min of mins, max of maxes, sums of counts — so each
  * batch contributes one tiny partial-profile delta (rows = columns
  * profiled, bytes independent of batch size beyond the one scan that
  * computes it) appended to a [[DeltaStore]], and the current profile
  * is the fold of the live deltas. Compaction folds history into a
  * base exactly as the data tables do.
  *
  * Batches must PARTITION the table (each row counted once) — the
  * same contract as any additive accumulator; upsert-style overlap
  * belongs in [[MorTable]], whose snapshot can be profiled instead.
  *
  * Load-bearing consumer: a profile stored at the `<dir>/_stats`
  * convention location of an embeddings dir is read by
  * `SimilarityQueries.embCount` to resolve the adaptive sign-key
  * width without a footer-count job — the first planner decision in
  * this engine driven by maintained statistics rather than a scan.
  */
final case class IncrementalStats(store: DeltaStore) extends Maintained {
  import IncrementalStats._

  /** Scan `batch` once (stack unpivots the profiled columns into
    * (col_name, value) pairs inside the same codegen stage) and
    * append the per-column partials as the delta for `batchId`. */
  def appendBatch(batch: DataFrame, cols: Seq[String], batchId: Int): Unit = {
    // column names are spliced into a SQL expression — refuse anything
    // that is not a plain identifier rather than mis-parse it
    require(cols.nonEmpty && cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"profiled columns must be plain identifiers: $cols")
    // the profile casts to double — a non-numeric column would silently
    // profile as all-null (nulls == cnt, mn/mx null) and feed a planner
    // wrong null fractions with no signal, so refuse it up front
    cols.foreach { c =>
      val f = batch.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"profiled column $c is not in the batch schema: ${batch.schema.fieldNames.mkString(", ")}"))
      require(f.dataType.isInstanceOf[NumericType] || f.dataType == BooleanType,
        s"profiled column $c has non-numeric type ${f.dataType.simpleString}")
    }
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', cast($c as double)").mkString(", ") +
      ") as (col_name, v)"
    val partial = batch
      .select(expr(stackExpr))
      .groupBy("col_name")
      .agg(
        min(col("v")).as("mn"),
        max(col("v")).as("mx"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls"),
        count(lit(1)).as("cnt"))
    store.append(
      partial.withColumn("gbucket", store.gb(col("col_name"))),
      batchId, within = Seq(col("col_name")))
  }

  /** The current profile: fold of all live partials. */
  def profile(spark: SparkSession): DataFrame =
    fold(store.read(spark, schema, None))

  /** Fold history into one base row per column. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, schema, col("col_name"), fold, upTo)
}

object IncrementalStats {

  /** One partial-profile row per (column, batch). */
  val schema: StructType = StructType(Seq(
    StructField("col_name", StringType),
    StructField("mn", DoubleType),
    StructField("mx", DoubleType),
    StructField("nulls", LongType),
    StructField("cnt", LongType)))

  private def fold(partials: DataFrame): DataFrame =
    partials.groupBy("col_name").agg(
      min(col("mn")).as("mn"),
      max(col("mx")).as("mx"),
      sum(col("nulls")).as("nulls"),
      sum(col("cnt")).as("cnt"))
}
