package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained ADDITIVE CELL TABLES — the state behind
  * the distribution-statistics tier (chi-square contingency cells,
  * Kendall/Spearman (x, y) value-pair cells, KS/Mann-Whitney value
  * counts). Those statistics all reduce to a BOUNDED-DOMAIN table of
  * per-cell counts (the q211/q213/q215/q218/q223 recipe: quantize to a
  * small value domain, count per cell, compute the statistic from the
  * dim-sized cell table — never row pairs), and cell counts are
  * PURELY ADDITIVE across batches:
  *
  *   cells(A ∪ B) = cells(A) ⊎ cells(B)   (sum by key)
  *
  * — the cheapest maintenance fold in the engine (the [[SketchIndex]]
  * shape, without even a merge rule to prove: sum-by-key IS the
  * definition). The one-shot statistic is its report over the
  * UNFOLDED row-grain cells (no index at all), and maintained cells sum
  * to exactly those cells, which is what lets the incremental and
  * streaming deployments (q226–q244, `graft.queries.CellStat`) reuse the
  * one-shot queries' DuckDB oracles VERBATIM — the statistic's
  * arithmetic runs unchanged on the folded table.
  *
  * Per batch: ONE map-combined grouped count to O(cells) rows (cells
  * are dim-sized by construction — the batch never lands raw), ONE
  * atomic [[DeltaStore]] delta. The read side sums live deltas by
  * key; [[compact]] bakes the same fold into a base. Neither append
  * performs reads of stored state, so a checkpoint replay rewrites
  * its delta from the batch alone — bit-identical, and safe to drive
  * from foreachBatch with batch id as the delta id (the q221/q225
  * streaming contract).
  *
  * The schema names the cell KEY columns plus the value columns
  * `valueCols`: a single LONG count `c` for cell counts (the default),
  * or exact additive SUMS — LONG counts or cents, DECIMAL moment sums —
  * for the moment tables behind revenue concentration's per-customer
  * cents and the correlation matrix's moment row. Sums of sums equal
  * the one-shot sums exactly, and each value column's sum is cast back
  * to its DECLARED schema type, so the fold's width discipline is the
  * schema's (document the ceiling where the query does). Key columns
  * must be non-null (quantized keys are — a nullable dimension needs an
  * explicit sentinel before indexing, or its rows silently form a null
  * cell).
  */
final case class StatCellIndex(root: String, schema: StructType,
                               valueCols: Seq[String] = Seq("c"))
    extends Maintained {

  val store: DeltaStore = DeltaStore(root)

  private val keys = schema.fieldNames.toSeq.filterNot(valueCols.contains)

  /** Per-key sum of each value column, cast to its schema type — the
    * read-side merge and the [[compact]] fold. */
  private def fold(df: DataFrame): DataFrame = {
    val sums = valueCols.map(v => sum(col(v)).cast(schema(v).dataType).as(v))
    df.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  private def land(cells: DataFrame, batchId: Int): Unit =
    store.append(cells.withColumn("gbucket", store.gb(struct(keys.map(col): _*))),
      batchId, within = keys.map(col))

  /** Count one batch's rows into cells (the key columns) and append as
    * the delta for `batchId` — one grouped aggregate, one atomic commit,
    * no reads of stored state. The count variant only: its count is
    * NOT NULL, so its delta files carry a required `c` where
    * [[appendAgg]]'s nullable sum writes an optional one. */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Int): Unit = {
    require(valueCols == Seq("c"), s"appendBatch counts into c, not $valueCols")
    store.heal()
    land(batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("c")), batchId)
  }

  /** Sum one batch's rows into per-key value sums and append as the
    * delta for `batchId`. `batch` carries the key columns plus row-grain
    * addends for each value column (`lit(1L)` for a count). */
  def appendAgg(spark: SparkSession, batch: DataFrame, batchId: Int): Unit = {
    store.heal()
    land(fold(batch), batchId)
  }

  /** The maintained table: keys plus each value column summed over live
    * state — identical to the one-shot grouped count or sums of
    * everything appended. */
  def cells(spark: SparkSession): DataFrame =
    fold(store.read(spark, schema, None))

  /** Fold live deltas into one base with the same per-key sums. The
    * fold is ADDITIVE: a crashed batch's own delta folded into a base
    * would double-count on replay, hence [[Maintained]]'s horizon. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, schema, struct(keys.map(col): _*), fold, upTo)
}
