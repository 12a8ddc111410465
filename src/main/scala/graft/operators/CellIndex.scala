package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental IVF LIST maintenance — the inverted-file counterpart of
  * [[CodeIndex]]'s PQ codes, closing the last inline-recompute in the
  * ANN family: a production IVF deployment assigns each ingest batch to
  * its coarse cell ONCE and serves every query from the maintained
  * (vec_id -> cell) lists; it never re-assigns the corpus.
  *
  * A vector's cell depends only on its own embedding and the FROZEN
  * quantizer — the deterministic sign-plane key (q49's
  * `signKeyLowExpr`, width fixed at index creation exactly like
  * [[EmbIndex]]'s band width) or a loaded k-means model
  * ([[graft.ml.IvfIndex.buildOrLoad]] — assignments are a pure map of
  * the frozen centroids). Either way incremental assignments equal
  * one-shot assignments EXACTLY, so the maintained lists are
  * bit-compatible with the inline pipeline — which is what lets the
  * q114 registry entry reuse q49's DuckDB oracle verbatim (the same
  * move q109 made with q98's), and what IvfSpec pins for the learned
  * path.
  *
  * State is one [[DeltaStore]] of (vec_id, cell) bucketed on the
  * vector id: each batch appends O(batch) rows in one atomic commit;
  * [[compact]] folds deltas into a base (rows are immutable — identity
  * fold); replay replaces the batch's own delta. Serving reads ONLY
  * this store plus the query vectors; probe work stays
  * nprobe x occupancy bounded as the corpus grows, and maintenance is
  * O(batch).
  */
final case class CellIndex(root: String) extends Maintained {
  import CellIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Assign one batch of vectors (`vec_id` long, `embedding`
    * array<float>) with the deterministic sign-plane quantizer at the
    * FROZEN `widthLit` and append as the delta for `batchId` — one
    * write job, one atomic commit, no reads of stored state. */
  def appendBatch(spark: SparkSession, vecs: DataFrame, batchId: Int,
                  widthLit: Int): Unit =
    appendAssigned(spark,
      vecs.select(col("vec_id"),
        expr(graft.queries.SimilarityQueries.signKeyLowExpr(widthLit.toString))
          .as("cell")),
      batchId)

  /** Append pre-assigned cells (`vec_id`, `cell`) — the learned-
    * quantizer path: the caller runs its frozen KMeansModel transform
    * over the batch and hands the assignments in. */
  def appendAssigned(spark: SparkSession, assigned: DataFrame,
                     batchId: Int): Unit = {
    store.heal()
    store.append(
      assigned.select(col("vec_id"), col("cell").cast(LongType).as("cell"))
        .withColumn("gbucket", store.gb(col("vec_id"))),
      batchId, within = Seq(col("vec_id")))
  }

  /** The maintained inverted-file table: (vec_id, cell). */
  def cells(spark: SparkSession): DataFrame =
    store.read(spark, schema, None)

  /** Fold deltas into one base (immutable rows — identity fold). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, schema, col("vec_id"), identity, upTo)
}

object CellIndex {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType)))
}
