package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental product-quantization CODE index — the maintenance story
  * of the q98 ADC family, closing the loop the incremental LSH/
  * embedding indexes ([[LshIndex]], [[EmbIndex]]) opened: a production
  * ANN deployment encodes each ingest batch ONCE and serves every
  * query from the persisted codes; it never re-encodes the corpus.
  *
  * A vector's code depends only on its own embedding (sign pattern of
  * each 8-dim subspace — one byte per subspace; a learned PQ swaps in
  * k-means codebook argmins via [[graft.ml.PqIndex.encode]], same
  * machinery and same store shape), so incremental codes equal batch
  * codes EXACTLY and the maintained index is bit-compatible with the
  * one-shot q98 pipeline — which is what lets the q109 registry entry
  * reuse q98's DuckDB oracle verbatim.
  *
  * State is one [[DeltaStore]] of (cand_id, sub, code) bucketed on the
  * vector id: each batch appends O(batch) rows (8 per vector) in one
  * commit; [[compact]] folds deltas into a base (rows are immutable —
  * identity fold); replay replaces the batch's own delta. ADC search
  * reads ONLY this store plus the query vectors — 8 bytes per
  * candidate, the memory-bandwidth contract that makes billion-vector
  * scans feasible, now O(batch) to maintain as the corpus grows.
  */
final case class CodeIndex(root: String) extends Maintained {
  import CodeIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Encode one batch of vectors (`vec_id` long, `embedding`
    * array<float>) and append the codes as the delta for `batchId` —
    * one write job, one atomic commit, no reads of stored state. */
  def appendBatch(spark: SparkSession, vecs: DataFrame, batchId: Int): Unit = {
    store.heal()
    store.append(
      vecs.select(col("vec_id").as("cand_id"),
          explode(expr("sequence(0, 7)")).as("sub"), col("embedding"))
        .withColumn("code", expr(codeExpr))
        .select(col("cand_id"), col("sub"), col("code"))
        .withColumn("gbucket", store.gb(col("cand_id"))),
      batchId, within = Seq(col("cand_id"), col("sub")))
  }

  /** The maintained code table: (cand_id, sub, code). */
  def codes(spark: SparkSession): DataFrame =
    store.read(spark, schema, None)

  /** Fold deltas into one base (immutable rows — identity fold). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, schema, col("cand_id"), identity, upTo)
}

object CodeIndex {

  private val schema = StructType(Seq(
    StructField("cand_id", LongType), StructField("sub", IntegerType),
    StructField("code", IntegerType)))

  /** Sign-pattern code of subspace `sub` (columns `embedding`, `sub`
    * in scope) — bit j set iff dimension sub*8+j+1 is positive;
    * identical arithmetic to the batch q98 plan and its oracle. */
  private[graft] val codeExpr: String = (0 to 7).map { j =>
    s"(case when element_at(embedding, sub * 8 + ${j + 1}) > 0 then ${1 << j} else 0 end)"
  }.mkString(" + ")
}
