package graft.operators

import org.apache.spark.sql.SparkSession

/** A family of incrementally maintained state kept in one [[DeltaStore]]
  * (every DeltaStore family: the indexes, [[IncrementalStats]],
  * [[IncrementalView]] and [[MorTable]]), and its one batch-start
  * compaction policy.
  *
  * The horizon argument, stated once for every family: batch `id`'s
  * predecessors are durably committed before it starts — a batch-
  * incremental wave loop runs waves in order, and a stream runs its
  * micro-batches serially with batch `id - 1`'s checkpoint commit ahead
  * of batch `id` — so every delta below `id` is past replay and may
  * fold. Batch `id` itself may be the replay of a crashed attempt whose
  * stale delta is already on disk; that delta must stay LIVE so the
  * replay can exclude and replace it, since folding it into a base would
  * double-count it under every non-idempotent merge (additive counts,
  * run stitching). [[compactBefore]] therefore folds at
  * `upTo = Some(id - 1)` and never above it.
  */
trait Maintained {
  def store: DeltaStore

  /** Fold the live deltas at or below `upTo` (all of them when None)
    * into one base with the family's merge rule. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit

  /** The policy at the start of batch `id`: fold the committed tail iff
    * more than `maxDeltas` live deltas sit below `id`. Returns whether
    * it fired; when it fires, no live delta is left below `id`. */
  final def compactBefore(spark: SparkSession, id: Int,
                          maxDeltas: Int): Boolean = {
    val upTo = Some(id - 1)
    val fire = store.deltaCount(upTo) > maxDeltas
    if (fire) {
      compact(spark, upTo)
      require(store.deltaCount(upTo) == 0,
        s"compaction of ${store.dir} before batch $id left committed deltas live")
    }
    fire
  }
}
