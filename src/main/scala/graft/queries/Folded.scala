package graft.queries

import graft.Q
import graft.operators.BatchState
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One maintained family, and the one harness that makes its fold
  * incremental the same way for batch waves and for a stream: every
  * maintained `*_incremental` and `*_stream_*` entry of the cell
  * statistics ([[CellStat]]) and of the Tri, Basket, CC, SCD2, Sketch,
  * Skyline and Funnel families is generated here.
  *
  * A family supplies its `source`, how `split` cuts it into `n` waves,
  * the `index` it keeps under a scratch root, the per-batch `fold` into
  * that index, and the `report` over it. The harness owns the rest:
  *  - [[waves]]: three waves of the pinned source (`Replay.waves`), the
  *    index at the entry's scratch root, the batch-start policy
  *    `compactBefore(maxDeltas = 1)`, which fires once, before wave 2;
  *  - [[stream]]: two waves landed as `parts` files each and drained
  *    through `Replay.stream`, the index at `<root>/store`, the policy at
  *    `maxDeltas = 0`, so it fires under this two-batch gate. The source
  *    is pinned while the waves land unless `pinStream` is false.
  *
  * Replay rule: batch `id` may be the replay of a crashed attempt, so a
  * fold must rewrite, not add to, what it wrote under `id`. The delta
  * stores replace their delta `id`; a [[graft.streaming.Versioned]]
  * state overwrites its version `id`. Then folding one batch twice under
  * the same id reports what folding it once does (FoldedSpec).
  */
private[graft] final case class Folded[I <: BatchState](
    source: (SparkSession, String) => DataFrame,
    split: (DataFrame, Int) => Seq[DataFrame],
    index: String => I,
    fold: (I, SparkSession, DataFrame, Int) => Unit,
    report: (I, SparkSession) => DataFrame,
    oracle: String,
    parts: Int = 2,
    pinStream: Boolean = true) {

  /** One batch: the batch-start policy, then the family's fold. */
  def batch(idx: I, s: SparkSession, b: DataFrame, id: Int,
            maxDeltas: Int): Unit = {
    idx.compactBefore(s, id, maxDeltas)
    fold(idx, s, b, id)
  }

  def waves(name: String): Q = Q(name, { (s, dir) =>
    val idx = index(Q.fresh(s, name, dir))
    Replay.waves(source(s, dir), split(_, 3)) { (w, i) =>
      batch(idx, s, w, i, maxDeltas = 1)
    }
    report(idx, s)
  }, Some(oracle))

  def stream(name: String): Q = Q(name, { (s, dir) =>
    val out = Q.fresh(s, name, dir)
    val idx = index(s"$out/store")
    def land(src: DataFrame): Unit =
      Replay.stream(s, out, split(src, 2), parts) { (b, id) =>
        batch(idx, s, b, id, maxDeltas = 0)
      }
    if (pinStream) Q.pinned(source(s, dir))(land) else land(source(s, dir))
    report(idx, s)
  }, Some(oracle))
}
