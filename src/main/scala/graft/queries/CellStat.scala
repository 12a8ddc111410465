package graft.queries

import graft.Q
import graft.operators.StatCellIndex
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** One additive-cell statistic of the distribution-statistics tier, and
  * its three registry entries: the one-shot query, the batch-incremental
  * waves and the stream, all gated by the one oracle.
  *
  * Every consumer projects the same source rows to row-grain cells
  * (`rows`: the schema's key columns plus a row-grain addend for each
  * value column) and hands cells to `report`:
  *  - [[oneShot]]: `report` over the unfolded row-grain cells, with no
  *    store;
  *  - [[waves]]: three hash waves of the source on `split`, each summed
  *    into a [[StatCellIndex]], the compaction policy firing once, before
  *    wave 2; `report` over the maintained cells;
  *  - [[stream]]: the source minus `split` landed in two hash waves and
  *    summed per micro-batch (threshold 0, so the policy fires under this
  *    two-batch gate); `report` over the maintained cells. The index reads
  *    no stored state while appending, so a replayed batch rewrites its
  *    delta from the batch alone.
  *
  * Hence `report` must depend only on the per-key sums of the value
  * columns: it gets row-grain cells on the one-shot path and folded cells
  * on the other two. A report whose arithmetic needs one row per key
  * starts with its own group-by on the keys (the one-shot's aggregate).
  */
private[graft] final case class CellStat(
    names: (String, String, String),
    source: (SparkSession, String) => DataFrame,
    split: Seq[String],
    schema: StructType,
    valueCols: Seq[String],
    rows: DataFrame => DataFrame,
    report: DataFrame => DataFrame,
    oracle: String) {

  def oneShot: Q =
    Q(names._1, (s, dir) => report(rows(source(s, dir))), Some(oracle))

  def waves: Q = Q(names._2, { (s, dir) =>
    val idx = StatCellIndex(Q.fresh(s, names._2, dir), schema, valueCols)
    Replay.waves(source(s, dir), 3, split.map(col): _*) { (w, i) =>
      idx.compactBefore(s, i, maxDeltas = 1)
      append(idx, s, w, i)
    }
    report(idx.cells(s))
  }, Some(oracle))

  def stream: Q = Q(names._3, { (s, dir) =>
    val out = Q.fresh(s, names._3, dir)
    val idx = StatCellIndex(s"$out/store", schema, valueCols)
    Replay.stream(s, out,
        Replay.split(source(s, dir), 2, split.map(col): _*).map(_.drop(split: _*)),
        parts = 8) { (b, id) =>
      idx.compactBefore(s, id, maxDeltas = 0)
      append(idx, s, b, id)
    }
    report(idx.cells(s))
  }, Some(oracle))

  /** Sums batch `b`'s row-grain cells into `idx` as delta `id`. A count
    * family's rows carry `c = 1`, so counting them is summing `c`; it
    * lands through `appendBatch`, whose not-null count keeps its delta
    * files as they were (`appendAgg`'s nullable sum adds a few bytes per
    * file). */
  private def append(idx: StatCellIndex, s: SparkSession, b: DataFrame,
                     id: Int): Unit =
    if (valueCols == Seq("c")) idx.appendBatch(s, rows(b), id)
    else idx.appendAgg(s, rows(b), id)
}

private[graft] object CellStat {

  /** A count family: each source row is one count `c` in the cell of the
    * schema's other columns. */
  def counts(names: (String, String, String),
             source: (SparkSession, String) => DataFrame, split: Seq[String],
             schema: StructType, report: DataFrame => DataFrame,
             oracle: String): CellStat = {
    val keys = schema.fieldNames.toSeq.filter(_ != "c").map(col)
    CellStat(names, source, split, schema, Seq("c"),
      _.select(keys :+ lit(1L).as("c"): _*), report, oracle)
  }

  /** The nine families, for specs that check every report at once. */
  def all: Seq[CellStat] = AssocQueries.cellStats :+ FeatureQueries.corr
}
