package graft

import graft.operators.StatCellIndex
import graft.queries.CellStat
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The identity the cell statistics rest on: each report depends only on
  * the per-key sums of its value columns, so the one-shot entry (the
  * report over row-grain cells) equals the report over the same rows
  * summed into a [[StatCellIndex]] in three random waves with a compact
  * between waves. The DuckDB gate checks each entry against its oracle;
  * this checks the three consumers' shared premise for all nine reports.
  */
class CellStatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("nine cell statistics, each generating three entries") {
    assert(CellStat.all.size == 9)
    val names = CellStat.all.flatMap(f => Seq(f.names._1, f.names._2, f.names._3))
    assert(names.distinct.size == 27 && names.forall(SparkEntry.queries.contains))
  }

  CellStat.all.foreach { f =>
    test(s"${f.names._1}: report(rows) == report(cells folded from a random 3-way split)") {
      val rows = f.rows(f.source(spark, dir)).localCheckpoint()
      // a fixed seed per statistic keeps a failure reproducible
      val seed = f.names._1.hashCode.toLong
      val idx = StatCellIndex(Q.fresh(spark, s"cellstat_${f.names._1}", "spec"),
        f.schema, f.valueCols)
      rows.randomSplit(Array(1.0, 1.0, 1.0), seed).zipWithIndex.foreach {
        case (w, i) =>
          if (i > 0) idx.compact(spark)
          idx.appendAgg(spark, w, i)
      }
      assert(sorted(f.report(idx.cells(spark))) ==
        sorted(f.oneShot.run(spark, dir)), s"seed $seed")
      Q.unpin(rows)
    }
  }
}
