package graft

import graft.operators.BatchState
import graft.queries._
import graft.streaming.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The replay rule of the one maintenance harness, [[Folded]]: for every
  * family, folding a stream batch twice under one id, as a crash replay
  * does, reports what folding it once does. And the versioned-state
  * helper's two promises: a replay of `id` rewrites only version `id`,
  * and no more than two versions are live after any batch.
  */
class FoldedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val families: Seq[(String, Folded[_ <: BatchState])] =
    CellStat.all.map(f => f.names._3 -> f.folded) ++ Seq(
      "q225_stream_triangles" -> AssocQueries.tri,
      "q246_stream_basket" -> AssocQueries.basket,
      "q220_stream_skyline" -> AssocQueries.skyline,
      "q221_stream_dedup_components" -> SimilarityQueries.cc,
      "q216_stream_scd2" -> EventQueries.scd2,
      "q210_stream_funnel" -> EventQueries.funnel,
      "q183_stream_sketch_maintenance" -> ExtraQueries.sketch)

  /** The report after stream batches 0 and 1 of `waves`, batch 1 folded
    * `times` times under its one id. */
  private def report[I <: BatchState](f: Folded[I], tag: String,
                                      waves: Seq[DataFrame], times: Int): Seq[String] = {
    val idx = f.index(s"${Q.fresh(spark, tag, "spec")}/store")
    f.batch(idx, spark, waves(0), 0, maxDeltas = 0)
    (1 to times).foreach(_ => f.batch(idx, spark, waves(1), 1, maxDeltas = 0))
    f.report(idx, spark).collect().map(_.toString).sorted.toSeq
  }

  private def replayed[I <: BatchState](name: String, f: Folded[I]): Unit =
    Q.pinned(f.source(spark, dir)) { src =>
      val waves = f.split(src, 2)
      assert(report(f, s"folded_once_$name", waves, 1) ==
        report(f, s"folded_replay_$name", waves, 2))
    }

  test("sixteen families on the one harness") {
    assert(families.map(_._1).distinct.size == 16)
    assert(families.forall { case (n, _) => SparkEntry.queries.contains(n) })
  }

  families.foreach { case (name, f) =>
    test(s"$name: a batch folded twice under one id reports as folded once") {
      replayed(name, f)
    }
  }

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_versioned_").toString

  /** Version `id` := the newest version below it plus `step`. */
  private def bump(v: Versioned, id: Int, step: Long): Unit =
    v.fold(spark, id, spark.range(1).select(lit(0L).as("n")))(
      _.select((col("n") + step).as("n")).coalesce(1))

  private def at(dir: String, k: Int): Long =
    spark.read.parquet(s"$dir/state=$k").head().getLong(0)

  private def live(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("state=")).sorted.toSeq

  test("Versioned: a replay of id rewrites its own version and no other") {
    val d = tmp()
    val v = Versioned(d)
    (0 to 2).foreach(bump(v, _, 1L))
    assert(live(d) == Seq("state=1", "state=2") && at(d, 1) == 2L && at(d, 2) == 3L)
    bump(v, 2, 10L)
    assert(live(d) == Seq("state=1", "state=2") && at(d, 1) == 2L && at(d, 2) == 12L)
    assert(v.latest(spark).head().getLong(0) == 12L)
  }

  test("Versioned: live versions never exceed 2 after any batch") {
    val d = tmp()
    val v = Versioned(d)
    (0 to 5).foreach { id =>
      assert(!v.compactBefore(spark, id, maxDeltas = 0))
      bump(v, id, 1L)
      assert(live(d).size <= 2, s"after batch $id: ${live(d)}")
    }
    assert(v.latest(spark).head().getLong(0) == 6L)
  }
}
