package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Keyed triangle-maintenance state ([[graft.operators.TriIndex]]):
  * the per-wave fold reads only the batch endpoints' buckets (asserted
  * via the read seam), appends O(batch) adjacency+degree rows, and the
  * maintained total equals the one-shot count across random edge
  * splits, a mid-stream compact, and a replayed wave. The DuckDB gate
  * (q224/q225 vs q203's oracle verbatim) certifies the same count
  * engine-vs-engine at sf0.01; here the batching is adversarial and
  * the PRUNED-READ property is asserted directly.
  */
class TriIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"triidx_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  // random graph with enough density for triangles; canonical u < v,
  // one row per edge
  private def edges(seed: Int, nNodes: Int, nEdges: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until nEdges).map { _ =>
      val a = rnd.nextInt(nNodes); val b = rnd.nextInt(nNodes)
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct.toDF("u", "v")
  }

  test("maintained == one-shot across random wave splits + mid-stream compact") {
    for (seed <- 1 to 3) {
      val e = edges(seed, nNodes = 60, nEdges = 400).cache()
      val oneShot = graft.operators.Triangles.count(e)
        .as[(Long, Long, Long)].head()
      val r = root(s"rand$seed")
      val nWaves = 4
      var total = 0L
      (0 until nWaves).foreach { i =>
        val w = e.where(pmod(hash(col("u"), col("v")), lit(nWaves)) === i)
        total += graft.operators.TriIndex(r).foldWave(spark, w, i)
        if (i == 1) graft.operators.TriIndex(r).compact(spark)
      }
      val st = graft.operators.TriIndex(r).stats(spark)
        .as[(Long, Long)].head()
      assert((st._1, st._2, total) == oneShot, s"seed $seed")
      e.unpersist()
    }
  }

  test("per-wave reads prune to a strict bucket subset on a localized batch") {
    // first wave spreads nodes over all 16 buckets; the second wave is
    // one edge — its adjacency and degree reads must not scan the store
    val big = (0 until 800).map(i => (i.toLong, (i + 800).toLong))
      .toDF("u", "v")
    val r = root("prune")
    graft.operators.TriIndex(r).foldWave(spark, big, 0)
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
    graft.operators.TriIndex.onPrunedRead = (phase, bs) =>
      events.synchronized { events += ((phase, bs)) }
    try {
      val tiny = Seq((3L, 7L)).toDF("u", "v")
      graft.operators.TriIndex(r).foldWave(spark, tiny, 1)
    } finally graft.operators.TriIndex.onPrunedRead = (_, _) => ()
    assert(events.map(_._1).toSet == Set("adj", "deg"))
    events.foreach { case (phase, bs) =>
      assert(bs.size < 16, s"$phase read all 16 buckets: $bs")
      assert(bs.size <= 6, s"$phase read ${bs.size} buckets for a 1-edge batch")
    }
  }

  test("far-endpoint incidence is caught through the mirror row") {
    // stored wedge 1-2, 2-3; new closing edge 1-3: the old edges'
    // canonical rows key on nodes 1 and 2, but the batch touches
    // {1, 3} — edge 2-3 is only reachable via its mirror (3, 2).
    val r = root("mirror")
    graft.operators.TriIndex(r).foldWave(spark,
      Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), 0)
    val d = graft.operators.TriIndex(r).foldWave(spark,
      Seq((1L, 3L)).toDF("u", "v"), 1)
    assert(d == 1L)
  }

  test("replayed wave recomputes the same delta and replaces its state") {
    val e = edges(9, nNodes = 40, nEdges = 200).cache()
    val r = root("replay")
    val w0 = e.where(pmod(hash(col("u"), col("v")), lit(2)) === 0)
    val w1 = e.where(pmod(hash(col("u"), col("v")), lit(2)) === 1)
    graft.operators.TriIndex(r).foldWave(spark, w0, 0)
    val d1 = graft.operators.TriIndex(r).foldWave(spark, w1, 1)
    val st1 = graft.operators.TriIndex(r).stats(spark).as[(Long, Long)].head()
    // checkpoint replay of wave 1: reads exclude its own delta, so the
    // recompute matches and the grouped delta is REPLACED, not doubled
    val d2 = graft.operators.TriIndex(r).foldWave(spark, w1, 1)
    val st2 = graft.operators.TriIndex(r).stats(spark).as[(Long, Long)].head()
    assert(d2 == d1)
    assert(st2 == st1)
    val oneShot = graft.operators.Triangles.count(e).as[(Long, Long, Long)].head()
    assert((st2._1, st2._2) == ((oneShot._1, oneShot._2)))
    e.unpersist()
  }
}
