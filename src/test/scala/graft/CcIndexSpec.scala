package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta-ized connected-components label state
  * ([[graft.operators.CcIndex]]): the per-wave COMMIT is bounded by
  * moved rows (touched-component members whose label changed + brand-
  * new nodes — never a full label-table rewrite), the maintained
  * labels equal the one-shot build across random edge splits and a
  * mid-stream compact, and a replayed wave rewrites its delta
  * bit-identically. The DuckDB gate (q219 vs q62's oracle verbatim)
  * certifies the same labels engine-vs-engine at sf0.01; here the
  * batching is adversarial and the STATE-IO bound is asserted
  * row-for-row.
  */
class CcIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"ccidx_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  /** The `lab` slice of wave `i`'s live delta. */
  private def labDelta(r: String, i: Int): String =
    graft.operators.CcIndex(r).store.live()
      .collectFirst { case (false, `i`, d) => s"$d/tbl=lab" }.get

  // random sparse graph over string ids — chains + cliques so waves
  // merge previously-separate components
  private def edges(seed: Int, nNodes: Int, nEdges: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until nEdges).map { _ =>
      val a = rnd.nextInt(nNodes); val b = rnd.nextInt(nNodes)
      (f"n$a%04d", f"n$b%04d")
    }.filter(p => p._1 != p._2).distinct.toDF("a", "b")
  }

  private def sortedLabels(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, String)].collect().sortBy(_._1).toSeq

  test("maintained == one-shot across random wave splits + mid-stream compact; commit bound holds") {
    for (seed <- 1 to 3) {
      val e = edges(seed, nNodes = 300, nEdges = 400).cache()
      val oneShot = sortedLabels(
        graft.operators.ConnectedComponents.components(e))
      val r = root(s"rand$seed")
      val nWaves = 4
      val waves = (0 until nWaves).map(w =>
        e.where(pmod(hash(col("a"), col("b")), lit(nWaves)) === w))
      waves.zipWithIndex.foreach { case (w, i) =>
        val before = sortedLabels(graft.operators.CcIndex(r).labels(spark))
          .toMap
        graft.operators.CcIndex(r).appendWave(spark, w, i)
        val after = sortedLabels(graft.operators.CcIndex(r).labels(spark))
        // THE STATE-IO BOUND: the wave's delta holds exactly the moved
        // rows — nodes whose resolved label changed plus brand-new
        // nodes. A full-table rewrite would fail this on every wave
        // after the first.
        val moved = after.count { case (id, comp) =>
          before.get(id) match {
            case None => true // brand-new node
            case Some(old) => old != comp // touched component remapped
          }
        }
        val deltaRows = spark.read.parquet(labDelta(r, i)).count()
        assert(deltaRows == moved,
          s"seed $seed wave $i: delta has $deltaRows rows, moved $moved")
        if (i > 0)
          assert(deltaRows < after.size,
            s"seed $seed wave $i: delta rewrote the whole label table")
        // mid-stream compact (delta read above, before GC folds it away)
        if (i == 1) graft.operators.CcIndex(r).compact(spark)
      }
      assert(sortedLabels(graft.operators.CcIndex(r).labels(spark))
        == oneShot, s"seed $seed")
      e.unpersist()
    }
  }

  test("replayed wave rewrites its delta bit-identically; labels unchanged") {
    val e = edges(7, nNodes = 120, nEdges = 150).cache()
    val r = root("replay")
    val w0 = e.where(pmod(hash(col("a"), col("b")), lit(2)) === 0)
    val w1 = e.where(pmod(hash(col("a"), col("b")), lit(2)) === 1)
    graft.operators.CcIndex(r).appendWave(spark, w0, 0)
    graft.operators.CcIndex(r).appendWave(spark, w1, 1)
    val labels1 = sortedLabels(graft.operators.CcIndex(r).labels(spark))
    val delta1 = spark.read.parquet(labDelta(r, 1))
      .select("id", "comp", "wave").as[(String, String, Int)]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    // checkpoint replay of wave 1: prior-state read excludes its own
    // delta, so the recompute is bit-identical and REPLACES the delta
    graft.operators.CcIndex(r).appendWave(spark, w1, 1)
    val labels2 = sortedLabels(graft.operators.CcIndex(r).labels(spark))
    val delta2 = spark.read.parquet(labDelta(r, 1))
      .select("id", "comp", "wave").as[(String, String, Int)]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    assert(labels2 == labels1)
    assert(delta2 == delta1)
    // equality with the one-shot build survives the replay
    assert(labels2 == sortedLabels(
      graft.operators.ConnectedComponents.components(e)))
    e.unpersist()
  }

  test("per-wave reads prune to a strict bucket subset on a localized batch") {
    // corpus spread over all 16 id buckets; the second wave touches TWO
    // nodes — its reads must not scan the full store
    val big = (0 until 400).map(i => (f"n$i%04d", f"m$i%04d")).toDF("a", "b")
    val r = root("prune")
    graft.operators.CcIndex(r).appendWave(spark, big, 0)
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
    graft.operators.CcIndex.onPrunedRead = (phase, bs) =>
      events.synchronized { events += ((phase, bs)) }
    try {
      val tiny = Seq(("n0007", "n0009")).toDF("a", "b")
      graft.operators.CcIndex(r).appendWave(spark, tiny, 1)
    } finally graft.operators.CcIndex.onPrunedRead = (_, _) => ()
    assert(events.map(_._1).toSet == Set("condense", "c2b", "changed", "fresh"))
    events.foreach { case (phase, bs) =>
      assert(bs.size < 16, s"$phase read all 16 buckets: $bs")
      assert(bs.size <= 4, s"$phase read ${bs.size} buckets for a 2-node batch")
    }
    // and the pruned fold still merged the two components correctly
    val after = sortedLabels(graft.operators.CcIndex(r).labels(spark)).toMap
    assert(after("n0009") == after("n0007"))
    assert(after("m0009") == after("n0007"))
  }

  test("first wave with diameter > 20 folds via star contraction") {
    // a 120-node chain: label propagation at default maxIter=20 cannot
    // converge, so the empty-state wave must route through componentsStar
    val chain = (0 until 119).map(i => (f"c$i%04d", f"c${i + 1}%04d"))
      .toDF("a", "b")
    val r = root("chain")
    graft.operators.CcIndex(r).appendWave(spark, chain, 0)
    val labs = sortedLabels(graft.operators.CcIndex(r).labels(spark))
    assert(labs.size == 120)
    assert(labs.forall(_._2 == "c0000"))
  }

  test("numeric-typed edge columns are rejected") {
    val e = Seq((1L, 2L)).toDF("a", "b")
    val r = root("typed")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.CcIndex(r).appendWave(spark, e, 0)
    }
    assert(ex.getMessage.contains("fixed-width"))
  }

  test("empty wave commits an empty delta and moves nothing") {
    val e = edges(11, nNodes = 60, nEdges = 80).cache()
    val r = root("empty")
    graft.operators.CcIndex(r).appendWave(spark, e, 0)
    val before = sortedLabels(graft.operators.CcIndex(r).labels(spark))
    graft.operators.CcIndex(r).appendWave(spark, e.limit(0), 1)
    assert(sortedLabels(graft.operators.CcIndex(r).labels(spark)) == before)
    e.unpersist()
  }
}
