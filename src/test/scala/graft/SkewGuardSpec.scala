package graft

import graft.operators.{AsOfJoin, BandJoin, SkewRoute}
import org.scalatest.funsuite.AnyFunSuite

/** Cost guard on the SALTED skew route ([[SkewRoute.guardedBuckets]]).
  *
  * The salted recipe replicates the ENTIRE right side once per salt
  * bucket — fine for a dim-sized right, fatal for a right that misses
  * the broadcast threshold by a lot (32× a 1 TB table to dodge one
  * straggler). The guard bounds replicated-right volume by
  * `maxReplication × |left|` (plan size stats), shrinking the fan-out
  * as |right| grows and degrading to the plain sort-merge below 2
  * affordable buckets. This spec pins:
  *   - the arithmetic (cap shrinks with |right|, respects the request,
  *     floors at the SMJ fallback);
  *   - the ROUTES actually taken by asofAutoSkew / bandJoinAutoSkew on
  *     a hot-key corpus as the right side grows (salt column present /
  *     absent in the exchange keys);
  *   - value parity on every route (the q41/q93-class contract: the
  *     physical shape changes, the rows never do).
  */
class SkewGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 90% of left rows on key "hot"; right timeline per key, scaled by
  // `rightPerKey` to steer the size ratio the guard reads
  private def corpus(rightPerKey: Int) = {
    val rnd = new scala.util.Random(4242)
    val l = Seq.tabulate(3000) { i =>
      val k = if (i % 10 == 0) s"cold${i % 7}" else "hot"
      (k, rnd.nextInt(100000), i)
    }
    val r = (Seq("hot") ++ (0 until 7).map(i => s"cold$i")).flatMap { k =>
      Seq.tabulate(rightPerKey)(j => (k, j * (100000 / rightPerKey) + k.length,
        k.hashCode ^ j))
    }
    (l.toDF("k", "t", "left_id"), r.toDF("rk", "rt", "p"))
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("guardedBuckets: cap shrinks with |right|, honors the request, floors to SMJ") {
    val (l, _) = corpus(10)
    val small = Seq(("hot", 1, 2)).toDF("rk", "rt", "p")
    // tiny right: full request affordable
    assert(SkewRoute.guardedBuckets(l, small, 32, 4.0) == 32)
    // right ≈ left: maxReplication bounds the fan-out to ~maxReplication
    val big = l.select($"k".as("rk"), $"t".as("rt"), $"left_id".as("p"))
    val b = SkewRoute.guardedBuckets(l, big, 32, 4.0)
    assert(b >= 2 && b <= 8, s"cap should land near maxReplication, got $b")
    // right ≫ left under a tight budget: salting cannot pay → < 2
    assert(SkewRoute.guardedBuckets(small.limit(1), big, 32, 1.0) < 2)
  }

  test("guardedBuckets: missing stats — unknown right falls back to SMJ, unknown left stays permissive") {
    val (l, _) = corpus(10)
    val known = Seq(("hot", 1, 2)).toDF("rk", "rt", "p")
    // sizeInBytes = 0 reads as "no estimate" (the ≤ 0 sentinel)
    val unknown = known.where(org.apache.spark.sql.functions.lit(false))
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes <= 0)
    // unknown RIGHT: the salt would replicate a side of unknown size —
    // the guard must refuse (1 = plain SMJ), never trust the request
    assert(SkewRoute.guardedBuckets(l, unknown, 32, 4.0) == 1)
    // unknown LEFT with a known right: only the budget ratio is lost;
    // the permissive answer is the request
    assert(SkewRoute.guardedBuckets(unknown, known, 32, 4.0) == 32)
  }

  test("asofAutoSkew: salted while affordable, plain SMJ when replication would dominate") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.skew.minRows" -> "100",
      "spark.graft.skew.maxReplication" -> "4.0") {
      // reference rows from the unguarded plain join
      def run(rightPerKey: Int) = {
        val (l, r) = corpus(rightPerKey)
        val auto = AsOfJoin.asofAutoSkew(l, r, "k", "rk", "t", "rt",
          Seq("p"), hotShare = Some(0.5), buckets = Some(16))
        val plain = AsOfJoin.asof(l, r, "k", "rk", "t", "rt",
          Seq("p"))
        val a = auto.select("left_id", "p").as[(Int, Option[Int])]
          .collect().sortBy(_._1).toSeq
        val p = plain.select("left_id", "p").as[(Int, Option[Int])]
          .collect().sortBy(_._1).toSeq
        assert(a == p, s"route diverged at rightPerKey=$rightPerKey")
        auto.queryExecution.executedPlan.toString
      }
      // dim-sized right: the hot key routes to the salted plan
      assert(run(10).contains("__asof_salt"),
        "small right must afford the salted route")
      // right ~ 6x the left: 16 requested buckets would replicate ~96x
      // the left — the guard must refuse the salt entirely (cap < 2)
      assert(!run(2500).contains("__asof_salt"),
        "large right must fall back to the plain sort-merge")
    }
  }

  test("bandJoinAutoSkew: same guard, same parity") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.skew.minRows" -> "100",
      "spark.graft.skew.maxReplication" -> "4.0") {
      def run(rightPerKey: Int) = {
        val (l, r) = corpus(rightPerKey)
        val auto = BandJoin.bandJoinAutoSkew(l, r, "k", "rk", "t", "rt",
          lo = 0L, hi = 20000L, payload = Seq("p"),
          hotShare = Some(0.5), buckets = Some(16))
        val plain = BandJoin.bandJoin(l, r, "k", "rk", "t", "rt",
          0L, 20000L, Seq("p"))
        assert(auto.count() == plain.count(),
          s"pair set changed at rightPerKey=$rightPerKey")
        auto.queryExecution.executedPlan.toString
      }
      assert(run(10).contains("__band_salt"))
      assert(!run(2500).contains("__band_salt"))
    }
  }
}
