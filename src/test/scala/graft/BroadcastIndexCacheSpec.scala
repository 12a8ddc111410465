package graft

import graft.operators.{AsOfJoin, BandJoin}
import graft.plans.{AsOfIndex, TimeRepr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hardening spec for the broadcast-exec tier's shared per-executor
  * index cache and the time-arithmetic corner cases:
  *
  *  1. CACHE ALIASING (the wrong-results trap): [[AsOfIndex.getOrBuild]]
  *     is shared by [[graft.plans.BroadcastAsOfJoinExec]] and
  *     [[graft.plans.BroadcastBandJoinExec]]. When one query contains
  *     two broadcast as-of/band joins over the IDENTICAL right child,
  *     ReuseExchange hands both execs the SAME broadcast id — keyed by
  *     id alone, the second exec silently reuses an index built with
  *     the FIRST exec's key/time/payload projections and returns the
  *     wrong payload values. The cache key must therefore include the
  *     semantic hash of the bound projections.
  *
  *  2. NaN nearest parity: the fused execs' backward-wins rule must use
  *     SQL total-order float comparison (NaN largest), not Java `<=`
  *     (always false vs NaN), or they diverge from the composed
  *     formulation on double/float time columns containing NaN.
  *
  *  3. Unsupported-type fallback: nearest under the broadcast strategy
  *     must fall back to the composed formulation (like sortmerge and
  *     auto) instead of throwing at planning for distance-free time
  *     types.
  *
  *  4. Extreme-Long band bounds: `rt − lt` on raw LongType times near
  *     the extremes wraps; [[TimeRepr.cmpDiff]] must classify by the
  *     TRUE difference (a wrapped pair must never land inside a small
  *     band).
  */
class BroadcastIndexCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- 1. cache aliasing -------------------------------------------------

  test("getOrBuild: same broadcast id with different projection hashes builds separate indexes") {
    var builds = 0
    def mk(tag: String): () => AsOfIndex = () => {
      builds += 1
      // a distinguishable (empty) index per build
      new AsOfIndex(new java.util.HashMap, org.apache.spark.sql.types.LongType)
    }
    val idxA = AsOfIndex.getOrBuild(Long.MaxValue - 7, 11, mk("a"))
    val idxB = AsOfIndex.getOrBuild(Long.MaxValue - 7, 22, mk("b"))
    val idxA2 = AsOfIndex.getOrBuild(Long.MaxValue - 7, 11, mk("a"))
    assert(builds == 2, "distinct projection hashes must build distinct indexes")
    assert(idxA ne idxB)
    assert(idxA2 eq idxA, "same (id, hash) must hit the cache")
  }

  test("two broadcast as-of joins over the identical right child with different payloads both return correct values") {
    val left = Seq(("k1", 10, 1), ("k1", 20, 2), ("k2", 15, 3))
      .toDF("k", "t", "left_id")
    val right = Seq(
      ("k1", 5, 50, 500), ("k1", 18, 180, 1800), ("k2", 15, 150, 1500))
      .toDF("rk", "rt", "a", "b")

    // both joins broadcast the SAME right DataFrame; payload projections
    // differ (slot 2 vs slot 3) — under id-only caching the second join
    // would surface column `a`'s values labelled `b`
    val step1 = AsOfJoin.asof(
      left, right, "k", "rk", "t", "rt", Seq("a"),
      strategy = "broadcast")
    val step2 = AsOfJoin.asof(
      step1, right, "k", "rk", "t", "rt", Seq("b"),
      strategy = "broadcast")

    val got = step2.select("k", "t", "left_id", "a", "b")
      .as[(String, Int, Int, Option[Int], Option[Int])]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq(
      ("k1", 10, 1, Some(50), Some(500)),
      ("k1", 20, 2, Some(180), Some(1800)),
      ("k2", 15, 3, Some(150), Some(1500))))
  }

  test("broadcast as-of + broadcast band over the identical right child both return correct values") {
    val left = Seq(("k1", 10L, 1), ("k1", 20L, 2)).toDF("k", "t", "left_id")
    val right = Seq(
      ("k1", 8L, 80, 800), ("k1", 12L, 120, 1200), ("k1", 19L, 190, 1900))
      .toDF("rk", "rt", "a", "b")

    val asOf = AsOfJoin.asof(
      left, right, "k", "rk", "t", "rt", Seq("a"),
      strategy = "broadcast")
    // band (0, 5]: right rows strictly after the left row, within 5
    val both = BandJoin.bandJoin(
      asOf, right, "k", "rk", "t", "rt", 0L, 5L, Seq("b"),
      strategy = "broadcast")

    val got = both.select("k", "t", "left_id", "a", "b")
      .as[(String, Long, Int, Option[Int], Int)]
      .collect().sortBy(x => (x._2, x._5)).toSeq
    // t=10: as-of match a=80; band matches rt=12 → b=1200
    // t=20: as-of match a=190; band: none in (20, 25] → INNER drops it
    assert(got == Seq(("k1", 10L, 1, Some(80), 1200)))
  }

  // --- 2. NaN nearest parity --------------------------------------------

  test("nearest with NaN double times: fused execs match the composed formulation") {
    val l = Seq(("k1", 5.0, 1), ("k1", 100.0, 2), ("k1", Double.NaN, 3))
      .toDF("k", "t", "left_id")
    val r = Seq(
      ("k1", 4.0, 40), ("k1", Double.NaN, -1), ("k1", 7.0, 70))
      .toDF("rk", "rt", "p")

    def collect(df: DataFrame) =
      df.select("left_id", "p").as[(Int, Option[Int])]
        .collect().sortBy(_._1).toSeq

    val composed = collect(AsOfJoin.asof(
      l, r, "k", "rk", "t", "rt", Seq("p"),
      direction = "nearest", strategy = "composed"))
    val native = collect(AsOfJoin.asof(
      l, r, "k", "rk", "t", "rt", Seq("p"),
      direction = "nearest"))
    val bcast = collect(AsOfJoin.asof(
      l, r, "k", "rk", "t", "rt", Seq("p"),
      direction = "nearest", strategy = "broadcast"))
    assert(native == composed,
      s"fused sort-merge diverges from composed on NaN times: $native vs $composed")
    assert(bcast == composed,
      s"fused broadcast diverges from composed on NaN times: $bcast vs $composed")
  }

  // --- 3. unsupported-type fallback -------------------------------------

  test("asofNearestBroadcast falls back to the composed formulation for decimal times") {
    val l = Seq(("k1", BigDecimal("3.00"), 1), ("k1", BigDecimal("8.00"), 2))
      .toDF("k", "t", "left_id")
    val r = Seq(("k1", BigDecimal("1.00"), 10), ("k1", BigDecimal("6.00"), 60))
      .toDF("rk", "rt", "p")
    // decimal time: no fused distance arithmetic — must plan (not
    // throw) and match the composed formulation
    val got = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"),
        direction = "nearest", strategy = "broadcast")
      .select("left_id", "p").as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    val composed = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"),
        direction = "nearest", strategy = "composed")
      .select("left_id", "p").as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got == composed)
  }

  test("asof() entry point: unbounded nearest on decimal times falls back for EVERY strategy") {
    // Consistency across strategies: nearest broadcast/auto fall
    // back to the composed form for distance-free time types, so the
    // generic asof() must too — broadcast and auto included, not just
    // sortmerge (it used to throw at planning for those two).
    val l = Seq(("k1", BigDecimal("3.00"), 1), ("k1", BigDecimal("8.00"), 2))
      .toDF("k", "t", "left_id")
    val r = Seq(("k1", BigDecimal("1.00"), 10), ("k1", BigDecimal("6.00"), 60))
      .toDF("rk", "rt", "p")
    val composed = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"),
        direction = "nearest", strategy = "composed")
      .select("left_id", "p").as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    for (strategy <- Seq("sortmerge", "broadcast", "auto")) {
      val got = AsOfJoin.asof(
          l, r, "k", "rk", "t", "rt", Seq("p"),
          direction = "nearest", strategy = strategy)
        .select("left_id", "p").as[(Int, Option[Int])]
        .collect().sortBy(_._1).toSeq
      assert(got == composed, s"strategy $strategy diverged or threw")
    }
    // a tolerance on a distance-free type still rejects loudly (the
    // require fires at physical planning — force it)
    intercept[Exception] {
      AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("p"),
        direction = "nearest", tolerance = Some(1L))
        .queryExecution.executedPlan
    }
  }

  // --- 4. extreme-Long band bounds --------------------------------------

  test("cmpDiff: exact classification when the raw subtraction wraps") {
    // true diff ≈ +2^64: wrapped negative, must compare GREATER
    assert(TimeRepr.cmpDiff(Long.MaxValue - 10, Long.MinValue + 10, 100L) > 0)
    // true diff ≈ -2^64: wrapped positive (= 21), must compare LESS
    assert(TimeRepr.cmpDiff(Long.MinValue + 10, Long.MaxValue - 11, 0L) < 0)
    // no overflow: plain comparison
    assert(TimeRepr.cmpDiff(60L, 10L, 50L) == 0)
    assert(TimeRepr.cmpDiff(60L, 10L, 49L) > 0)
    assert(TimeRepr.cmpDiff(60L, 10L, 51L) < 0)
  }

  test("band join near Long extremes: wrapped differences never land inside the band") {
    // lt huge positive, rt huge negative: raw rt-lt wraps to +21 which
    // WOULD land inside (0, 100] — the true difference is ≈ -2^64
    val l = Seq(("k1", Long.MaxValue - 10, 1), ("k1", Long.MaxValue - 100, 2))
      .toDF("k", "t", "left_id")
    val r = Seq(
      ("k1", Long.MinValue + 11, -1), // wraps vs left_id=1 → must NOT match
      ("k1", Long.MaxValue - 50, 50)  // true diff vs left_id=2 is 50 → match
    ).toDF("rk", "rt", "p")
    for ((name, res) <- Seq(
        "native" -> BandJoin.bandJoin(
          l, r, "k", "rk", "t", "rt", 0L, 100L, Seq("p")),
        "broadcast" -> BandJoin.bandJoin(
          l, r, "k", "rk", "t", "rt", 0L, 100L, Seq("p"),
          strategy = "broadcast"))) {
      val got = res.select("left_id", "p").as[(Int, Int)]
        .collect().sorted.toSeq
      assert(got == Seq((2, 50)), s"[$name] got $got")
    }
  }
}
