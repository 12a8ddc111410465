package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-semantics spec for the BOUNDED-LOOKBACK as-of join
  * (`merge_asof(tolerance=)`): every case runs against all THREE
  * formulations of [[AsOfJoin.asof]] — union+window (`window`),
  * native sort-merge (`sortmerge`) and broadcast (`broadcast`; nearest
  * swaps `window` for the `composed` two-join form) — plus a
  * brute-force per-key oracle. Contract:
  *   - match = latest right with `rt <= lt` AND `lt − rt <= tolerance`
  *     (boundary INCLUSIVE), in the time type's native unit;
  *   - an expired match is a NULL payload, same as no match;
  *   - null times never satisfy the bound on either side (a null time
  *     has no distance — the nearest-join rule), so a null-time left
  *     row gets NULL payload even when a null-time right exists (the
  *     unbounded join would match it).
  */
class ToleranceAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leftDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("k", "t", "left_id")
  private def rightDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("rk", "rt", "p")

  private type Impl = (DataFrame, DataFrame, String, String, String, String,
    Seq[String], Long) => DataFrame
  private def asof(direction: String, strategy: String): Impl =
    (l, r, lk, rk, lt, rt, p, tol) =>
      AsOfJoin.asof(l, r, lk, rk, lt, rt, p, direction, strategy, Some(tol))
  private val impls: Seq[(String, Impl)] = Seq(
    "window" -> asof("backward", "window"),
    "native" -> asof("backward", "sortmerge"),
    "broadcast" -> asof("backward", "broadcast"))

  private def run(impl: Impl, tol: Long)(l: DataFrame, r: DataFrame)
      : Seq[(String, Option[Int], Int, Option[Int])] =
    impl(l, r, "k", "rk", "t", "rt", Seq("p"), tol)
      .select(col("k"), col("t"), col("left_id"), col("p"))
      .as[(String, Option[Int], Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._3)).toSeq

  private def brute(l: Seq[(String, Option[Int], Int)],
                    r: Seq[(String, Option[Int], Int)],
                    tol: Long): Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t.flatMap { lt =>
        r.filter(x => x._1 == k && x._2.exists(rt =>
            rt <= lt && lt.toLong - rt <= tol))
          .sortBy(_._2.get).lastOption.map(_._3)
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  for ((name, impl) <- impls) {

    test(s"[$name] boundary inclusive, expiry, and fresher-match recovery") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // right at 7: dist 3 <= 3 → match
        ("k1", Some(11), 2),  // dist 4 > 3 → expired → null
        ("k1", Some(21), 3))) // right at 20: dist 1 → match (carry refreshed)
      val r = rightDf(Seq(("k1", Some(7), 70), ("k1", Some(20), 200)))
      val got = run(impl, 3L)(l, r)
      assert(got == Seq(
        ("k1", Some(10), 1, Some(70)),
        ("k1", Some(11), 2, None),
        ("k1", Some(21), 3, Some(200))))
    }

    test(s"[$name] null times never satisfy the bound") {
      val l = leftDf(Seq(("k1", None, 1), ("k1", Some(5), 2)))
      val r = rightDf(Seq(("k1", None, -1), ("k1", Some(4), 40)))
      val got = run(impl, 100L)(l, r)
      // null-lt left: NULL (the unbounded join would match the null-rt
      // right); lt=5 matches rt=4 (dist 1), never the null-rt row
      assert(got == Seq(
        ("k1", None, 1, None),
        ("k1", Some(5), 2, Some(40))))
    }

    test(s"[$name] tolerance 0: only exact-time matches survive") {
      val l = leftDf(Seq(("k1", Some(10), 1), ("k1", Some(11), 2)))
      val r = rightDf(Seq(("k1", Some(10), 100)))
      assert(run(impl, 0L)(l, r) == Seq(
        ("k1", Some(10), 1, Some(100)),
        ("k1", Some(11), 2, None)))
    }

    test(s"[$name] randomized cross-check vs brute force") {
      for (seed <- 501 to 504) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c", "d")
        val l = Seq.tabulate(60) { i =>
          (keys(rnd.nextInt(4)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50)), i)
        }
        val r = Seq.tabulate(40) { i =>
          (keys(rnd.nextInt(4)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50)), i)
        }.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq // dedup (key, time)
        val tol = rnd.nextInt(8).toLong
        assert(run(impl, tol)(leftDf(l), rightDf(r)) == brute(l, r, tol),
          s"seed=$seed tol=$tol")
      }
    }
  }

  // ---- FORWARD tolerance: all three formulations vs brute force ----

  private val fwdImpls: Seq[(String, Impl)] = Seq(
    "window" -> asof("forward", "window"),
    "native" -> asof("forward", "sortmerge"),
    "broadcast" -> asof("forward", "broadcast"))

  private def bruteFwd(l: Seq[(String, Option[Int], Int)],
                       r: Seq[(String, Option[Int], Int)],
                       tol: Long): Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t.flatMap { lt =>
        r.filter(x => x._1 == k && x._2.exists(rt =>
            rt >= lt && rt.toLong - lt <= tol))
          .sortBy(_._2.get).headOption.map(_._3)
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  for ((name, impl) <- fwdImpls) {
    test(s"[fwd-$name] lookahead bound: boundary inclusive, expiry, null times") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // right at 13: dist 3 <= 3 → match
        ("k1", Some(16), 2),  // next right at 20: dist 4 > 3 → null
        ("k1", None, 3)))     // null left time: never within bound
      val r = rightDf(Seq(("k1", Some(13), 130), ("k1", Some(20), 200),
        ("k1", None, -1)))
      assert(run(impl, 3L)(l, r) == Seq(
        ("k1", Some(10), 1, Some(130)),
        ("k1", Some(16), 2, None),
        ("k1", None, 3, None)))
    }

    test(s"[fwd-$name] randomized cross-check vs brute force") {
      for (seed <- 511 to 514) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c")
        val l = Seq.tabulate(50) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40)), i)
        }
        val r = Seq.tabulate(35) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40)), i)
        }.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
        val tol = rnd.nextInt(6).toLong
        assert(run(impl, tol)(leftDf(l), rightDf(r)) == bruteFwd(l, r, tol),
          s"seed=$seed tol=$tol")
      }
    }
  }

  // ---- NEAREST tolerance: three formulations vs brute force ----

  private val nearImpls: Seq[(String, Impl)] = Seq(
    "composed" -> asof("nearest", "composed"),
    "native" -> asof("nearest", "sortmerge"),
    "broadcast" -> asof("nearest", "broadcast"))

  private def bruteNear(l: Seq[(String, Option[Int], Int)],
                        r: Seq[(String, Option[Int], Int)],
                        tol: Long): Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t.flatMap { lt =>
        val back = r.filter(x => x._1 == k && x._2.exists(rt =>
            rt <= lt && lt.toLong - rt <= tol))
          .sortBy(_._2.get).lastOption
        val fwd = r.filter(x => x._1 == k && x._2.exists(rt =>
            rt >= lt && rt.toLong - lt <= tol))
          .sortBy(_._2.get).headOption
        (back, fwd) match {
          case (Some(b), Some(f)) =>
            // tie → backward (pandas nearest rule)
            if (lt.toLong - b._2.get <= f._2.get.toLong - lt) Some(b._3)
            else Some(f._3)
          case (Some(b), None) => Some(b._3)
          case (None, Some(f)) => Some(f._3)
          case _ => None
        }
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  for ((name, impl) <- nearImpls) {
    test(s"[near-$name] per-direction bound: stale backward loses to in-bound forward") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // back at 3 (dist 7 > 4, OUT); fwd at 13 (dist 3, in) → 130
        ("k1", Some(20), 2),  // back at 18 (dist 2, in); fwd at 21 (dist 1, in, nearer) → 210
        ("k1", Some(40), 3),  // nothing within 4 on either side → null
        ("k1", None, 4)))     // null left time → null under tolerance
      val r = rightDf(Seq(("k1", Some(3), 30), ("k1", Some(13), 130),
        ("k1", Some(18), 180), ("k1", Some(21), 210), ("k1", Some(50), 500)))
      assert(run(impl, 4L)(l, r) == Seq(
        ("k1", Some(10), 1, Some(130)),
        ("k1", Some(20), 2, Some(210)),
        ("k1", Some(40), 3, None),
        ("k1", None, 4, None)))
    }

    test(s"[near-$name] equidistant within bound ties to backward") {
      val l = leftDf(Seq(("k1", Some(10), 1)))
      val r = rightDf(Seq(("k1", Some(8), 80), ("k1", Some(12), 120)))
      assert(run(impl, 5L)(l, r) == Seq(("k1", Some(10), 1, Some(80))))
    }

    test(s"[near-$name] randomized cross-check vs brute force") {
      for (seed <- 521 to 524) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c")
        val l = Seq.tabulate(50) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40)), i)
        }
        val r = Seq.tabulate(35) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(40)), i)
        }.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
        val tol = rnd.nextInt(6).toLong
        assert(run(impl, tol)(leftDf(l), rightDf(r)) == bruteNear(l, r, tol),
          s"seed=$seed tol=$tol")
      }
    }
  }

  test("timestamp tolerance in MICROS matches the day-scale brute force") {
    val l = Seq(("u1", "2024-01-10 00:00:00", 1), ("u1", "2024-01-20 00:00:00", 2))
      .toDF("k", "ts_s", "left_id")
      .select(col("k"), col("ts_s").cast("timestamp").as("t"), col("left_id"))
    val r = Seq(("u1", "2024-01-08 00:00:00", 80))
      .toDF("rk", "ts_s", "p")
      .select(col("rk"), col("ts_s").cast("timestamp").as("rt"), col("p"))
    val tol = 5L * 24 * 3600 * 1000000L // 5 days in micros
    for ((name, impl) <- impls) {
      val got = impl(l, r, "k", "rk", "t", "rt", Seq("p"), tol)
        .select("left_id", "p").as[(Int, Option[Int])]
        .collect().sortBy(_._1).toSeq
      // Jan 10 is 2 days after Jan 8 → match; Jan 20 is 12 days → expired
      assert(got == Seq((1, Some(80)), (2, None)), s"[$name] got $got")
    }
  }

  test("native tolerance is overflow-exact at raw-Long extremes") {
    // lt huge positive, rt huge negative: lt - rt wraps to a small
    // positive number that WOULD pass tol=100 — true distance ≈ 2^64
    val l = Seq(("k1", Long.MaxValue - 10, 1)).toDF("k", "t", "left_id")
    val r = Seq(("k1", Long.MinValue + 10, 99)).toDF("rk", "rt", "p")
    for ((name, impl) <- Seq(
        "native" -> asof("backward", "sortmerge"),
        "broadcast" -> asof("backward", "broadcast"))) {
      val got = impl(l, r, "k", "rk", "t", "rt", Seq("p"), 100L)
        .select("left_id", "p").as[(Int, Option[Int])].collect().toSeq
      assert(got == Seq((1, None)), s"[$name] got $got")
    }
  }
}
