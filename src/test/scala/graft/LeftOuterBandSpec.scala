package graft

import graft.operators.BandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LEFT OUTER band join semantics across both physical strategies:
  * every left row survives; a left with no in-band right (including a
  * null-time left, which can never match) emits exactly ONE
  * null-payload row. Matched lefts emit only their matches (no extra
  * null row). Pinned against a brute force and the inner variant.
  */
class LeftOuterBandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leftDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("k", "t", "left_id")
  private def rightDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("rk", "rt", "p")

  private type Impl = (DataFrame, DataFrame, String, String, String, String,
    Long, Long, Seq[String]) => DataFrame
  private def leftOuter(strategy: String): Impl =
    BandJoin.bandJoin(_, _, _, _, _, _, _, _, _, strategy = strategy,
      leftOuter = true)
  private val impls: Seq[(String, Impl)] = Seq(
    "native" -> leftOuter("sortmerge"),
    "broadcast" -> leftOuter("broadcast"))

  private def run(impl: Impl, lo: Long, hi: Long)(
      l: DataFrame, r: DataFrame): Seq[(String, Option[Int], Int, Option[Int])] =
    impl(l, r, "k", "rk", "t", "rt", lo, hi, Seq("p"))
      .select(col("k"), col("t"), col("left_id"), col("p"))
      .as[(String, Option[Int], Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._3, x._4)).toSeq

  private def brute(l: Seq[(String, Option[Int], Int)],
                    r: Seq[(String, Option[Int], Int)],
                    lo: Long, hi: Long): Seq[(String, Option[Int], Int, Option[Int])] =
    l.flatMap { case (k, t, id) =>
      val ms = t.toSeq.flatMap(lt => r.collect {
        case (rk, Some(rt), p)
          if rk == k && rt.toLong - lt > lo && rt.toLong - lt <= hi =>
          (k, t, id, Some(p))
      })
      if (ms.isEmpty) Seq((k, t, id, Option.empty[Int])) else ms
    }.sortBy(x => (x._1, x._3, x._4))

  for ((name, impl) <- impls) {

    test(s"[$name] unmatched, null-time, and one-sided lefts emit exactly one null row each") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // matches rt=12
        ("k1", Some(50), 2),  // nothing in (50, 55]
        ("k1", None, 3),      // null time never matches
        ("k2", Some(7), 4)))  // key absent on the right
      val r = rightDf(Seq(("k1", Some(12), 120), ("k1", None, -1)))
      val got = run(impl, 0L, 5L)(l, r)
      assert(got == Seq(
        ("k1", Some(10), 1, Some(120)),
        ("k1", Some(50), 2, None),
        ("k1", None, 3, None),
        ("k2", Some(7), 4, None)))
    }

    test(s"[$name] matched lefts emit matches only — no spurious null row") {
      val l = leftDf(Seq(("k1", Some(10), 1)))
      val r = rightDf(Seq(("k1", Some(11), 110), ("k1", Some(12), 120)))
      assert(run(impl, 0L, 5L)(l, r) == Seq(
        ("k1", Some(10), 1, Some(110)),
        ("k1", Some(10), 1, Some(120))))
    }

    test(s"[$name] randomized: outer == inner plus null rows for the unmatched lefts") {
      for (seed <- 701 to 704) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c")
        val l = Seq.tabulate(50) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40)), i)
        }
        val r = Seq.tabulate(40) { i =>
          (keys(rnd.nextInt(3)),
            if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40)), i)
        }
        val (lo, hi) = (-3L, 4L)
        assert(run(impl, lo, hi)(leftDf(l), rightDf(r)) == brute(l, r, lo, hi),
          s"seed=$seed")
      }
    }
  }
}
