package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-semantics spec for STRICT as-of joins (pandas
  * `merge_asof(allow_exact_matches=False)`): a right row stamped at
  * EXACTLY the left time never matches. Contract, per direction:
  *   - backward: latest right with `rt < lt` STRICTLY;
  *   - forward:  earliest right with `rt > lt` STRICTLY;
  *   - nearest:  the nearer of the two strict candidates, tie →
  *     backward (distance rule unchanged — only the candidate sets
  *     shrink by the exact-time row);
  *   - null times order SMALLEST: under strict a null-time left row
  *     has no backward match (nothing is strictly before null) and
  *     its forward match is the key's first NON-null-time right;
  *   - composes with tolerance: the strict candidate must also sit
  *     within the bound (strict + tolerance=0 can never match on
  *     integral times — the distance is at least 1).
  *
  * Every case runs against all formulations (window / native
  * sort-merge / broadcast; nearest adds the composed two-join form)
  * plus a per-key brute-force oracle, exactly the ToleranceAsOfSpec
  * discipline. The datasets are tie-HEAVY: right rows are planted at
  * left times so the exact-exclusion branch fires constantly.
  */
class StrictAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leftDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("k", "t", "left_id")
  private def rightDf(rows: Seq[(String, Option[Int], Int)]): DataFrame =
    rows.toDF("rk", "rt", "p")

  private type Impl = (DataFrame, DataFrame, String, String, String, String,
    Seq[String]) => DataFrame

  private def strictImpl(direction: String, strategy: String): Impl =
    AsOfJoin.asof(_, _, _, _, _, _, _, direction = direction,
      strategy = strategy, allowExactMatches = false)

  private def run(impl: Impl)(l: DataFrame, r: DataFrame)
      : Seq[(String, Option[Int], Int, Option[Int])] =
    impl(l, r, "k", "rk", "t", "rt", Seq("p"))
      .select(col("k"), col("t"), col("left_id"), col("p"))
      .as[(String, Option[Int], Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._3)).toSeq

  // ---- brute-force oracles (ordering semantics: None sorts smallest) --

  /** latest right strictly before lt; a null-rt right IS strictly
    * before any non-null lt (null orders smallest), and "latest"
    * prefers the largest non-null rt. */
  private def bruteBack(l: Seq[(String, Option[Int], Int)],
                        r: Seq[(String, Option[Int], Int)])
      : Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t.flatMap { lt =>
        val cands = r.filter(x => x._1 == k &&
          (x._2.isEmpty || x._2.exists(_ < lt)))
        if (cands.isEmpty) None
        else Some(cands.maxBy(_._2.getOrElse(Int.MinValue))._3)
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  /** earliest right strictly after lt; for a null lt that is every
    * NON-null-time right (nothing compares strictly above null except
    * non-null). */
  private def bruteFwd(l: Seq[(String, Option[Int], Int)],
                       r: Seq[(String, Option[Int], Int)])
      : Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val cands = t match {
        case Some(lt) => r.filter(x => x._1 == k && x._2.exists(_ > lt))
        case None => r.filter(x => x._1 == k && x._2.isDefined)
      }
      val m = if (cands.isEmpty) None else Some(cands.minBy(_._2.get)._3)
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  /** nearer of the strict candidates; a null-time backward candidate
    * LOSES (no distance), tie → backward — the composed projection's
    * rule over the strict single-direction joins. */
  private def bruteNear(l: Seq[(String, Option[Int], Int)],
                        r: Seq[(String, Option[Int], Int)])
      : Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t match {
        case None =>
          // backward: nothing strictly before null; forward: first
          // non-null-time right
          val f = r.filter(x => x._1 == k && x._2.isDefined)
          if (f.isEmpty) None else Some(f.minBy(_._2.get)._3)
        case Some(lt) =>
          val backAll = r.filter(x => x._1 == k &&
            (x._2.isEmpty || x._2.exists(_ < lt)))
          val back = if (backAll.isEmpty) None
            else Some(backAll.maxBy(_._2.getOrElse(Int.MinValue)))
          val fwdAll = r.filter(x => x._1 == k && x._2.exists(_ > lt))
          val fwd = if (fwdAll.isEmpty) None else Some(fwdAll.minBy(_._2.get))
          val backWins = back.exists(_._2.isDefined) && (fwd.isEmpty ||
            lt.toLong - back.get._2.get <= fwd.get._2.get.toLong - lt)
          if (backWins) back.map(_._3) else fwd.map(_._3)
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  private def randomData(seed: Int)
      : (Seq[(String, Option[Int], Int)], Seq[(String, Option[Int], Int)]) = {
    val rnd = new scala.util.Random(seed)
    val keys = Seq("a", "b", "c")
    // SMALL time domain (0..11) → constant exact collisions between
    // left and right times, the branch this spec exists to pin
    val l = Seq.tabulate(50) { i =>
      (keys(rnd.nextInt(3)),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12)), i)
    }
    val r = Seq.tabulate(30) { i =>
      (keys(rnd.nextInt(3)),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12)), i)
    }.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq // dedup (key, time)
    (l, r)
  }

  // ---- backward strict --------------------------------------------

  private val backImpls: Seq[(String, Impl)] = Seq(
    "window" -> strictImpl("backward", "window"),
    "native" -> strictImpl("backward", "sortmerge"),
    "broadcast" -> strictImpl("backward", "broadcast"))

  for ((name, impl) <- backImpls) {
    test(s"[back-$name] exact-time right never matches; earlier one does") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // rights at 10 (excluded) and 7 → 70
        ("k1", Some(7), 2),   // right at 7 excluded; the null-time right
                              // IS strictly before 7 (null orders
                              // smallest) → -1
        ("k1", None, 3)))     // nothing strictly before null → null
      val r = rightDf(Seq(("k1", Some(7), 70), ("k1", Some(10), 100),
        ("k1", None, -1)))
      assert(run(impl)(l, r) == Seq(
        ("k1", Some(10), 1, Some(70)),
        ("k1", Some(7), 2, Some(-1)),
        ("k1", None, 3, None)))
    }

    test(s"[back-$name] randomized tie-heavy cross-check vs brute force") {
      for (seed <- 601 to 604) {
        val (l, r) = randomData(seed)
        assert(run(impl)(leftDf(l), rightDf(r)) == bruteBack(l, r),
          s"seed=$seed")
      }
    }
  }

  // ---- forward strict ---------------------------------------------

  private val fwdImpls: Seq[(String, Impl)] = Seq(
    "window" -> strictImpl("forward", "window"),
    "native" -> strictImpl("forward", "sortmerge"),
    "broadcast" -> strictImpl("forward", "broadcast"))

  for ((name, impl) <- fwdImpls) {
    test(s"[fwd-$name] exact-time right never matches; later one does") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // rights at 10 (excluded) and 13 → 130
        ("k1", Some(13), 2),  // right at 13 excluded, nothing later → null
        ("k1", None, 3)))     // forward of null = first NON-null right → 100
      val r = rightDf(Seq(("k1", Some(10), 100), ("k1", Some(13), 130),
        ("k1", None, -1)))
      assert(run(impl)(l, r) == Seq(
        ("k1", Some(10), 1, Some(130)),
        ("k1", Some(13), 2, None),
        ("k1", None, 3, Some(100))))
    }

    test(s"[fwd-$name] randomized tie-heavy cross-check vs brute force") {
      for (seed <- 611 to 614) {
        val (l, r) = randomData(seed)
        assert(run(impl)(leftDf(l), rightDf(r)) == bruteFwd(l, r),
          s"seed=$seed")
      }
    }
  }

  // ---- nearest strict ---------------------------------------------

  private val nearImpls: Seq[(String, Impl)] = Seq(
    "composed" -> strictImpl("nearest", "composed"),
    "native" -> strictImpl("nearest", "sortmerge"),
    "broadcast" -> strictImpl("nearest", "broadcast"))

  for ((name, impl) <- nearImpls) {
    test(s"[near-$name] exact-time excluded from BOTH directions") {
      val l = leftDf(Seq(
        ("k1", Some(10), 1),  // right AT 10 excluded; 8 (d2) vs 13 (d3) → 80
        ("k1", Some(13), 2),  // right AT 13 excluded; 10 (d3) vs 20 (d7) → 100
        ("k1", Some(16), 3))) // 13 (d3) vs 20 (d4) → 130
      val r = rightDf(Seq(("k1", Some(8), 80), ("k1", Some(10), 100),
        ("k1", Some(13), 130), ("k1", Some(20), 200)))
      assert(run(impl)(l, r) == Seq(
        ("k1", Some(10), 1, Some(80)),
        ("k1", Some(13), 2, Some(100)),
        ("k1", Some(16), 3, Some(130))))
    }

    test(s"[near-$name] equidistant strict candidates tie to backward") {
      val l = leftDf(Seq(("k1", Some(10), 1)))
      val r = rightDf(Seq(("k1", Some(8), 80), ("k1", Some(10), 100),
        ("k1", Some(12), 120)))
      assert(run(impl)(l, r) == Seq(("k1", Some(10), 1, Some(80))))
    }

    test(s"[near-$name] randomized tie-heavy cross-check vs brute force") {
      for (seed <- 621 to 624) {
        val (l, r) = randomData(seed)
        assert(run(impl)(leftDf(l), rightDf(r)) == bruteNear(l, r),
          s"seed=$seed")
      }
    }
  }

  // ---- strict + tolerance through the unified asof() entry --------

  private def runAsof(direction: String, strategy: String,
                      tol: Option[Long])(l: DataFrame, r: DataFrame)
      : Seq[(String, Option[Int], Int, Option[Int])] =
    AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("p"),
      direction = direction, strategy = strategy, tolerance = tol,
      allowExactMatches = false)
      .select(col("k"), col("t"), col("left_id"), col("p"))
      .as[(String, Option[Int], Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._3)).toSeq

  private def bruteStrictTol(direction: String,
                             l: Seq[(String, Option[Int], Int)],
                             r: Seq[(String, Option[Int], Int)],
                             tol: Long)
      : Seq[(String, Option[Int], Int, Option[Int])] =
    l.map { case (k, t, id) =>
      val m = t.flatMap { lt =>
        def back = r.filter(x => x._1 == k && x._2.exists(rt =>
          rt < lt && lt.toLong - rt <= tol)).sortBy(_._2.get).lastOption
        def fwd = r.filter(x => x._1 == k && x._2.exists(rt =>
          rt > lt && rt.toLong - lt <= tol)).sortBy(_._2.get).headOption
        direction match {
          case "backward" => back.map(_._3)
          case "forward" => fwd.map(_._3)
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lt.toLong - b._2.get <= f._2.get.toLong - lt) Some(b._3)
              else Some(f._3)
            case (b, f) => b.orElse(f).map(_._3)
          }
        }
      }
      (k, t, id, m)
    }.sortBy(x => (x._1, x._3))

  // the window formulation has no nearest form; nearest's third
  // formulation is the composed two-join one
  for (direction <- Seq("backward", "forward", "nearest");
       strategy <- Seq("sortmerge", "broadcast",
         if (direction == "nearest") "composed" else "window")) {
    test(s"[asof $direction/$strategy] strict + tolerance vs brute force") {
      for (seed <- 631 to 633) {
        val (l, r) = randomData(seed)
        val tol = new scala.util.Random(seed).nextInt(5).toLong
        assert(runAsof(direction, strategy, Some(tol))(leftDf(l), rightDf(r))
          == bruteStrictTol(direction, l, r, tol), s"seed=$seed tol=$tol")
      }
    }
  }

  test("strict + tolerance 0 on integral times can never match") {
    val l = leftDf(Seq(("k1", Some(10), 1), ("k1", Some(11), 2)))
    val r = rightDf(Seq(("k1", Some(10), 100), ("k1", Some(11), 110)))
    for (strategy <- Seq("sortmerge", "broadcast");
         direction <- Seq("backward", "forward", "nearest")) {
      assert(runAsof(direction, strategy, Some(0L))(l, r) == Seq(
        ("k1", Some(10), 1, None), ("k1", Some(11), 2, None)),
        s"$direction/$strategy")
    }
  }

  test("strict nearest: duplicate rights at exactly lt degrade to a NULL backward candidate, never an exact-time payload") {
    // The caller contract demands rights deduplicated per (key, time).
    // When it is VIOLATED with duplicates at exactly the left time, the
    // strict-nearest carry swap could land on the second duplicate —
    // still at lt — and an exact-time payload would leak (lookahead
    // bias). The guard must degrade the backward candidate to null
    // instead: the forward candidate wins if present, else no match.
    val l = leftDf(Seq(("k1", Some(10), 1), ("k2", Some(10), 2)))
    // k1: dups at 10 + a forward row at 15 → forward must win
    // k2: dups at 10 only → no match at all
    val r = Seq(
      ("k1", Some(10), 100), ("k1", Some(10), 101), ("k1", Some(15), 150),
      ("k2", Some(10), 200), ("k2", Some(10), 201)).toDF("rk", "rt", "p")
    val got = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"),
        direction = "nearest", allowExactMatches = false)
      .select(col("left_id"), col("p")).as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1, Some(150)), (2, None)),
      s"exact-time payload leaked through the dup-right swap: $got")
  }

  test("strict equals non-strict when no exact ties exist") {
    // disjoint time grids: left even, right odd — strict and plain
    // backward must agree row-for-row
    val l = (0 until 20).map(i => ("k1", Some(i * 2), i))
    val r = (0 until 10).map(i => ("k1", Some(i * 4 + 1), i))
    val strict = run(strictImpl("backward", "sortmerge"))(leftDf(l), rightDf(r))
    val plain = AsOfJoin.asof(
        leftDf(l), rightDf(r), "k", "rk", "t", "rt", Seq("p"))
      .select(col("k"), col("t"), col("left_id"), col("p"))
      .as[(String, Option[Int], Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._3)).toSeq
    assert(strict == plain)
  }
}
