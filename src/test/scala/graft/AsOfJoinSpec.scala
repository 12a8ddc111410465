package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedicated edge-semantics spec for the THREE as-of implementations —
  * the union+window formulation ([[AsOfJoin.asof]] strategy `window`),
  * the native sort-merge physical operator (`sortmerge`, one
  * co-partitioned merge pass), and the broadcast physical operator
  * (`broadcast`, right side broadcast as a
  * sorted index, fact side a pure map). Every test runs against ALL,
  * pinning them to each other and to a brute-force per-key oracle:
  *
  *  1. Equal-timestamp ties: right rows sort BEFORE left rows at the same
  *     timestamp (AsOfJoin tie rule), so the join has `<=` semantics — a
  *     left row at t sees a right row at exactly t.
  *  2. Struct all-or-nothing payload: a right row whose payload FIELD is
  *     genuinely NULL must surface that NULL, never a value back-filled
  *     from an OLDER right row (the field-mixing bug the single-struct
  *     carry exists to prevent).
  *
  * Plus a seeded randomized cross-check against a brute-force per-key
  * scan, with nullable payload fields, tie timestamps, and keys that
  * exist on only one side.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leftDf(rows: Seq[(String, Int, Int)]): DataFrame =
    rows.toDF("k", "t", "left_id")

  /** Right rows with a nullable payload field `a` and non-null `b`. */
  private def rightDf(rows: Seq[(String, Int, Option[Int], Int)]): DataFrame =
    rows.toDF("rk", "rt", "a", "b")

  private type Impl =
    (DataFrame, DataFrame, String, String, String, String, Seq[String]) => DataFrame
  private def asof(direction: String, strategy: String): Impl =
    AsOfJoin.asof(_, _, _, _, _, _, _, direction = direction, strategy = strategy)
  private val impls: Seq[(String, Impl)] = Seq(
    "window" -> asof("backward", "window"),
    "native" -> asof("backward", "sortmerge"),
    "broadcast" -> asof("backward", "broadcast"))

  private def run(impl: Impl)(l: DataFrame, r: DataFrame)
      : Array[(String, Int, Int, Option[Int], Option[Int])] =
    impl(l, r, "k", "rk", "t", "rt", Seq("a", "b"))
      .select(col("k"), col("t"), col("left_id"), col("a"), col("b"))
      .as[(String, Int, Int, Option[Int], Option[Int])]
      .collect().sortBy(x => (x._1, x._2, x._3))

  for ((name, impl) <- impls) {

    test(s"[$name] equal timestamps: left row at t matches the right row at exactly t (<= semantics)") {
      val l = leftDf(Seq(("k1", 10, 1), ("k1", 9, 2)))
      val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k1", 10, Some(100), 1000)))
      val got = run(impl)(l, r).map(x => (x._2, x._4, x._5)).toSeq
      // t=9 sees the t=5 row; t=10 sees the t=10 row, not the t=5 one
      assert(got == Seq((9, Some(50), Some(500)), (10, Some(100), Some(1000))))
    }

    test(s"[$name] genuinely NULL payload field is carried as NULL, not back-filled from an older right row") {
      val l = leftDf(Seq(("k1", 6, 1), ("k1", 2, 2)))
      val r = rightDf(Seq(("k1", 1, Some(11), 100), ("k1", 5, None, 900)))
      val got = run(impl)(l, r).map(x => (x._2, x._4, x._5)).toSeq
      // the t=6 left row must get (a=NULL, b=900) from the t=5 right row —
      // a=11 here would mean fields of two different right rows were mixed
      assert(got == Seq((2, Some(11), Some(100)), (6, None, Some(900))))
    }

    test(s"[$name] left rows before any right row, and keys with no right side, get an all-NULL payload") {
      val l = leftDf(Seq(("k1", 3, 1), ("k2", 99, 2)))
      val r = rightDf(Seq(("k1", 4, Some(1), 10)))
      val got = run(impl)(l, r).map(x => (x._1, x._4, x._5)).toSeq
      assert(got == Seq(("k1", None, None), ("k2", None, None)))
    }

    test(s"[$name] randomized cross-check vs brute-force per-key scan (ties, nulls, one-sided keys)") {
      for (seed <- 1 to 8) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c", "d", "e")
        // right: deduped by (key, time) per the operator's precondition
        val right = keys.flatMap { k =>
          rnd.shuffle((0 until 40).toList).take(4 + rnd.nextInt(10)).map { t =>
            (k, t, if (rnd.nextDouble() < 0.3) None else Some(rnd.nextInt(100)), rnd.nextInt(1000))
          }
        }.filter(_ => rnd.nextDouble() < 0.9) // some keys may lose all right rows
        val left = (1 to 60).map { i =>
          (keys(rnd.nextInt(keys.size + 1) min (keys.size - 1)), rnd.nextInt(40), i)
        }
        val expected = left.map { case (k, t, id) =>
          val cand = right.filter(r => r._1 == k && r._2 <= t)
          if (cand.isEmpty) (k, t, id, None: Option[Int], None: Option[Int])
          else {
            val best = cand.maxBy(_._2)
            (k, t, id, best._3, Some(best._4))
          }
        }.sortBy(x => (x._1, x._2, x._3))
        val got = run(impl)(leftDf(left), rightDf(right)).toSeq
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  test("native plan contains AsOfJoinExec and exactly one exchange per side") {
    val l = leftDf(Seq(("k1", 10, 1), ("k2", 9, 2)))
    val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k2", 10, Some(100), 1000)))
    val df = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected one hash exchange per side, got $exchanges:\n$plan")
  }

  test("broadcast plan: BroadcastExchange on the right, NO shuffle and NO sort of the left") {
    val l = leftDf(Seq(("k1", 10, 1), ("k2", 9, 2)))
    val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k2", 10, Some(100), 1000)))
    val df = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"), strategy = "broadcast")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact side must not shuffle:\n$plan")
    assert(!plan.contains("Sort "), s"fact side must not sort:\n$plan")
  }

  test("auto strategy: broadcasts a dim-sized right, sort-merges when disabled") {
    val l = leftDf(Seq(("k1", 10, 1), ("k2", 9, 2)))
    val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k2", 10, Some(100), 1000)))
    // tiny right side under the default 10 MB threshold → broadcast
    val auto = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"), strategy = "auto")
    assert(auto.queryExecution.executedPlan.toString.contains("BroadcastAsOfJoin"))
    // threshold disabled → the SAME unhinted call plans the sort-merge
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sm = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"), strategy = "auto")
      val plan = sm.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin") && !plan.contains("BroadcastAsOfJoin"), plan)
      // and both strategies return identical rows
      assert(sm.collect().toSet == auto.collect().toSet)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private val forwardImpls: Seq[(String, Impl)] = Seq(
    "fwd-window" -> asof("forward", "window"),
    "fwd-native" -> asof("forward", "sortmerge"),
    "fwd-broadcast" -> asof("forward", "broadcast"))

  for ((name, impl) <- forwardImpls) {

    test(s"[$name] equal timestamps: left row at t matches the right row at exactly t (>= semantics)") {
      val l = leftDf(Seq(("k1", 10, 1), ("k1", 11, 2)))
      val r = rightDf(Seq(("k1", 10, Some(100), 1000), ("k1", 15, Some(150), 1500)))
      val got = run(impl)(l, r).map(x => (x._2, x._4, x._5)).toSeq
      // t=10 sees the t=10 row (not t=15); t=11 sees the t=15 row
      assert(got == Seq((10, Some(100), Some(1000)), (11, Some(150), Some(1500))))
    }

    test(s"[$name] left rows after the last right row, and keys with no right side, get an all-NULL payload") {
      val l = leftDf(Seq(("k1", 99, 1), ("k2", 3, 2)))
      val r = rightDf(Seq(("k1", 4, Some(1), 10)))
      val got = run(impl)(l, r).map(x => (x._1, x._4, x._5)).toSeq
      assert(got == Seq(("k1", None, None), ("k2", None, None)))
    }

    test(s"[$name] randomized cross-check vs brute-force per-key forward scan") {
      for (seed <- 101 to 108) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c", "d", "e")
        val right = keys.flatMap { k =>
          rnd.shuffle((0 until 40).toList).take(4 + rnd.nextInt(10)).map { t =>
            (k, t, if (rnd.nextDouble() < 0.3) None else Some(rnd.nextInt(100)), rnd.nextInt(1000))
          }
        }.filter(_ => rnd.nextDouble() < 0.9)
        val left = (1 to 60).map { i =>
          (keys(rnd.nextInt(keys.size + 1) min (keys.size - 1)), rnd.nextInt(40), i)
        }
        val expected = left.map { case (k, t, id) =>
          val cand = right.filter(r => r._1 == k && r._2 >= t)
          if (cand.isEmpty) (k, t, id, None: Option[Int], None: Option[Int])
          else {
            val best = cand.minBy(_._2)
            (k, t, id, best._3, Some(best._4))
          }
        }.sortBy(x => (x._1, x._2, x._3))
        val got = run(impl)(leftDf(left), rightDf(right)).toSeq
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  private val nearestImpls: Seq[(String, Impl)] = Seq(
    "near-composed" -> asof("nearest", "composed"),
    "near-fused" -> asof("nearest", "sortmerge"),
    "near-broadcast" -> asof("nearest", "broadcast"))

  for ((name, impl) <- nearestImpls) {

    test(s"[$name] picks the closer of backward/forward, ties prefer backward") {
      val l = leftDf(Seq(("k1", 10, 1), ("k1", 14, 2), ("k1", 15, 3), ("k2", 5, 4)))
      val r = rightDf(Seq(("k1", 8, Some(80), 800), ("k1", 20, Some(200), 2000)))
      val got = impl(l, r, "k", "rk", "t", "rt", Seq("a", "b"))
        .select(col("t"), col("a"), col("b"))
        .as[(Int, Option[Int], Option[Int])].collect().sortBy(_._1).toSeq
      // t=10: back dist 2 vs fwd 10 → back; t=14: 6 vs 6 TIE → back;
      // t=15: 7 vs 5 → fwd; k2 has no right side → all-NULL
      assert(got == Seq(
        (5, None, None),
        (10, Some(80), Some(800)),
        (14, Some(80), Some(800)),
        (15, Some(200), Some(2000))))
    }

    test(s"[$name] randomized cross-check vs brute-force (closest distance, tie → backward)") {
      for (seed <- 201 to 206) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c")
        val right = keys.flatMap { k =>
          rnd.shuffle((0 until 40).toList).take(4 + rnd.nextInt(8)).map { t =>
            (k, t, Some(rnd.nextInt(100)): Option[Int], rnd.nextInt(1000))
          }
        }.filter(_ => rnd.nextDouble() < 0.9)
        val left = (1 to 40).map { i => (keys(rnd.nextInt(keys.size)), rnd.nextInt(40), i) }
        val expected = left.map { case (k, t, id) =>
          val cand = right.filter(_._1 == k)
          if (cand.isEmpty) (k, t, id, None: Option[Int], None: Option[Int])
          else {
            // min distance; tie (one back, one fwd) → the backward row
            val best = cand.minBy(r => ((r._2 - t).abs, if (r._2 <= t) 0 else 1))
            (k, t, id, best._3, Some(best._4))
          }
        }.sortBy(x => (x._1, x._2, x._3))
        val got = impl(leftDf(left), rightDf(right), "k", "rk", "t", "rt", Seq("a", "b"))
          .select(col("k"), col("t"), col("left_id"), col("a"), col("b"))
          .as[(String, Int, Int, Option[Int], Option[Int])]
          .collect().sortBy(x => (x._1, x._2, x._3)).toSeq
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  test("nearest null-time corners: fused execs match the composed projection verbatim") {
    // null times sort smallest; the composed rule is
    // `bt IS NOT NULL AND (ft IS NULL OR lt-bt <= ft-lt)` — so a
    // null-time backward match always LOSES, and a null-time LEFT row's
    // forward match is the key's FIRST right row. Pin all three
    // formulations to each other on every combination.
    val l = Seq[(String, Option[Int], Int)](
      ("k1", None, 1), ("k1", Some(5), 2), ("k1", Some(40), 3),
      ("k2", None, 4), ("k2", Some(7), 5),
      ("k3", None, 6), ("k3", Some(1), 7),
      ("k4", Some(3), 8)
    ).toDF("k", "t", "left_id")
    val r = Seq[(String, Option[Int], Option[Int], Int)](
      ("k1", None, Some(1), 10),    // null-time right: loses as backward
      ("k1", Some(30), Some(2), 20),
      ("k2", None, Some(3), 30),    // key with ONLY a null-time right
      ("k3", Some(9), Some(4), 40)  // null-lt left, no null-time rights
    ).toDF("rk", "rt", "a", "b")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("left_id"), col("a"), col("b"))
      .as[(String, Int, Option[Int], Option[Int])]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    val composed = canon(AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest", strategy = "composed"))
    val fused = canon(AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest"))
    val bcast = canon(AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest", strategy = "broadcast"))
    assert(fused == composed, s"fused=$fused\ncomposed=$composed")
    assert(bcast == composed, s"bcast=$bcast\ncomposed=$composed")
    // and the rule itself, spelled out: k1's null-lt left takes the
    // key's FIRST right row (the null-time one); k1 t=5 takes the
    // t=30 forward row because its backward match has a null time
    assert(composed.filter(_._1 == "k1").map(x => (x._2, x._3)) ==
      Seq((1, Some(1)), (2, Some(2)), (3, Some(2))))
  }

  test("fused nearest plans ONE exchange per side; the composition needs an extra left exchange") {
    val l = leftDf(Seq(("k1", 10, 1), ("k2", 9, 2)))
    val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k2", 10, Some(100), 1000)))
    val fused = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"), direction = "nearest")
    val fusedPlan = fused.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("AsOfJoin"), fusedPlan)
    val fusedEx = "Exchange hashpartitioning".r.findAllIn(fusedPlan).size
    assert(fusedEx == 2, s"fused nearest must cost ONE exchange per side, got $fusedEx:\n$fusedPlan")
    val composed = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest", strategy = "composed")
    val composedEx = "Exchange hashpartitioning".r
      .findAllIn(composed.queryExecution.executedPlan.toString).size
    assert(composedEx > fusedEx,
      s"composition should need more exchanges than the fused pass ($composedEx vs $fusedEx)")
  }

  test("broadcast nearest: BroadcastExchange on the right, NO shuffle and NO sort of the left") {
    val l = leftDf(Seq(("k1", 10, 1), ("k2", 9, 2)))
    val r = rightDf(Seq(("k1", 5, Some(50), 500), ("k2", 10, Some(100), 1000)))
    val df = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest", strategy = "broadcast")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), s"fact side must not shuffle:\n$plan")
    assert(!plan.contains("Sort "), s"fact side must not sort:\n$plan")
  }

  test("nearest auto strategy: broadcasts a dim-sized right, sort-merges when disabled; identical rows") {
    val l = leftDf(Seq(("k1", 10, 1), ("k1", 14, 2), ("k2", 9, 3)))
    val r = rightDf(Seq(("k1", 8, Some(80), 800), ("k1", 20, Some(200), 2000)))
    val auto = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
      direction = "nearest", strategy = "auto")
    assert(auto.queryExecution.executedPlan.toString.contains("BroadcastAsOfJoin"))
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sm = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b"),
        direction = "nearest", strategy = "auto")
      val plan = sm.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin") && !plan.contains("BroadcastAsOfJoin"), plan)
      assert(sm.collect().toSet == auto.collect().toSet)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("tolerance composes over any impl: carry rightTime in the payload, post-filter the match distance") {
    // backward as-of picks the NEAREST preceding right row, so a
    // tolerance bound is exactly a post-condition on the matched time —
    // no operator support needed, the payload can carry `rt` itself
    val l = leftDf(Seq(("k1", 10, 1), ("k1", 30, 2)))
    val r = rightDf(Seq(("k1", 8, Some(80), 800), ("k1", 12, Some(120), 1200)))
    val within5 = AsOfJoin.asof(l, r, "k", "rk", "t", "rt", Seq("a", "b", "rt"))
      .withColumn("a", when(col("t") - col("rt") <= 5, col("a")))
      .withColumn("b", when(col("t") - col("rt") <= 5, col("b")))
      .select(col("t"), col("a"), col("b"))
      .as[(Int, Option[Int], Option[Int])].collect().sortBy(_._1).toSeq
    // t=10 matches rt=8 (distance 2, kept); t=30 matches rt=12 (distance 18, nulled)
    assert(within5 == Seq((10, Some(80), Some(800)), (30, None, None)))
  }

  test("native as-of stays correct when AQE coalesces the co-partitioned exchanges") {
    // force aggressive post-shuffle coalescing (tiny data + a large min
    // partition size → AQE collapses both exchanges); the exec's merge
    // reads co-partitioned children, so AQE must coalesce BOTH sides
    // identically — this is the regression test for that contract
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64MB")
    try {
      val rnd = new scala.util.Random(42)
      val left = (1 to 500).map { i =>
        (s"k${rnd.nextInt(20)}", rnd.nextInt(1000), i)
      }
      val right = (0 until 20).flatMap { k =>
        (0 until 30).map(_ => (s"k$k", rnd.nextInt(1000),
          Some(rnd.nextInt(100)): Option[Int], rnd.nextInt(9999)))
      }.distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val viaWindow = run(asof("backward", "window"))(leftDf(left), rightDf(right)).toSeq
      val viaNative = run(asof("backward", "sortmerge"))(leftDf(left), rightDf(right)).toSeq
      assert(viaNative == viaWindow)
    } finally {
      prev match {
        case Some(v) => conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", v)
        case None => conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
      }
    }
  }

  test("broadcast impl at sf0.001: hash-identical to the window formulation on real tables") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val orders = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("asof_orderkey"))
    def canon(df: DataFrame) = df
      .select("event_id", "user_id", "ts", "asof_orderkey")
      .orderBy("event_id").collect().toSeq
    val viaWindow = canon(AsOfJoin.asof(
      ev, orders, "user_id", "o_custkey", "ts", "o_orderdate", Seq("asof_orderkey"),
      strategy = "window"))
    val viaBroadcast = canon(AsOfJoin.asof(
      ev, orders, "user_id", "o_custkey", "ts", "o_orderdate", Seq("asof_orderkey"),
      strategy = "broadcast"))
    assert(viaWindow.nonEmpty)
    assert(viaBroadcast == viaWindow)
  }
}
