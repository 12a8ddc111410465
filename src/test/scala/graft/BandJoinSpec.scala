package graft

import graft.operators.BandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-semantics spec for the THREE band-join formulations of
  * [[BandJoin.bandJoin]] — native sort-merge (`sortmerge`, deque
  * bounded by band occupancy), broadcast (`broadcast`, two binary
  * searches per row), and the bucket-explode composition
  * (`bucketed`). Every case runs against all three
  * and a brute-force per-key scan. Band contract: same key AND
  * `rt − lt ∈ (lo, hi]` — lo EXCLUSIVE, hi INCLUSIVE; INNER semantics;
  * null times never match.
  */
class BandJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def leftDf(rows: Seq[(String, Int, Int)]): DataFrame =
    rows.toDF("k", "t", "left_id")
  private def rightDf(rows: Seq[(String, Int, Int)]): DataFrame =
    rows.toDF("rk", "rt", "payload")

  private type Impl =
    (DataFrame, DataFrame, String, String, String, String, Long, Long,
      Seq[String]) => DataFrame
  private def band(strategy: String): Impl =
    BandJoin.bandJoin(_, _, _, _, _, _, _, _, _, strategy = strategy)
  private val impls: Seq[(String, Impl)] = Seq(
    "native" -> band("sortmerge"),
    "broadcast" -> band("broadcast"),
    "bucketed" -> band("bucketed"))

  private def run(impl: Impl, lo: Long, hi: Long)(
      l: DataFrame, r: DataFrame): Seq[(String, Int, Int, Int)] =
    impl(l, r, "k", "rk", "t", "rt", lo, hi, Seq("payload"))
      .select(col("k"), col("t"), col("left_id"), col("payload"))
      .as[(String, Int, Int, Int)]
      .collect().sortBy(x => (x._1, x._2, x._3, x._4)).toSeq

  private def brute(l: Seq[(String, Int, Int)], r: Seq[(String, Int, Int)],
                    lo: Long, hi: Long): Seq[(String, Int, Int, Int)] =
    (for {
      (k, t, id) <- l
      (rk, rt, p) <- r
      if rk == k && (rt.toLong - t) > lo && (rt.toLong - t) <= hi
    } yield (k, t, id, p)).sortBy(x => (x._1, x._2, x._3, x._4))

  for ((name, impl) <- impls) {

    test(s"[$name] band boundaries: lo exclusive, hi inclusive") {
      val l = leftDf(Seq(("k1", 10, 1)))
      val r = rightDf(Seq(
        ("k1", 10, 100), // rt-lt = 0 = lo → excluded
        ("k1", 11, 110), // inside
        ("k1", 15, 150), // rt-lt = 5 = hi → included
        ("k1", 16, 160)  // above → excluded
      ))
      assert(run(impl, 0, 5)(l, r) ==
        Seq(("k1", 10, 1, 110), ("k1", 10, 1, 150)))
    }

    test(s"[$name] INNER semantics: empty bands and one-sided keys emit nothing") {
      val l = leftDf(Seq(("k1", 10, 1), ("k2", 99, 2)))
      val r = rightDf(Seq(("k1", 50, 500)))
      assert(run(impl, 0, 5)(l, r).isEmpty)
    }

    test(s"[$name] negative band: right rows BEFORE the left row") {
      // p - e in (-6, -1]: purchases 1..5 units before the event
      val l = leftDf(Seq(("k1", 10, 1)))
      val r = rightDf(Seq(("k1", 4, 40), ("k1", 5, 50), ("k1", 9, 90),
        ("k1", 10, 100)))
      assert(run(impl, -6, -1)(l, r) ==
        Seq(("k1", 10, 1, 50), ("k1", 10, 1, 90)))
    }

    test(s"[$name] randomized cross-check vs brute force (overlapping bands, duplicate times, multiple keys)") {
      for (seed <- 301 to 306) {
        val rnd = new scala.util.Random(seed)
        val keys = Seq("a", "b", "c")
        val l = (1 to 50).map(i => (keys(rnd.nextInt(3)), rnd.nextInt(60), i))
        val r = (1 to 80).map(i => (keys(rnd.nextInt(3)), rnd.nextInt(60), i * 10))
        val (lo, hi) = (rnd.nextInt(5).toLong - 2, rnd.nextInt(8).toLong + 3)
        assert(run(impl, lo, hi)(leftDf(l), rightDf(r)) == brute(l, r, lo, hi),
          s"seed=$seed lo=$lo hi=$hi")
      }
    }
  }

  test("null times never match; null keys group (native + broadcast)") {
    val l = Seq[(String, Option[Int], Int)](
      ("k1", None, 1), ("k1", Some(10), 2), (null, Some(5), 3)
    ).toDF("k", "t", "left_id")
    val r = Seq[(String, Option[Int], Int)](
      ("k1", None, 100), ("k1", Some(12), 120), (null, Some(6), 60)
    ).toDF("rk", "rt", "payload")
    for ((name, impl) <- impls.take(2)) {
      val got = impl(l, r, "k", "rk", "t", "rt", 0L, 5L, Seq("payload"))
        .select(col("left_id"), col("payload"))
        .as[(Int, Int)].collect().sortBy(identity).toSeq
      // left 2 (t=10) matches right 12; left 3 (null key) matches
      // null-key right at 6 (rt-lt = 1); null times match nothing
      assert(got == Seq((2, 120), (3, 60)), s"[$name] $got")
    }
  }

  test("native plan: one hash exchange per side; left never inflated") {
    val l = leftDf(Seq(("k1", 10, 1)))
    val r = rightDf(Seq(("k1", 12, 120)))
    val df = BandJoin.bandJoin(l, r, "k", "rk", "t", "rt", 0, 5, Seq("payload"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BandJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected one exchange per side, got $exchanges:\n$plan")
    assert(!plan.contains("Generate"), s"no explode of the left:\n$plan")
  }

  test("broadcast plan: BroadcastExchange right, NO shuffle and NO sort of the left") {
    val l = leftDf(Seq(("k1", 10, 1)))
    val r = rightDf(Seq(("k1", 12, 120)))
    val df = BandJoin.bandJoin(l, r, "k", "rk", "t", "rt", 0, 5, Seq("payload"),
      strategy = "broadcast")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastBandJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("auto strategy picks broadcast for a dim right, sort-merge when disabled; identical rows") {
    val l = leftDf(Seq(("k1", 10, 1), ("k1", 3, 2)))
    val r = rightDf(Seq(("k1", 12, 120), ("k1", 4, 40)))
    val auto = BandJoin.bandJoin(l, r, "k", "rk", "t", "rt", 0, 5, Seq("payload"),
      strategy = "auto")
    assert(auto.queryExecution.executedPlan.toString.contains("BroadcastBandJoin"))
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sm = BandJoin.bandJoin(l, r, "k", "rk", "t", "rt", 0, 5, Seq("payload"),
        strategy = "auto")
      val plan = sm.queryExecution.executedPlan.toString
      assert(plan.contains("BandJoin") && !plan.contains("BroadcastBandJoin"), plan)
      assert(sm.collect().toSet == auto.collect().toSet)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("timestamp band at sf0.001: native == bucketed == broadcast on the q93 attribution shape") {
    val dir = "/root/testdata/sf0.001"
    val W = 86400000000L
    val ev = Tables.df(spark, dir, "events")
      .selectExpr("event_id", "user_id",
        s"${Tables.eventsTsMicrosSql(spark, dir)} as t_us", "event_type")
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("t_us").as("p_us"))
    def canon(df: DataFrame) = df
      .select("purchase_id", "event_id")
      .as[(Long, Long)].collect().sortBy(identity).toSeq
    val native = canon(BandJoin.bandJoin(
      purch, ev, "user_id", "user_id", "p_us", "t_us", 0, W,
      Seq("event_id", "event_type")))
    val bucketed = canon(BandJoin.bandJoin(
      purch, ev, "user_id", "user_id", "p_us", "t_us", 0, W,
      Seq("event_id", "event_type"),
      strategy = "bucketed"))
    val bcast = canon(BandJoin.bandJoin(
      purch, ev, "user_id", "user_id", "p_us", "t_us", 0, W,
      Seq("event_id", "event_type"),
      strategy = "broadcast"))
    assert(native.nonEmpty)
    assert(native == bucketed)
    assert(native == bcast)
  }
}
