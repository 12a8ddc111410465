package graft

import graft.operators.{AsOfJoin, BandJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted BAND join + the stats-based skew ROUTER.
  *
  * Part 1 — [[BandJoin.bandJoinSalted]]: the salt recipe ported from
  * the as-of exec (SkewAsOfSpec) to the band exec, the second operator
  * SCALING.md names as AQE-unsplittable. Pins value equality salted ==
  * unsalted on a 90%-one-key corpus (inner AND left-outer, at PAIR
  * grain), plan shape (every exchange hash-partitions on (key,
  * __band_salt)), and the bucket-1 degeneracy.
  *
  * Part 2 — [[graft.operators.SkewRoute]] + asofAutoSkew /
  * bandJoinAutoSkew: the router must pick broadcast for a dim-sized
  * right, the salted form for a measured hot key, and the plain
  * sort-merge otherwise — and every route must return identical
  * values.
  */
class SkewBandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 90% of left rows on key "hot"; right: a dense timeline per key so
  // bands hold multiple rows (the 1:N grain that distinguishes band
  // from as-of)
  private def skewed() = {
    val rnd = new scala.util.Random(4321)
    val l = Seq.tabulate(3000) { i =>
      val k = if (i % 10 == 0) s"cold${i % 7}" else "hot"
      (k, rnd.nextInt(10000), i)
    }
    val r = (Seq("hot") ++ (0 until 7).map(i => s"cold$i")).flatMap { k =>
      // spacing 97 > the left-outer test's band width 40, so both
      // matched and empty-band left rows exist; < the inner tests'
      // width 100, so matches stay plentiful there
      Seq.tabulate(300)(j => (k, j * 97 + k.length, k.hashCode ^ j))
    }
    (l.toDF("k", "t", "left_id"), r.toDF("rk", "rt", "p"))
  }

  private def pairs(df: DataFrame): Seq[(Int, Option[Int])] =
    df.select(col("left_id"), col("p")).as[(Int, Option[Int])]
      .collect().sortBy(x => (x._1, x._2)).toSeq

  test("salted band == unsalted on a 90%-one-key corpus (inner, pair grain)") {
    val (l, r) = skewed()
    val unsalted = pairs(BandJoin.bandJoin(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 100, payload = Seq("p")))
    val salted = pairs(BandJoin.bandJoinSalted(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 100, payload = Seq("p"),
      buckets = 8))
    assert(unsalted.nonEmpty, "fixture must produce matches")
    assert(salted == unsalted)
  }

  test("salted LEFT OUTER band == unsalted: null-padded rows included") {
    val (l, r) = skewed()
    val unsalted = pairs(BandJoin.bandJoin(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 40, payload = Seq("p"),
      leftOuter = true))
    val salted = pairs(BandJoin.bandJoinSalted(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 40, payload = Seq("p"),
      buckets = 8, leftOuter = true))
    assert(salted == unsalted)
    // both match/no-match classes are exercised
    assert(salted.exists(_._2.isEmpty) && salted.exists(_._2.isDefined))
  }

  test("salted band plan exchanges on (key, __band_salt)") {
    val (l, r) = skewed()
    val df = BandJoin.bandJoinSalted(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 100, payload = Seq("p"),
      buckets = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BandJoin"), plan)
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toList
    assert(parts.nonEmpty, plan)
    parts.foreach(p => assert(p.contains("__band_salt"),
      s"exchange not salted: $p\n$plan"))
  }

  test("salt bucket 1 degenerates to the unsalted band join; collision rejected") {
    val (l, r) = skewed()
    val one = pairs(BandJoin.bandJoinSalted(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 100, payload = Seq("p"),
      buckets = 1))
    val ref = pairs(BandJoin.bandJoin(
      l, r, "k", "rk", "t", "rt", lo = 0, hi = 100, payload = Seq("p")))
    assert(one == ref)
    intercept[IllegalArgumentException] {
      BandJoin.bandJoinSalted(
        l.withColumnRenamed("left_id", "__band_salt"), r,
        "k", "rk", "t", "rt", 0, 100, Seq("p"), buckets = 4)
    }
  }

  // ---- part 2: the router ------------------------------------------

  /** Run `body` with temporary session confs, restoring the previous
    * values afterwards (shared TestSpark session). */
  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption
    }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("router: dim-sized right -> broadcast exec; fact side never exchanged") {
    val (l, r) = skewed()
    // default autoBroadcastJoinThreshold (10 MB) dwarfs the fixture
    val asof = AsOfJoin.asofAutoSkew(
      l, r, "k", "rk", "t", "rt", Seq("p"))
    assert(asof.queryExecution.executedPlan.toString
      .contains("BroadcastAsOfJoin"))
    val band = BandJoin.bandJoinAutoSkew(
      l, r, "k", "rk", "t", "rt", 0, 100, Seq("p"))
    assert(band.queryExecution.executedPlan.toString
      .contains("BroadcastBandJoin"))
  }

  test("router: broadcast disabled + measured hot key -> salted plan; values identical") {
    val (l, r) = skewed()
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.skew.minRows" -> "100") {
      val asof = AsOfJoin.asofAutoSkew(
        l, r, "k", "rk", "t", "rt", Seq("p"), buckets = Some(8))
      assert(asof.queryExecution.executedPlan.toString
        .contains("__asof_salt"))
      val want = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"))
      assert(pairs(asof) == pairs(want))

      val band = BandJoin.bandJoinAutoSkew(
        l, r, "k", "rk", "t", "rt", 0, 100, Seq("p"), buckets = Some(8))
      assert(band.queryExecution.executedPlan.toString
        .contains("__band_salt"))
      val bandWant = BandJoin.bandJoin(
        l, r, "k", "rk", "t", "rt", 0, 100, Seq("p"))
      assert(pairs(band) == pairs(bandWant))
    }
  }

  test("router: broadcast disabled + uniform keys -> plain sort-merge, no salt") {
    // uniform: 60 keys x 50 rows — max share ~1.7%, far under 20%
    val l = Seq.tabulate(3000)(i => (s"k${i % 60}", i % 997, i))
      .toDF("k", "t", "left_id")
    val r = Seq.tabulate(600)(i => (s"k${i % 60}", i * 3 % 997, i))
      .toDF("rk", "rt", "p")
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.skew.minRows" -> "100") {
      val asof = AsOfJoin.asofAutoSkew(
        l, r, "k", "rk", "t", "rt", Seq("p"))
      val plan = asof.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin") && !plan.contains("__asof_salt"), plan)
      val band = BandJoin.bandJoinAutoSkew(
        l, r, "k", "rk", "t", "rt", 0, 100, Seq("p"))
      val bplan = band.queryExecution.executedPlan.toString
      assert(bplan.contains("BandJoin") && !bplan.contains("__band_salt"),
        bplan)
    }
  }

  test("router: tiny input (under minRows) never salts") {
    val l = Seq.tabulate(50)(i => ("hot", i, i)).toDF("k", "t", "left_id")
    val r = Seq.tabulate(10)(i => ("hot", i * 5, i)).toDF("rk", "rt", "p")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val asof = AsOfJoin.asofAutoSkew(
        l, r, "k", "rk", "t", "rt", Seq("p"))
      assert(!asof.queryExecution.executedPlan.toString
        .contains("__asof_salt"))
    }
  }
}
