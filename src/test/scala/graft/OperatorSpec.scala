package graft

import graft.functions.Format
import graft.operators.{Rolling, Streaks, TopK, Upsert}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------------------------- Upsert
  test("upsert keeps highest version and is idempotent") {
    val base = Seq((1, "a", 1), (2, "b", 1)).toDF("k", "v", "ver")
    val upd = Seq((2, "b2", 2), (3, "c", 1)).toDF("k", "v", "ver")
    val once = Upsert.upsert(base, upd, Seq("k"), "ver")
    val twice = Upsert.upsert(once, upd, Seq("k"), "ver")
    val expect = Set((1, "a", 1), (2, "b2", 2), (3, "c", 1))
    assert(once.as[(Int, String, Int)].collect().toSet == expect)
    assert(twice.as[(Int, String, Int)].collect().toSet == expect)
  }

  test("upsert ties break toward the update side (late data wins)") {
    val base = Seq((1, "old", 5)).toDF("k", "v", "ver")
    val upd = Seq((1, "new", 5)).toDF("k", "v", "ver")
    val got = Upsert.upsert(base, upd, Seq("k"), "ver").as[(Int, String, Int)].collect()
    assert(got.toSeq == Seq((1, "new", 5)))
  }

  // ---------------------------------------------------------------- Streaks
  test("dropStreaks finds runs of >= minLen consecutive drops") {
    // key A: 10, 9, 8, 7 (3-drop streak), 8, 6 (1-drop) -> one streak of 3
    // key B: strictly rising -> none
    val df = Seq(
      ("A", 1, 10.0), ("A", 2, 9.0), ("A", 3, 8.0), ("A", 4, 7.0),
      ("A", 5, 8.0), ("A", 6, 6.0),
      ("B", 1, 1.0), ("B", 2, 2.0), ("B", 3, 3.0))
      .toDF("k", "t", "v")
    val got = Streaks.dropStreaks(df, "k", "t", "v", 3)
      .select("k", "streak_len", "lowest_value", "end_ord")
      .as[(String, Long, Double, Int)].collect().toSet
    assert(got == Set(("A", 3L, 7.0, 4)))
  }

  test("dropStreaks: equal consecutive values are not drops") {
    val df = Seq(("A", 1, 5.0), ("A", 2, 5.0), ("A", 3, 5.0), ("A", 4, 4.0))
      .toDF("k", "t", "v")
    assert(Streaks.dropStreaks(df, "k", "t", "v", 1)
      .as[(String, Long, Double, Int)].collect().length == 1)
  }

  // ---------------------------------------------------------------- TopK
  test("topKPerGroup returns k rows per group in order, deterministic ties") {
    val df = Seq(("g", 1, 10.0), ("g", 2, 10.0), ("g", 3, 5.0), ("h", 4, 1.0))
      .toDF("grp", "id", "score")
    val got = TopK.topKPerGroup(df, Seq("grp"),
        Seq(col("score").desc, col("id").asc), 2)
      .select("grp", "rank_in_group", "id")
      .as[(String, Int, Int)].collect().toSet
    assert(got == Set(("g", 1, 1), ("g", 2, 2), ("h", 1, 4)))
  }

  // ---------------------------------------------------------------- Format
  test("money2 renders half-up two-decimal strings") {
    val df = Seq(2.055, 0.0, 1.5, 33.333, 2.004).toDF("x")
      .select(Format.money2(col("x")).as("s"))
    assert(df.as[String].collect().toSeq ==
      Seq("2.06", "0.00", "1.50", "33.33", "2.00"))
  }

  test("humanize picks hi/lo scale like the reference's T/B rendering") {
    val df = Seq(60.0, 12.0, 3.0).toDF("x")
      .select(Format.humanize(col("x"), 30.0, 10.0).as("s"))
    assert(df.as[String].collect().toSeq == Seq("2.00H", "1.20L", "0.30L"))
  }

  // ---------------------------------------------------------------- Rolling
  test("rolling var_pop matches np.var(ddof=0) brute force; null until full") {
    val vals = Seq(4.0, 7.0, 13.0, 16.0, 1.0, 9.0, 2.0, 5.0, 11.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", i, v) }.toDF("k", "t", "v")
    val w = Window.partitionBy("k").orderBy("t").rowsBetween(-3, 0)
    val got = df.select(Rolling.varPop(col("v"), w, 4).as("vp")).as[Option[Double]].collect()
    def brute(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    assert(got.take(3).forall(_.isEmpty), "frames shorter than 4 must be null")
    vals.indices.drop(3).foreach { i =>
      val expect = brute(vals.slice(i - 3, i + 1))
      assert(math.abs(got(i).get - expect) < 1e-9, s"row $i")
    }
  }

  test("rolling skewG1 matches pandas-style bias-corrected skewness") {
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 5.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", i, v) }.toDF("k", "t", "v")
    val w = Window.partitionBy("k").orderBy("t").rowsBetween(-6, 0)
    val got = df
      .select(
        col("t"),
        Rolling.n(col("v"), w).as("_n"), Rolling.s1(col("v"), w).as("_s1"),
        Rolling.s2(col("v"), w).as("_s2"), Rolling.s3(col("v"), w).as("_s3"))
      .select(col("t"), Rolling.skewG1FromSums(
        col("_n"), col("_s1"), col("_s2"), col("_s3"), 7).as("sk"))
      .orderBy("t").as[(Int, Option[Double])].collect()
    def bruteG1(xs: Seq[Double]): Double = {
      val n = xs.size.toDouble
      val m = xs.sum / n
      val m2 = xs.map(x => math.pow(x - m, 2)).sum / n
      val m3 = xs.map(x => math.pow(x - m, 3)).sum / n
      (m3 / math.pow(m2, 1.5)) * math.sqrt(n * (n - 1)) / (n - 2)
    }
    assert(got.take(6).forall(_._2.isEmpty))
    assert(math.abs(got(6)._2.get - bruteG1(vals.take(7))) < 1e-9)
    assert(math.abs(got(7)._2.get - bruteG1(vals.slice(1, 8))) < 1e-9)
  }
}
