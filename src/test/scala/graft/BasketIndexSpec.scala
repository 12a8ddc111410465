package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Association-rule maintenance ([[graft.operators.BasketIndex]]):
  * maintained pair/brand/order counts equal the one-shot DISTINCT
  * aggregation across random batch splits where orders STRADDLE
  * batches and brands repeat within an order — the two hazards the
  * membership anti-join exists for — plus a mid-run compact, a
  * replayed wave, and strict-subset bucket reads. The DuckDB gate
  * (q245/q246 on q198's oracle) certifies end-to-end; here the delta
  * identity itself is pinned adversarially.
  */
class BasketIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"basket_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  private def oneShot(rows: org.apache.spark.sql.DataFrame) = {
    val ob = rows.select("ok", "brand").distinct()
    val pairs = ob.select(col("ok"), col("brand").as("brand_a"))
      .join(ob.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
      .where(col("brand_a") < col("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
    (pairs, ob.groupBy("brand").agg(count(lit(1)).as("n")),
      ob.agg(countDistinct("ok").as("n_orders")))
  }

  private def sortedPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("brand_a", "brand_b", "n_ab").as[(String, String, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  private def sortedBrands(df: org.apache.spark.sql.DataFrame) =
    df.selectExpr("brand", "CAST(n AS LONG)").as[(String, Long)]
      .collect().sortBy(_._1).toSeq

  test("maintained counts == one-shot across straddling splits + compact + replay") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // ~80 orders x up to 6 lines from an 8-brand universe: dense
      // repeats within orders, orders guaranteed to straddle waves
      val rows = (0 until 400)
        .map(_ => (rnd.nextInt(80).toLong, s"B${rnd.nextInt(8)}"))
        .toDF("ok", "brand").cache()
      val (ePairs, eBrands, eOrders) = oneShot(rows)
      val expPairs = sortedPairs(ePairs)
      val expBrands = sortedBrands(eBrands)
      val expOrders = eOrders.as[Long].head()
      val r = root(s"rand$seed")
      val read = collection.mutable.Set.empty[Int]
      graft.operators.BasketIndex.onPrunedRead =
        (_, bs) => { read ++= bs; () }
      try {
        def wave(i: Int) = rows
          .where(pmod(hash(col("ok"), col("brand"), lit(seed)), lit(4)) === i)
        (0 until 4).foreach { i =>
          graft.operators.BasketIndex(r).appendWave(spark, wave(i), i)
          if (i == 1) graft.operators.BasketIndex(r).compact(spark)
        }
        // replay of the last wave: the prior read excludes its own
        // delta, so the fresh set and every count delta re-derive
        // identically and replace the wave's rows
        graft.operators.BasketIndex(r).appendWave(spark, wave(3), 3)
        assert(sortedPairs(graft.operators.BasketIndex(r).pairs(spark))
          == expPairs, s"pairs seed $seed")
        assert(sortedBrands(graft.operators.BasketIndex(r).brands(spark))
          == expBrands, s"brands seed $seed")
        assert(graft.operators.BasketIndex(r).orderCount(spark)
          .as[Long].head() == expOrders, s"orders seed $seed")
      } finally {
        graft.operators.BasketIndex.onPrunedRead = (_, _) => ()
      }
      rows.unpersist()
    }
  }

  test("membership read prunes to the batch orders' buckets") {
    val r = root("prune")
    // wave 0 seeds orders across many buckets; wave 1 touches ONE order
    val seedRows = (0 until 64).map(i => (i.toLong, "B1")).toDF("ok", "brand")
    graft.operators.BasketIndex(r).appendWave(spark, seedRows, 0)
    val read = collection.mutable.Set.empty[Int]
    graft.operators.BasketIndex.onPrunedRead = (_, bs) => { read ++= bs; () }
    try {
      graft.operators.BasketIndex(r).appendWave(spark,
        Seq((7L, "B2")).toDF("ok", "brand"), 1)
    } finally {
      graft.operators.BasketIndex.onPrunedRead = (_, _) => ()
    }
    assert(read.nonEmpty && read.size < 16,
      s"expected a strict bucket subset, read $read")
    // and the single-order wave paired correctly through the store
    assert(sortedPairs(graft.operators.BasketIndex(r).pairs(spark))
      == Seq(("B1", "B2", 1L)))
  }
}
