package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Additive cell-table state ([[graft.operators.StatCellIndex]]): the
  * maintained cells equal the one-shot grouped count across random
  * batch splits, a mid-stream compact, and a replayed batch — the
  * additive-fold property the distribution-stat deployments
  * (q226–q229) build on. The DuckDB gate certifies the statistics
  * end-to-end; here the fold identity itself is pinned adversarially.
  */
class StatCellIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType),
    StructField("c", LongType)))

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"cells_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  private def sortedCells(df: org.apache.spark.sql.DataFrame) =
    df.select("x", "y", "c").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("maintained cells == one-shot grouped count across splits + compact + replay") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 5000)
        .map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(7).toLong))
        .toDF("x", "y").cache()
      val oneShot = sortedCells(rows.groupBy("x", "y")
        .agg(count(lit(1)).as("c")))
      val r = root(s"rand$seed")
      // deterministic content-keyed split: duplicate rows clump into
      // one wave, which additivity must absorb
      def wave(i: Int) =
        rows.where(pmod(hash(col("x"), col("y")), lit(4)) === i)
      (0 until 4).foreach { i =>
        graft.operators.StatCellIndex(r, schema).appendBatch(spark, wave(i), i)
        if (i == 1) graft.operators.StatCellIndex(r, schema).compact(spark)
      }
      // replay of the last batch: appendBatch reads nothing, so the
      // delta is rewritten identically and the fold is unchanged
      graft.operators.StatCellIndex(r, schema).appendBatch(spark, wave(3), 3)
      assert(sortedCells(graft.operators.StatCellIndex(r, schema)
        .cells(spark)) == oneShot, s"seed $seed")
      rows.unpersist()
    }
  }

  test("empty batch contributes no cells") {
    val r = root("empty")
    val rows = Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF("x", "y")
    graft.operators.StatCellIndex(r, schema).appendBatch(spark, rows, 0)
    graft.operators.StatCellIndex(r, schema).appendBatch(spark, rows.limit(0), 1)
    assert(sortedCells(graft.operators.StatCellIndex(r, schema).cells(spark))
      == Seq((1L, 2L, 2L), (3L, 4L, 1L)))
  }

  // ---- additive MOMENT variant (appendAgg over valueCols) ----

  private val momentSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("n", LongType),
    StructField("s", DecimalType(28, 2))))

  private def sortedMoments(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("n"), col("s").cast("string"))
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq

  test("maintained moment sums == one-shot grouped sums across splits + compact + replay") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val rows = (0 until 5000)
        .map(_ => (rnd.nextInt(9).toLong,
          BigDecimal(rnd.nextInt(100000)) / 100))
        .toDF("k", "v")
        .select(col("k"), lit(1L).as("n"),
          col("v").cast(DecimalType(18, 2)).as("s")).cache()
      val oneShot = sortedMoments(rows.groupBy("k")
        .agg(sum("n").as("n"), sum("s").cast(DecimalType(28, 2)).as("s")))
      val r = root(s"mom$seed")
      def wave(i: Int) = rows.where(pmod(hash(col("k"), col("s")), lit(4)) === i)
      (0 until 4).foreach { i =>
        graft.operators.StatCellIndex(r, momentSchema, Seq("n", "s"))
          .appendAgg(spark, wave(i), i)
        if (i == 1) graft.operators.StatCellIndex(r, momentSchema,
          Seq("n", "s")).compact(spark)
      }
      // replay: appendAgg reads nothing — the delta rewrites identically
      graft.operators.StatCellIndex(r, momentSchema, Seq("n", "s"))
        .appendAgg(spark, wave(3), 3)
      assert(sortedMoments(graft.operators.StatCellIndex(r, momentSchema,
        Seq("n", "s")).cells(spark)) == oneShot,
        s"seed $seed")
      rows.unpersist()
    }
  }
}
