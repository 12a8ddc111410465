package graft

import graft.operators.{DeltaStore, IncrementalView, MorTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** IncrementalView: a grouped SUM+COUNT maintained purely from the
  * preimage change feed equals a fresh recompute from the table
  * snapshot after EVERY batch — updates subtract their preimage,
  * deletes remove membership, groups netting to zero vanish and can
  * return. */
class IncrementalViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val gschema = StructType(Seq(StructField("grp", StringType)))
  private lazy val schema = Seq(("x", "g", 0)).toDF("k", "grp", "v").schema

  private def rows(view: IncrementalView): Seq[(String, Double, Long)] =
    view.view(spark)
      .select(col("grp"), col("vsum").cast("double"), col("cnt"))
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq

  test("feed-maintained view tracks the snapshot recompute across updates, deletes, and group rebirth") {
    val root = Files.createTempDirectory("graft_ivm_").toString
    val t = MorTable(DeltaStore(s"$root/t", 8), Seq("k"), schema)
    val view = IncrementalView(DeltaStore(s"$root/v", 8), gschema)

    def applyBatch(b: Int): Unit =
      view.applyFeed(
        t.changes(spark, b - 1, b, preimage = true)
          .select(col("grp"), col("op"), col("v")),
        "v", b)

    def viewRows: Seq[(String, Double, Long)] = rows(view)

    def recompute: Seq[(String, Double, Long)] =
      t.snapshot(spark)
        .groupBy("grp")
        .agg(sum(Q.dec2(col("v"))).cast("double"), count(lit(1)))
        .as[(String, Double, Long)].collect().sortBy(_._1).toSeq

    t.upsert(Seq(("a", "x", 1), ("b", "y", 2)).toDF("k", "grp", "v"), 0)
    applyBatch(0)
    assert(viewRows == Seq(("x", 1.0, 1L), ("y", 2.0, 1L)))
    assert(viewRows == recompute)

    t.upsert(Seq(("a", "x", 5)).toDF("k", "grp", "v"), 1) // update: -1 +5
    applyBatch(1)
    assert(viewRows == Seq(("x", 5.0, 1L), ("y", 2.0, 1L)))
    assert(viewRows == recompute)

    t.delete(Seq("b").toDF("k"), 2) // y nets to zero -> vanishes
    applyBatch(2)
    assert(viewRows == Seq(("x", 5.0, 1L)))
    assert(viewRows == recompute)

    t.upsert(Seq(("c", "y", 4)).toDF("k", "grp", "v"), 3) // y reborn
    applyBatch(3)
    assert(viewRows == Seq(("x", 5.0, 1L), ("y", 4.0, 1L)))
    assert(viewRows == recompute)

    // compaction folds partials without changing the view
    view.compact(spark)
    assert(viewRows == recompute)
  }

  test("streaming CDC: the view follows the table through a foreachBatch pipeline, across checkpoint resume") {
    val root = Files.createTempDirectory("graft_ivm_stream_").toString
    val in = s"$root/in"
    val t = MorTable(DeltaStore(s"$root/t", 8), Seq("k"), schema)
    val view = IncrementalView(DeltaStore(s"$root/v", 8), gschema)

    // the end-to-end exactly-once composition: upsert, derive the
    // batch's change feed from the just-committed horizon, apply it to
    // the view — a replay re-derives the identical feed (changes reads
    // committed state at fixed bounds) and replaces the same view
    // delta, so every stage is idempotent by batch id
    def drain(): Unit = spark.readStream.schema(schema).parquet(in)
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val bid = id.toInt
        t.upsert(b.dropDuplicates("k"), bid)
        view.applyFeed(
          t.changes(spark, bid - 1, bid, preimage = true)
            .select(col("grp"), col("op"), col("v")),
          "v", bid)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)

    def viewRows: Seq[(String, Double, Long)] = rows(view)

    Seq(("a", "x", 1), ("b", "y", 2)).toDF("k", "grp", "v").write.parquet(in)
    drain()
    assert(viewRows == Seq(("x", 1.0, 1L), ("y", 2.0, 1L)))
    // resume from the SAME checkpoint with new data: update a, add c
    Seq(("a", "x", 7), ("c", "y", 4)).toDF("k", "grp", "v")
      .write.mode("append").parquet(in)
    drain()
    assert(viewRows == Seq(("x", 7.0, 1L), ("y", 6.0, 2L)))
    val recompute = t.snapshot(spark)
      .groupBy("grp").agg(sum(Q.dec2(col("v"))).cast("double"), count(lit(1)))
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(viewRows == recompute)
  }

  test("an unknown feed op fails the job instead of silently mis-signing") {
    val view = IncrementalView(DeltaStore(
      Files.createTempDirectory("graft_ivm_bad_").toString, 4), gschema)
    val bad = Seq(("g", "bogus", 1)).toDF("grp", "op", "v")
    val e = intercept[Exception] {
      view.applyFeed(bad, "v", 0)
    }
    assert(e.getMessage != null)
  }
}
