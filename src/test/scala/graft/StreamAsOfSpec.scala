package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Stream-static as-of enrichment: a micro-batched event stream joined
  * against a STATIC dimension (price feed / rate table) with the
  * broadcast as-of operator inside foreachBatch — the deployment shape
  * for continuous enrichment at scale (the dim broadcasts once per
  * batch, the event stream is never shuffled; per-row cost is a hash
  * probe + binary search, so a micro-batch's latency is its scan).
  *
  * As-of enrichment is ROW-WISE against a fixed right side, so the
  * result must be invariant to how the stream is micro-batched: the
  * test drains with maxFilesPerTrigger=1 (many tiny batches), appends a
  * second wave of files, resumes from the SAME checkpoint (exactly-once
  * across restarts), and pins the union of all enriched batches to the
  * one-shot BATCH window-formulation run over the full input.
  */
class StreamAsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_streamasof_").toString

  // rates: per key, a small time-versioned dimension
  private def dim(): DataFrame = Seq(
    ("a", 0, 10), ("a", 10, 11), ("a", 20, 12),
    ("b", 5, 100), ("b", 15, 101),
    ("c", 7, 1000)
  ).toDF("rk", "rt", "rate")

  private def wave(ids: Range, rnd: scala.util.Random): Seq[(Int, String, Int)] =
    ids.map { i =>
      (i, Seq("a", "b", "c", "d")(rnd.nextInt(4)), rnd.nextInt(30))
    }

  test("micro-batched broadcast as-of enrichment == one-shot batch run, " +
      "across a checkpoint resume") {
    val base = tmp()
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val rnd = new scala.util.Random(7)
    val wave1 = wave(1 to 40, rnd)
    val wave2 = wave(41 to 60, rnd)
    // several files → several micro-batches at maxFilesPerTrigger=1
    wave1.toDF("event_id", "k", "t").repartition(4).write.parquet(inDir)

    val d = dim()
    def drain(): Unit = {
      val sch = spark.read.parquet(inDir).schema
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          AsOfJoin.asof(b, d, "k", "rk", "t", "rt", Seq("rate"), strategy = "broadcast")
            .write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
    }
    drain()
    wave2.toDF("event_id", "k", "t").repartition(2)
      .write.mode("append").parquet(inDir)
    drain() // resumes from the checkpoint: only wave2 files are new

    val got = spark.read.parquet(outDir)
      .select("event_id", "k", "t", "rate")
      .as[(Int, String, Int, Option[Int])].collect().sortBy(_._1).toSeq
    val expected = AsOfJoin.asof(
        (wave1 ++ wave2).toDF("event_id", "k", "t"), d,
        "k", "rk", "t", "rt", Seq("rate"),
        strategy = "window")
      .select("event_id", "k", "t", "rate")
      .as[(Int, String, Int, Option[Int])].collect().sortBy(_._1).toSeq
    assert(got.size == 60)
    assert(got == expected)
  }
}
