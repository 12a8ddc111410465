package graft

import graft.streaming.IncrementalRollup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The incremental upsert + monthly-rollup loop (SURVEY.md §2.F): batch
  * merge semantics, late-data-always-wins, and the Structured Streaming
  * file-source path with Trigger.AvailableNow (the daily-cron surrogate,
  * reference daily_fetch.py:89). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_stream_").toString

  private def hist(rows: (String, String, java.math.BigDecimal)*) =
    rows.toDF("coin_id", "d", "price_usd")
      .select(col("coin_id"), to_date(col("d")).as("fetch_date"), col("price_usd"))

  private def dec(s: String) = new java.math.BigDecimal(s)

  private lazy val schema = hist().schema

  test("mergeBatch upserts history and maintains only touched rollup groups") {
    val r = IncrementalRollup(tmp() + "/hist", tmp() + "/roll", schema)
    r.mergeBatch(spark,
      hist(("btc", "2024-01-01", dec("10")), ("btc", "2024-01-02", dec("12")),
        ("eth", "2024-01-01", dec("5"))), 0)
    // batch 2: late re-delivery overwrites btc@01-01; new month for eth
    r.mergeBatch(spark,
      hist(("btc", "2024-01-01", dec("11")), ("eth", "2024-02-01", dec("7"))), 1)

    val t = r.table.snapshot(spark)
      .select(col("coin_id"), col("fetch_date").cast("string"), col("price_usd").cast("double"))
      .as[(String, String, Double)].collect().toSet
    assert(t == Set(
      ("btc", "2024-01-01", 11.0), ("btc", "2024-01-02", 12.0),
      ("eth", "2024-01-01", 5.0), ("eth", "2024-02-01", 7.0)))

    val roll = r.monthly(spark)
      .select(col("coin_id"), col("year"), col("month"),
        col("min_price_usd").cast("double"), col("max_price_usd").cast("double"))
      .as[(String, Int, Int, Double, Double)].collect().toSet
    assert(roll == Set(
      ("btc", 2024, 1, 11.0, 12.0),
      ("eth", 2024, 1, 5.0, 5.0),
      ("eth", 2024, 2, 7.0, 7.0)))
    // batch 2's rollup delta holds its two touched groups and nothing else
    val delta1 = r.rollup.store.live().collect { case (false, 1, d) => d.getPath }
    assert(delta1.size == 1 && spark.read.parquet(delta1.head).count() == 2)
  }

  test("mergeBatch is idempotent (re-delivered batch changes nothing)") {
    val r = IncrementalRollup(tmp() + "/hist", tmp() + "/roll", schema)
    val b = hist(("btc", "2024-03-01", dec("42")))
    r.mergeBatch(spark, b, 0)
    r.mergeBatch(spark, b, 0)
    assert(r.table.snapshot(spark).count() == 1)
    assert(r.monthly(spark).count() == 1)
    // the replay replaced its own deltas instead of adding new ones
    assert(r.table.store.deltaCount() == 1 && r.rollup.store.deltaCount() == 1)
  }

  test("watermarked tumbling-window aggregation drops too-late rows") {
    // The optional bounded-state mode (SURVEY.md §2.F): 10-minute windows,
    // 20-minute watermark, append mode — a row later than watermark past
    // its window's end is dropped instead of resurrecting closed state.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("w"), col("n"))
    val out = tmp()
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_agg")
      .option("checkpointLocation", out + "/ckpt").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 00:01:00"), 1.0), (t("2024-01-01 00:05:00"), 2.0))
    q.processAllAvailable()
    // advance the watermark far past the first window, closing it
    mem.addData((t("2024-01-01 01:00:00"), 3.0))
    q.processAllAvailable()
    // too-late row for the long-closed 00:00 window: must be dropped
    mem.addData((t("2024-01-01 00:02:00"), 4.0))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 02:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_agg")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.get("2024-01-01 00:00:00") == Some(2L),
      s"closed window must not include the late row; got $rows")
  }

  test("file-source stream with AvailableNow drains the landing dir once") {
    val in = tmp() + "/in"
    val (table, rollup, ckpt) = (tmp() + "/hist", tmp() + "/roll", tmp() + "/ckpt")
    hist(("btc", "2024-01-01", dec("10")), ("btc", "2024-01-02", dec("9")))
      .write.parquet(in)
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .parquet(in)
    val q = IncrementalRollup.start(spark, stream, table, rollup, ckpt)
    q.awaitTermination(120000)
    val ir = IncrementalRollup(table, rollup, schema)
    assert(ir.table.snapshot(spark).count() == 2)
    val r = ir.monthly(spark)
      .select(col("min_price_usd").cast("double"), col("max_price_usd").cast("double"))
      .as[(Double, Double)].collect().toSeq
    assert(r == Seq((9.0, 10.0)))
  }
}
