package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental SCD2 maintenance ([[graft.operators.Scd2Index]]):
  * maintained == one-shot [[graft.operators.Scd2.intervals]] across
  * random time-split batches (including batches that EXTEND the open
  * run vs CLOSE it — the two merge cases), a mid-stream compact, an
  * empty batch, and the out-of-order refusal. The DuckDB gate (q209
  * vs q192's oracle verbatim) certifies the same equality engine-vs-
  * engine at sf0.01; here the batch boundaries are adversarial.
  */
class Scd2IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"scd2idx_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  // events: (k, tie, us, attr) — runs engineered so batch splits land
  // mid-run (extend case) and on run boundaries (close case)
  private def corpus(seed: Int, nKeys: Int, nPerKey: Int) = {
    val rnd = new scala.util.Random(seed)
    (for {
      k <- 0 until nKeys
      i <- 0 until nPerKey
    } yield {
      val us = i * 1000L + k // unique per key, shared order across keys
      (k.toLong, (k * nPerKey + i).toLong, us, rnd.nextInt(3))
    }).toDF("k", "tie", "us", "attr")
  }

  private def oneShot(df: org.apache.spark.sql.DataFrame) =
    graft.operators.Scd2.intervals(df, "k", "us", "tie", "attr",
        fromName = "valid_from_us", toName = "valid_to_us")
      .select("k", "island", "attr", "valid_from_us", "valid_to_us",
        "is_current", "n_events")
      .as[(Long, Long, Int, Long, Option[Long], Boolean, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  private def maintained(r: String) =
    graft.operators.Scd2Index(r).intervals(spark)
      .as[(Long, Long, Int, Long, Option[Long], Boolean, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("maintained == one-shot across random time-split batches + compacts") {
    for (seed <- 1 to 3) {
      val ev = corpus(seed, nKeys = 7, nPerKey = 40).cache()
      val r = root(s"rand$seed")
      // 4 waves at random time cuts; compact after wave 2
      val rnd = new scala.util.Random(seed * 17)
      val cuts = Seq.fill(3)(rnd.nextInt(39000).toLong).sorted
      val waves = Seq(
        ev.where(col("us") <= cuts(0)),
        ev.where(col("us") > cuts(0) && col("us") <= cuts(1)),
        ev.where(col("us") > cuts(1) && col("us") <= cuts(2)),
        ev.where(col("us") > cuts(2)))
      waves.zipWithIndex.foreach { case (w, i) =>
        graft.operators.Scd2Index(r).appendBatch(spark, w, i + 1)
        if (i == 1) graft.operators.Scd2Index(r).compact(spark)
      }
      assert(maintained(r) == oneShot(ev), s"seed $seed")
      ev.unpersist()
    }
  }

  test("empty batch is a no-op; replay of a committed batch passes the guard") {
    val ev = corpus(9, nKeys = 3, nPerKey = 10).cache()
    val r = root("replay")
    val w1 = ev.where(col("us") <= 4000L)
    val w2 = ev.where(col("us") > 4000L)
    graft.operators.Scd2Index(r).appendBatch(spark, w1, 1)
    graft.operators.Scd2Index(r).appendBatch(spark, ev.where(lit(false)), 2)
    graft.operators.Scd2Index(r).appendBatch(spark, w2, 3)
    // checkpoint replay: batch 3 re-appends identically and must PASS
    // the horizon guard (its own delta is excluded from the check)
    graft.operators.Scd2Index(r).appendBatch(spark, w2, 3)
    assert(maintained(r) == oneShot(ev))
    ev.unpersist()
  }

  test("duplicate (k, us) straddling run boundaries: stitch stays deterministic and == one-shot") {
    // Several same-microsecond events per key whose attrs CHANGE at the
    // duplicate timestamp, so batch compression emits two fragments of
    // one key sharing from_us — the case where ordering fragments by
    // from_us alone is nondeterministic and only the carried run-start
    // tie makes the stitch/interval windows total.
    val rows = for {
      k <- 0L until 5L
      i <- 0 until 30
    } yield {
      val us = (i / 3) * 1000L // triples share one timestamp
      val rnd = new scala.util.Random(k * 1000 + i)
      (k, k * 100 + i, us, rnd.nextInt(2))
    }
    val ev = rows.toDF("k", "tie", "us", "attr").cache()
    // two in-order waves, cut BETWEEN duplicate groups (us is the guard
    // boundary, so a duplicate group can never straddle batches)
    val r = root("dupus")
    graft.operators.Scd2Index(r).appendBatch(spark, ev.where(col("us") <= 4000L), 1)
    graft.operators.Scd2Index(r).appendBatch(spark, ev.where(col("us") > 4000L), 2)
    assert(maintained(r) == oneShot(ev))
    // same equality through the compact fold (stitch used as compaction)
    graft.operators.Scd2Index(r).compact(spark)
    assert(maintained(r) == oneShot(ev))
    ev.unpersist()
  }

  test("out-of-order append is refused loudly, not silently corrupted") {
    val ev = corpus(5, nKeys = 3, nPerKey = 10).cache()
    val r = root("ooo")
    graft.operators.Scd2Index(r).appendBatch(spark, ev.where(col("us") > 4000L), 1)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Scd2Index(r).appendBatch(
        spark, ev.where(col("us") <= 4000L), 2)
    }
    assert(ex.getMessage.contains("out-of-order"))
    ev.unpersist()
  }

  test("late data through merge-on-read: guard refusal + per-key repair == one-shot, and the late batch is NOT a no-op") {
    import graft.operators.{DeltaStore, MorTable, Scd2Index}
    import org.apache.spark.sql.types._
    // Engineered so the withheld early events CHANGE intervals: key 0's
    // run at us=1000..3000 is attr 1, but the withheld event (us=2000,
    // attr 9) SPLITS it — the index alone can never produce that split.
    val all = Seq(
      (0L, 1L, 1000L, 1), (0L, 2L, 2000L, 9), (0L, 3L, 3000L, 1),
      (0L, 4L, 9000L, 2),
      (1L, 5L, 1500L, 3), (1L, 6L, 8000L, 3)
    ).toDF("k", "tie", "us", "attr")
    val late = all.where(col("tie") === 2L) // the mid-run splitter
    val w1 = all.where(col("us") <= 4000L && col("tie") =!= 2L)
    val w2 = all.where(col("us") > 4000L)
    val r = root("latemor")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("tie", LongType), StructField("us", LongType),
      StructField("attr", IntegerType)))
    val bronze = MorTable(DeltaStore(s"$r/bronze"), Seq("tie"), schema)
    bronze.upsert(w1, 1); Scd2Index(s"$r/silver").appendBatch(spark, w1, 1)
    bronze.upsert(w2, 2); Scd2Index(s"$r/silver").appendBatch(spark, w2, 2)
    bronze.upsert(late, 3)
    intercept[IllegalArgumentException] {
      Scd2Index(s"$r/silver").appendBatch(spark, late, 3)
    }
    val affected = late.select("k").distinct()
    val repaired = graft.operators.Scd2.intervals(
        bronze.snapshot(spark).join(affected, Seq("k"), "left_semi"),
        "k", "us", "tie", "attr",
        fromName = "valid_from_us", toName = "valid_to_us")
      .select("k", "island", "attr", "valid_from_us", "valid_to_us",
        "is_current", "n_events")
    val untouched = Scd2Index(s"$r/silver").intervals(spark)
      .join(affected, Seq("k"), "left_anti")
      .select("k", "island", "attr", "valid_from_us", "valid_to_us",
        "is_current", "n_events")
    val merged = untouched.unionByName(repaired)
      .as[(Long, Long, Int, Long, Option[Long], Boolean, Long)]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    // merged view == one-shot over ALL events (late included)
    assert(merged == oneShot(all))
    // the late batch actually changed intervals: the index alone (in-
    // order events only) disagrees — key 0 has 2 runs without the
    // splitter, 4 with it
    assert(merged != maintained(s"$r/silver"))
    assert(merged.count(_._1 == 0L) == 4)
    assert(maintained(s"$r/silver").count(_._1 == 0L) == 2)
    // untouched keys (key 1) serve from the index bit-identically
    assert(merged.filter(_._1 == 1L)
      == maintained(s"$r/silver").filter(_._1 == 1L))
  }

  test("backfill re-admits repaired keys: index-only reads match one-shot, later appends stitch on top") {
    import graft.operators.{DeltaStore, MorTable, Scd2Index}
    import org.apache.spark.sql.types._
    // key 0: withheld mid-run splitter (us=2000 attr 9); key 1 untouched
    val all = Seq(
      (0L, 1L, 1000L, 1), (0L, 2L, 2000L, 9), (0L, 3L, 3000L, 1),
      (0L, 4L, 9000L, 2), (0L, 7L, 12000L, 2), (0L, 8L, 15000L, 5),
      (1L, 5L, 1500L, 3), (1L, 6L, 8000L, 3), (1L, 9L, 14000L, 4)
    ).toDF("k", "tie", "us", "attr")
    val late = all.where(col("tie") === 2L)
    val w1 = all.where(col("us") <= 4000L && col("tie") =!= 2L)
    val w2 = all.where(col("us") > 4000L && col("us") <= 10000L)
    val w3 = all.where(col("us") > 10000L)
    val r = root("backfill")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("tie", LongType), StructField("us", LongType),
      StructField("attr", IntegerType)))
    val bronze = MorTable(DeltaStore(s"$r/bronze"), Seq("tie"), schema)
    bronze.upsert(w1, 1); Scd2Index(s"$r/silver").appendBatch(spark, w1, 1)
    bronze.upsert(w2, 2); Scd2Index(s"$r/silver").appendBatch(spark, w2, 2)
    bronze.upsert(late, 3)
    intercept[IllegalArgumentException] {
      Scd2Index(s"$r/silver").appendBatch(spark, late, 3)
    }
    val history = bronze.snapshot(spark)
      .join(late.select("k").distinct(), Seq("k"), "left_semi")
    Scd2Index(s"$r/silver").backfill(spark, history, 4)
    // index-only read now equals one-shot over everything so far
    assert(maintained(s"$r/silver")
      == oneShot(all.where(col("us") <= 10000L)))
    // a replayed backfill is idempotent (no-read contract)
    Scd2Index(s"$r/silver").backfill(spark, history, 4)
    assert(maintained(s"$r/silver")
      == oneShot(all.where(col("us") <= 10000L)))
    // the fast path is live again: a later in-order batch passes the
    // guard and stitches onto rebuilt (k=0) and untouched (k=1) keys
    Scd2Index(s"$r/silver").appendBatch(spark, w3, 5)
    assert(maintained(s"$r/silver") == oneShot(all))
    // a compact folds superseded fragments away; reads unchanged
    Scd2Index(s"$r/silver").compact(spark)
    assert(maintained(s"$r/silver") == oneShot(all))
  }
}
