package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Auto-compaction policy ([[graft.operators.Maintained.compactBefore]],
  * shared by every DeltaStore family): fires exactly when the committed
  * delta tail exceeds the threshold, drops the live delta count to zero
  * below the horizon, never folds a batch above the horizon (the
  * crashed-batch double-count hazard for additive folds), and leaves
  * the folded contents identical. The streaming gates (q216/q221/q225/
  * q227/q229) exercise the policy end-to-end; here the firing rule and
  * the horizon protection are pinned adversarially.
  */
class AutoCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("c", LongType)))

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def root(tag: String): String = {
    val p = Q.scratch(spark, s"autocompact_$tag", "spec")
    rm(new java.io.File(p)); p
  }

  private def cellsOf(r: String) =
    graft.operators.StatCellIndex(r, schema).cells(spark)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

  test("policy fires iff the committed tail exceeds the threshold; count drops; contents unchanged") {
    val r = root("fire")
    val store = graft.operators.DeltaStore(r)
    val batch = (i: Int) => Seq.fill(3)(i.toLong).toDF("x")
    val idx = graft.operators.StatCellIndex(r, schema)
    val fired = (0 until 5).map { k =>
      // batch-start policy check, then the batch's own append
      val f = idx.compactBefore(spark, k, maxDeltas = 2)
      idx.appendBatch(spark, batch(k), k)
      f
    }
    // deltas below k: 0,1,2 at k=3 -> first firing; k=4 sees only
    // delta 3 live below it (1 <= 2) -> no fire
    assert(fired == Seq(false, false, false, true, false))
    assert(store.deltaCount(Some(2)) == 0)
    assert(cellsOf(r) == (0 until 5).map(i => (i.toLong, 3L)))
  }

  test("the horizon never folds a not-yet-committed batch (additive double-count hazard)") {
    val r = root("horizon")
    val idx = graft.operators.StatCellIndex(r, schema)
    (0 until 4).foreach { k =>
      idx.appendBatch(spark, Seq.fill(2)(k.toLong).toDF("x"), k)
    }
    val store = graft.operators.DeltaStore(r)
    // batch 3 is on disk but (by scenario) not checkpoint-committed:
    // policy at the start of its replay folds only deltas <= 2
    val fired = idx.compactBefore(spark, 3, maxDeltas = 0)
    assert(fired)
    assert(store.deltaCount(Some(2)) == 0)
    assert(store.deltaCount(None) == 1, "batch 3's delta must stay live")
    assert(store.live().collectFirst { case (false, 3, d) => d }.exists(_.isDirectory))
    // the replay now replaces its still-live delta — no double count
    idx.appendBatch(spark, Seq.fill(2)(3L).toDF("x"), 3)
    assert(cellsOf(r) == (0 until 4).map(i => (i.toLong, 2L)))
  }

  test("grouped-table policy (CcIndex wrapper) folds both tables at the horizon") {
    val r = root("grouped")
    val e0 = Seq(("a1", "a2"), ("b1", "b2")).toDF("a", "b")
    val e1 = Seq(("a2", "a3")).toDF("a", "b")
    val e2 = Seq(("b2", "b3")).toDF("a", "b")
    val idx = graft.operators.CcIndex(r)
    idx.appendWave(spark, e0, 0)
    idx.appendWave(spark, e1, 1)
    val fired = idx.compactBefore(spark, 2, maxDeltas = 1)
    assert(fired)
    assert(graft.operators.DeltaStore(r).deltaCount(None) == 0)
    assert(!idx.compactBefore(spark, 2, maxDeltas = 1))
    idx.appendWave(spark, e2, 2)
    val labs = idx.labels(spark)
      .as[(String, String)].collect().toMap
    assert(labs("a3") == "a1" && labs("b3") == "b1")
  }

  /** Five batches under `compactBefore(k, maxDeltas = 2)` beside a twin
    * store that never compacts: the policy fires at k = 3 only, leaves
    * no live delta below 3, and every append result and the final read
    * match the twin's. Returns the policy side's append results. */
  private def policyAcrossBatches[I <: graft.operators.Maintained, R](
      tag: String, mk: String => I)(append: (I, Int) => R)
      (read: I => Seq[org.apache.spark.sql.DataFrame]): Seq[R] = {
    val idx = mk(root(s"${tag}_policy"))
    val twin = mk(root(s"${tag}_twin"))
    val runs = (0 until 5).map { k =>
      val f = idx.compactBefore(spark, k, maxDeltas = 2)
      (f, append(idx, k), append(twin, k))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(runs.map(_._1) == Seq(false, false, false, true, false), tag)
    assert(runs.map(_._2) == runs.map(_._3), tag)
    assert(idx.store.deltaCount(Some(2)) == 0, tag)
    assert(twin.store.deltaCount(None) == 5, tag)
    assert(read(idx).map(rows) == read(twin).map(rows), tag)
    runs.map(_._2)
  }

  test("compactBefore fires at the same k, empties the committed tail and keeps the read, in every Maintained family") {
    import graft.operators.{BasketIndex, CcIndex, CellIndex, CodeIndex, DeltaStore,
      EmbIndex, IncrementalStats, IncrementalView, LmIndex, LshIndex, MorTable,
      Scd2Index, SketchIndex, StatCellIndex, TriIndex}
    val momentSchema = StructType(Seq(StructField("k", LongType),
      StructField("n", LongType), StructField("s", DecimalType(28, 2))))
    policyAcrossBatches("moments",
        StatCellIndex(_, momentSchema, Seq("n", "s"))) { (idx, k) =>
      idx.appendAgg(spark, Seq.tabulate(6)(j =>
          ((j % 3).toLong, 1L, BigDecimal(k * 10 + j) / 100))
        .toDF("k", "n", "s")
        .select(col("k"), col("n"), col("s").cast(DecimalType(18, 2))), k)
    }(idx => Seq(idx.cells(spark)))

    val edges = (for (a <- 0 until 12; b <- (a + 1) until 12
                      if (a * 7 + b * 3) % 4 != 0) yield (a.toLong, b.toLong))
      .toDF("u", "v")
    policyAcrossBatches("tri", TriIndex(_)) { (idx, k) =>
      idx.foldWave(spark,
        edges.where(pmod(hash(col("u"), col("v")), lit(5)) === k), k)
    }(idx => Seq(idx.stats(spark)))

    policyAcrossBatches("basket", BasketIndex(_)) { (idx, k) =>
      idx.appendWave(spark, Seq.tabulate(8)(j =>
        ((j + k) % 6).toLong -> s"B${(j * k + j) % 4}").toDF("ok", "brand"), k)
    }(idx => Seq(idx.pairs(spark), idx.brands(spark), idx.orderCount(spark)))

    policyAcrossBatches("cc", CcIndex(_)) { (idx, k) =>
      idx.appendWave(spark, Seq((s"n$k", s"n${k + 1}"),
        (s"m${2 * k}", s"m${2 * k + 1}")).toDF("a", "b"), k)
    }(idx => Seq(idx.labels(spark)))

    policyAcrossBatches("scd2", Scd2Index(_)) { (idx, k) =>
      idx.appendBatch(spark, Seq.tabulate(6)(j =>
          ((j % 2).toLong, (k * 6 + j).toLong, (k * 1000 + j * 10).toLong,
            (k + j / 3) % 2))
        .toDF("k", "tie", "us", "attr"), k)
    }(idx => Seq(idx.intervals(spark)))

    policyAcrossBatches("sketch", SketchIndex(_)) { (idx, k) =>
      idx.appendBatch(spark, Seq.tabulate(8)(j =>
          (s"t${(j + k) % 3}", (k * 8 + j).toLong, (j * k % 5) * 0.75))
        .toDF("event_type", "user_id", "value"), k)
    }(idx => Seq(idx.cms(spark), idx.grid(spark), idx.kmv(spark)))

    policyAcrossBatches("lm", LmIndex(_)) { (idx, k) =>
      idx.appendBatch(spark, Seq.tabulate(6)(j =>
          (s"w${j % 3} w${(j + k) % 4}", s"w${j % 3}"))
        .toDF("bi", "w1"), k)
    }(idx => Seq(idx.counts(spark, "bi"), idx.counts(spark, "uni")))

    // 64-dim vectors near one shared direction: sign codes, cells and
    // near-dup pairs all vary with the id
    def vecs(k: Int) = Seq.tabulate(3)(j => (k * 3 + j).toLong)
      .map(id => (id, Array.tabulate(64)(d => (math.sin(d * 0.37 + 1.0) +
        (if (d % 7 == id % 7) 0.3 else 0.0) - (if (d == id % 64) 2.0 else 0.0))
        .toFloat)))
      .toDF("vec_id", "embedding")
    policyAcrossBatches("code", CodeIndex(_)) { (idx, k) =>
      idx.appendBatch(spark, vecs(k), k)
    }(idx => Seq(idx.codes(spark)))

    policyAcrossBatches("cell", CellIndex(_)) { (idx, k) =>
      idx.appendBatch(spark, vecs(k), k, widthLit = 4)
    }(idx => Seq(idx.cells(spark)))

    // the per-batch results are the emitted pairs: batches 3 and 4 probe
    // prior state through the folded base, and each emits some
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val embPairs = policyAcrossBatches("emb", EmbIndex(_)) { (idx, k) =>
      pairs(idx.upsertBatch(spark, vecs(k), k, width = 6, bucketCap = 128))
    }(_ => Nil)
    assert(embPairs.drop(3).forall(_.nonEmpty), embPairs)

    val lshPairs = policyAcrossBatches("lsh", LshIndex(_)) { (idx, k) =>
      pairs(idx.upsertBatch(spark, Seq.tabulate(2)(j => (k * 2 + j).toLong)
          .map(id => (id, ("alpha beta gamma delta epsilon zeta eta theta " * 2) +
            s"tail $id ${id % 3}"))
          .toDF("doc_id", "text"),
        k, dfCap = 20, bucketCap = 20))
    }(_ => Nil)
    assert(lshPairs.drop(3).forall(_.nonEmpty), lshPairs)

    policyAcrossBatches("stats", r => IncrementalStats(DeltaStore(r))) { (idx, k) =>
      idx.appendBatch(Seq.tabulate(4)(j => (k * 4 + j, if (j == k % 4) None
          else Some(k - j * 1.5))).toDF("a", "b"), Seq("a", "b"), k)
    }(idx => Seq(idx.profile(spark)))

    policyAcrossBatches("view", r => IncrementalView(DeltaStore(r),
        StructType(Seq(StructField("g", StringType))))) { (idx, k) =>
      idx.applyFeed(Seq.tabulate(4)(j =>
          (s"g${(j + k) % 3}", if (j == 3 && k > 0) "delete" else "insert",
            k * 10 + j)).toDF("g", "op", "v"),
        "v", k)
    }(idx => Seq(idx.view(spark)))

    val morSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType)))
    policyAcrossBatches("mor", r => MorTable(DeltaStore(r), Seq("k"), morSchema)) {
      (idx, k) =>
        if (k == 2) idx.delete(Seq("k1", "k3").toDF("k"), k)
        else idx.upsert(Seq.tabulate(3)(j => (s"k${j + k}", k * 10 + j))
          .toDF("k", "v"), k)
    }(idx => Seq(idx.snapshot(spark), idx.changes(spark, 3, 4)))
  }
}
