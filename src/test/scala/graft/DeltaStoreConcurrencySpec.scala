package graft

import graft.operators.DeltaStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Manifest-protocol optimistic concurrency: two writers race on the
  * same store; the epoch CAS (atomic create-if-absent of the manifest
  * object) elects one winner, the loser rebases and retries, and no
  * committed batch is ever dropped. The `onBeforeCommit` seam opens
  * the read→CAS window deterministically. */
class DeltaStoreConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_cas_").toString

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", IntegerType)))

  private def put(s: DeltaStore, batch: Int, kv: (String, Int)*): Unit =
    s.append(kv.toSeq.toDF("k", "v").withColumn("gbucket", s.gb(col("k"))),
      batch, within = Seq(col("k")))

  private def all(s: DeltaStore): Set[(String, Int)] =
    s.read(spark, schema, None).as[(String, Int)].collect().toSet

  test("append vs append: the loser retries and both batches land") {
    val dir = tmp()
    val a = DeltaStore(dir, 4)
    val b = DeltaStore(dir, 4)
    put(a, 0, ("seed", 0))
    // writer b commits inside a's read→CAS window: a's first attempt
    // must lose the epoch, rebase on b's manifest, and retry
    var fired = false
    a.onBeforeCommit = () => if (!fired) { fired = true; put(b, 2, ("b2", 2)) }
    put(a, 1, ("a1", 1))
    assert(fired, "the interleaving must actually have happened")
    assert(all(a) == Set(("seed", 0), ("a1", 1), ("b2", 2)),
      "no committed batch may be dropped by the race")
    assert(all(b) == all(a), "both writers read the same final state")
  }

  test("append vs compact: a delta committed during the fold survives the compact's rebase") {
    val dir = tmp()
    val a = DeltaStore(dir, 4)
    val b = DeltaStore(dir, 4)
    put(a, 0, ("x", 1))
    put(a, 1, ("y", 1))
    // b's ingest of batch 2 lands while a's compact (fold horizon
    // k = 1) is between its base write and its commit
    var fired = false
    a.onBeforeCommit = () => if (!fired) { fired = true; put(b, 2, ("z", 2)) }
    a.compact(spark, schema, col("k"), identity)
    assert(fired)
    assert(all(a) == Set(("x", 1), ("y", 1), ("z", 2)),
      "the concurrently-ingested delta must outlive the compact")
    // the base covers batches <= 1 only; batch 2 is still a delta
    val asOf = a.read(spark, schema, None, asOf = Some(2))
      .as[(String, Int)].collect().toSet
    assert(asOf == Set(("x", 1), ("y", 1), ("z", 2)))
  }

  test("4 unsynchronized writer threads, 20 batches: every commit survives real contention") {
    val dir = tmp()
    val stores = (0 until 4).map(_ => DeltaStore(dir, 4))
    put(stores(0), 100, ("seed", -1))
    // distinct batch ids per writer (the id-ordering contract: ids come
    // from a monotonic sequence; only compaction treats low ids as
    // covered) — NO test hooks, real thread interleavings, every
    // commit-window collision resolved by the CAS retry loop
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        try (0 until 5).foreach { i =>
          put(stores(w), 200 + w * 5 + i, (s"k$w-$i", i))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val want = (for (w <- 0 until 4; i <- 0 until 5)
      yield (s"k$w-$i", i)).toSet + (("seed", -1))
    assert(all(stores.head) == want,
      "all 21 concurrently-committed batches must be readable")
  }

  // ---- grouped multi-table commits under contention: the invariant
  // is ATOMICITY ACROSS SLICES — every committed batch is visible in
  // ALL its tbl= slices or in none; no table may ever sit at a
  // different batch horizon than its siblings.

  private def putT(s: DeltaStore, batch: Int): Unit = {
    val union = Seq((s"L$batch", batch)).toDF("k", "b")
      .withColumn("tbl", lit("left"))
      .unionByName(Seq((s"R$batch", batch)).toDF("k", "b")
        .withColumn("tbl", lit("right")))
      .withColumn("gbucket", s.gb(col("k")))
    s.appendTables(union, batch, within = Seq(col("k")))
  }

  private def batchesOf(s: DeltaStore, t: String): Set[Int] =
    s.read(spark, schemaT, None, table = Some(t))
      .select("b").as[Int].collect().toSet

  private val schemaT = StructType(Seq(
    StructField("k", StringType), StructField("b", IntegerType)))

  test("grouped append vs grouped append: loser rebases; all slices move together") {
    val dir = tmp()
    val a = DeltaStore(dir, 4)
    val b = DeltaStore(dir, 4)
    putT(a, 0)
    var fired = false
    a.onBeforeCommit = () => if (!fired) { fired = true; putT(b, 2) }
    putT(a, 1)
    assert(fired)
    assert(batchesOf(a, "left") == Set(0, 1, 2))
    assert(batchesOf(a, "right") == Set(0, 1, 2),
      "a torn grouped commit would leave right behind left")
  }

  test("grouped append vs compactTables: the mid-fold delta survives with every slice") {
    val dir = tmp()
    val a = DeltaStore(dir, 4)
    val b = DeltaStore(dir, 4)
    putT(a, 0); putT(a, 1)
    var fired = false
    a.onBeforeCommit = () => if (!fired) { fired = true; putT(b, 2) }
    a.compactTables(spark, Seq(
      ("left", schemaT, col("k"), identity[org.apache.spark.sql.DataFrame] _),
      ("right", schemaT, col("k"), identity[org.apache.spark.sql.DataFrame] _)))
    assert(fired)
    assert(batchesOf(a, "left") == Set(0, 1, 2))
    assert(batchesOf(a, "right") == Set(0, 1, 2),
      "the compact's rebase must carry the concurrent delta's BOTH slices")
  }

  test("4 writer threads x 5 grouped commits: no slice ever at a different horizon") {
    val dir = tmp()
    val stores = (0 until 4).map(_ => DeltaStore(dir, 4))
    putT(stores(0), 100)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        try (0 until 5).foreach(i => putT(stores(w), 200 + w * 5 + i))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val want = (for (w <- 0 until 4; i <- 0 until 5) yield 200 + w * 5 + i).toSet + 100
    assert(batchesOf(stores.head, "left") == want)
    assert(batchesOf(stores.head, "right") == want,
      "all 21 grouped commits must be whole in every slice")
    // and a fold of the contended history keeps the invariant
    stores.head.compactTables(spark, Seq(
      ("left", schemaT, col("k"), identity[org.apache.spark.sql.DataFrame] _),
      ("right", schemaT, col("k"), identity[org.apache.spark.sql.DataFrame] _)))
    assert(batchesOf(stores.head, "left") == want)
    assert(batchesOf(stores.head, "right") == want)
  }

  test("interleaved replay of the same batch id converges to one entry") {
    val dir = tmp()
    val a = DeltaStore(dir, 4)
    val b = DeltaStore(dir, 4)
    put(a, 0, ("k", 1))
    // a replays batch 0 while b also replays batch 0 (crash-recovery
    // double-fire): the loser's rebase replaces the winner's entry —
    // both wrote identical rows, so either prefix is correct and the
    // table must not double-count
    var fired = false
    a.onBeforeCommit = () => if (!fired) { fired = true; put(b, 0, ("k", 1)) }
    put(a, 0, ("k", 1))
    assert(all(a).toSeq == Seq(("k", 1)), "replay must never double-count")
  }
}
