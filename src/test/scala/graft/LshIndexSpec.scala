package graft

import graft.operators.{DeltaStore, LshIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** LshIndex: incremental MinHash-LSH dedup index — cross-batch pair
  * discovery, exactly-once emission, replay determinism, and the
  * frozen-at-insert capped-set semantics the q103 oracle models. */
class LshIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_lshidx_").toString

  // Long repeated word-trigram text: every doc built from these shares
  // most shingles with every other (near-dup family), while `salt`
  // words perturb a suffix so pairs are near- but not exact-dup.
  private def doc(id: Long, salt: String): (Long, String) =
    (id, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3) +
      s"tail one two $salt")

  private def replay(docs: Seq[(Long, String)], root: String,
                     batchOf: Long => Int, nBatches: Int): Seq[DataFrame] = {
    val df = docs.toDF("doc_id", "text")
    (0 until nBatches).map { k =>
      val ids = docs.collect { case (id, _) if batchOf(id) == k => id }
      LshIndex(root).upsertBatch(
        spark, df.where(col("doc_id").isin(ids: _*)),
        batchId = k, dfCap = 20, bucketCap = 20)
    }
  }

  test("near-dup across batches is found once, at the later batch, with high jaccard") {
    val root = tmp()
    val docs = Seq(doc(1, "aa"), doc(10, "zz zz zz unrelated"), // batch 0
                   doc(2, "ab")) // batch 1: near-dup of doc 1
    val emits = replay(docs, root, id => if (id == 2) 1 else 0, 2)
    val b0 = emits(0).collect()
    val b1 = emits(1).select("doc_a", "doc_b", "emit_batch", "shingle_jaccard").collect()
    // batch 0: docs 1 and 10 share the repeated prefix trigrams → they
    // may or may not band together, but (1,2) must NOT exist yet
    assert(!b0.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2))
    // batch 1: the (1, 2) near-dup pair is emitted at batch 1
    val pair = b1.find(r => r.getLong(0) == 1 && r.getLong(1) == 2)
    assert(pair.isDefined, s"expected (1,2) in ${b1.mkString(", ")}")
    assert(pair.get.getInt(2) == 1)
    assert(pair.get.getDouble(3) > 0.8)
  }

  test("replay is deterministic and pairs are emitted exactly once") {
    val docs = Seq(doc(1, "aa"), doc(2, "ab"), doc(3, "ac"), doc(4, "ad"),
                   doc(5, "ae"), doc(6, "af"))
    def run(): Seq[Seq[String]] = {
      val root = tmp()
      replay(docs, root, id => (id % 3).toInt, 3)
        .map(_.orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq)
    }
    val a = run()
    val b = run()
    assert(a == b, "independent replays must emit identical pairs")
    val all = a.flatten
    assert(all.distinct.size == all.size, "a pair must be emitted exactly once")
    // every cross-batch near-dup combination of the 6 docs is found
    assert(all.size == 15, s"expected all 15 pairs, got ${all.size}")
  }

  test("manifest protocol replays emit bit-identical pairs (with mid-replay compact)") {
    val docs = Seq(doc(1, "aa"), doc(2, "ab"), doc(3, "ac"), doc(4, "ad"),
                   doc(5, "ae"), doc(6, "af"))
    def run(compact: Boolean): Seq[Seq[String]] = {
      val idx = LshIndex(tmp())
      val df = docs.toDF("doc_id", "text")
      (0 until 3).map { k =>
        if (compact) assert(idx.compactBefore(spark, k, maxDeltas = 1) == (k == 2))
        val ids = docs.collect { case (id, _) if (id % 3).toInt == k => id }
        idx.upsertBatch(
          spark, df.where(col("doc_id").isin(ids: _*)),
          batchId = k, dfCap = 20, bucketCap = 20)
          .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      }
    }
    assert(run(compact = true) == run(compact = false),
      "a mid-replay compact must not change emitted pairs")
  }

  test("capped sets freeze at insert: a shingle heated past the cap by a later batch still counts for earlier docs") {
    val root = tmp()
    // dfCap = 3: batch 0 has 3 copies (df = 3 ≤ cap → all shingles kept,
    // pairs among them verify with jaccard 1.0); batch 1 adds 2 more
    // copies (cumulative df = 5 > cap → batch-1 docs get EMPTY sets, no
    // bands, no pairs), while batch 0's stored sets are untouched.
    val same = "p q r s t u v w x y z p2 q2 r2 s2 t2 u2 v2 w2"
    val df = Seq((1L, same), (2L, same), (3L, same), (4L, same), (5L, same))
      .toDF("doc_id", "text")
    val e0 = LshIndex(root).upsertBatch(spark, df.where(col("doc_id") <= 3),
      batchId = 0, dfCap = 3, bucketCap = 20)
    val e1 = LshIndex(root).upsertBatch(spark, df.where(col("doc_id") > 3),
      batchId = 1, dfCap = 3, bucketCap = 20)
    val p0 = e0.select("doc_a", "doc_b", "shingle_jaccard").collect()
    assert(p0.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(p0.forall(_.getDouble(2) == 1.0))
    assert(e1.count() == 0,
      "docs whose every shingle is over the cumulative cap must not pair")
  }

  test("bucket occupancy caps by arrival order across batches") {
    val root = tmp()
    // bucketCap = 2 and identical text → all docs share every band
    // bucket. Batch 0 fills the buckets with docs 1, 2 (one pair);
    // batch 1's doc 3 finds every bucket full → no pairs, no state row.
    val same = "m n o p q r s t u v w m2 n2 o2 p2"
    val df = Seq((1L, same), (2L, same), (3L, same)).toDF("doc_id", "text")
    val e0 = LshIndex(root).upsertBatch(spark, df.where(col("doc_id") <= 2),
      batchId = 0, dfCap = 20, bucketCap = 2)
    val e1 = LshIndex(root).upsertBatch(spark, df.where(col("doc_id") === 3),
      batchId = 1, dfCap = 20, bucketCap = 2)
    assert(e0.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(e1.count() == 0, "a full bucket admits no later arrivals")
  }

  test("compaction folds deltas into one base without changing any later emission") {
    val docs = Seq(doc(1, "aa"), doc(2, "ab"), doc(3, "ac"), doc(4, "ad"),
                   doc(5, "ae"), doc(6, "af"))
    val df = docs.toDF("doc_id", "text")
    def ingest(root: String, k: Int): Seq[String] =
      LshIndex(root).upsertBatch(spark, df.where(col("doc_id") % 3 === k),
          batchId = k, dfCap = 20, bucketCap = 20)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    val plain = tmp(); val compacted = tmp()
    ingest(plain, 0); ingest(plain, 1)
    ingest(compacted, 0); ingest(compacted, 1)
    LshIndex(compacted).compact(spark)
    // covered deltas are gone: ONE live base holding all three state
    // tables as tbl= slices (the grouped commit's atomicity unit)
    val live = DeltaStore(compacted).live()
    assert(live.map(e => (e._1, e._2)) == Seq((true, 1)), live.toString)
    val slices = live.head._3.listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(slices.sorted == Seq("tbl=bands", "tbl=df", "tbl=sets"), slices.toString)
    // the NEXT batch sees identical state through the base
    assert(ingest(compacted, 2) == ingest(plain, 2))
  }

  test("pipelined replay (carried state, async ordered commits) ≡ serial store-read replay") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val docs = Seq(doc(1, "aa"), doc(2, "ab"), doc(3, "ac"), doc(4, "ad"),
                   doc(5, "ae"), doc(6, "af"))
    val df = docs.toDF("doc_id", "text")
    def batchDf(k: Int) = df.where(col("doc_id") % 3 === k)

    val rootA = tmp()
    val serial = (0 until 3).map(k =>
        LshIndex(rootA).upsertBatch(spark, batchDf(k),
          batchId = k, dfCap = 20, bucketCap = 20))
      .map(_.orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq)

    val rootB = tmp()
    var hist = Vector.empty[LshIndex.BatchState]
    var commit: Future[Unit] = Future.unit
    var prep = LshIndex.prepareBatch(spark, batchDf(0))
    val futs = (0 until 3).map { k =>
      val next =
        if (k < 2) Some(Future(LshIndex.prepareBatch(spark, batchDf(k + 1))))
        else None
      val (pf, st, cf) = LshIndex(rootB).upsertBatchPipelined(spark, batchDf(k),
        batchId = k, dfCap = 20, bucketCap = 20,
        prepared = Some(prep), history = Some(hist), prevCommit = commit)
      hist = hist :+ st; commit = cf
      next.foreach(f => prep = Await.result(f, Duration.Inf))
      pf
    }
    val piped = futs.map(Await.result(_, Duration.Inf))
      .map(_.orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq)
    LshIndex.release(hist)
    assert(piped == serial,
      "pipelined emissions must be bit-identical to the serial replay")

    // ... and so must the COMMITTED state, delta by delta, table by
    // table (sets arrays sorted: list order is an execution detail)
    for (k <- 0 until 3; t <- Seq("df", "sets", "bands")) {
      def rows(root: String): Seq[String] = {
        val delta = DeltaStore(root).live().collectFirst { case (false, `k`, d) => d }
        val raw = spark.read.parquet(s"${delta.get}/tbl=$t")
        val norm = if (t == "sets") raw.withColumn("ts", sort_array(col("ts"))) else raw
        norm.collect().map(_.toString).sorted.toSeq
      }
      assert(rows(rootB) == rows(rootA), s"state mismatch delta=$k tbl=$t")
    }
  }

  test("streaming ingest (foreachBatch) equals the direct batch replay") {
    val base = tmp()
    val docs = Seq(doc(1, "aa"), doc(2, "ab"), doc(3, "ac"), doc(4, "ad"),
                   doc(5, "ae"), doc(6, "af"))
    // direct replay: 3 explicit upserts
    val want = replay(docs, s"$base/direct", id => (id % 3).toInt, 3)
      .flatMap(_.orderBy("doc_a", "doc_b").collect().map(_.toString))

    // streaming replay: each landing drop becomes one micro-batch whose
    // foreachBatch id is the index batch id — the production shape for
    // continuous crawl ingestion (near-dup suppression as a stream sink,
    // index state carried across micro-batches by the bucketed store).
    val inDir = s"$base/landing"
    val df = docs.toDF("doc_id", "text")
    // ONE file per drop: an index batch is a complete ingest unit (a
    // replay REPLACES its delta), so a drop split across two files
    // could be discovered as two micro-batches, and the second would
    // replay batch k with only part of its docs — dropping the first
    // part's state. Multi-file drops need a source-side barrier
    // (AvailableNow over a closed dir, or a manifest), not relied-upon
    // listing atomicity; observed as a rare suite flake before this.
    df.where(col("doc_id") % 3 === 0).coalesce(1).write.parquet(inDir)
    val src = spark.readStream.schema(df.schema).parquet(inDir)
    val q = src.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        // the INDEX batch id comes from the data, not the stream epoch:
        // under load the source can fire an empty epoch before the first
        // file is listed, and epoch ids must not shift the replay's
        // batch numbering (an empty micro-batch is simply skipped)
        val ks = b.select((col("doc_id") % 3).cast("int").as("k"))
          .distinct().collect().map(_.getInt(0)).sorted
        ks.foreach { k =>
          LshIndex(s"$base/stream").upsertBatch(
              spark, b.where(col("doc_id") % 3 === k), k,
              dfCap = 20, bucketCap = 20)
            .write.mode("overwrite").parquet(s"$base/emit/bt=$k")
        }
      }
      .start()
    q.processAllAvailable()
    df.where(col("doc_id") % 3 === 1).coalesce(1).write.mode("append").parquet(inDir)
    q.processAllAvailable()
    df.where(col("doc_id") % 3 === 2).coalesce(1).write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(s"$base/emit")
      .drop("bt").orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    assert(got.sorted == want.sorted,
      "stream-ingested index must emit the replay's exact pairs")
  }
}
