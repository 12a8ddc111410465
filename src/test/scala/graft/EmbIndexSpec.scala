package graft

import graft.operators.EmbIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** EmbIndex: incremental embedding near-dup index — cross-batch pair
  * discovery at the later batch, replay determinism / exactly-once,
  * and arrival-order occupancy semantics. (DeltaStore commit/compact
  * semantics are covered by LshIndexSpec.) */
class EmbIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_embidx_").toString

  // deterministic 64-dim unit-ish vectors: a shared base direction with
  // a per-id low-amplitude perturbation — high pairwise cosine, distinct
  private def vec(id: Long, eps: Float): (Long, Array[Float]) =
    (id, Array.tabulate(64)(d =>
      (math.sin(d * 0.37 + 1.0) + (if (d % 7 == id % 7) eps else 0.0f)).toFloat))

  private def ingest(root: String, vs: Seq[(Long, Array[Float])],
                     k: Int, cap: Int = 128): Seq[org.apache.spark.sql.Row] =
    EmbIndex(root).upsertBatch(spark, vs.toDF("vec_id", "embedding"),
        batchId = k, width = 6, bucketCap = cap)
      .orderBy("vec_a", "vec_b").collect().toSeq

  test("near-dup across batches is found once, at the later batch, with high cosine") {
    val root = tmp()
    val b0 = ingest(root, Seq(vec(1, 0.05f), vec(10, 0.05f)), 0)
    val b1 = ingest(root, Seq(vec(2, 0.05f)), 1)
    assert(!b0.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2))
    val pair = b1.find(r => r.getLong(0) == 1 && r.getLong(1) == 2)
    assert(pair.isDefined, s"expected (1,2) in ${b1.mkString(", ")}")
    assert(pair.get.getInt(2) == 1)
    assert(pair.get.getDouble(3) > 0.99)
  }

  test("replay is deterministic and pairs are emitted exactly once") {
    val vs = (1L to 6L).map(i => vec(i, 0.05f))
    def run(): Seq[String] = {
      val root = tmp()
      (0 to 2).flatMap(k =>
        ingest(root, vs.filter(_._1 % 3 == k), k).map(_.toString))
    }
    val a = run(); val b = run()
    assert(a == b)
    assert(a.distinct.size == a.size)
    assert(a.size == 15, s"all 15 near-identical pairs found, got ${a.size}")
  }

  test("a full sign-key bucket admits no later arrivals") {
    val root = tmp()
    val same = (1L to 3L).map(i => (i, Array.tabulate(64)(d =>
      math.sin(d * 0.37 + 1.0).toFloat)))
    val e0 = ingest(root, same.take(2), 0, cap = 2)
    val e1 = ingest(root, same.drop(2), 1, cap = 2)
    assert(e0.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    assert(e1.isEmpty, "identical keys, bucket already at cap")
  }
}
