package graft

import graft.operators.CodeIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** CodeIndex: incrementally-maintained PQ codes equal the one-shot
  * encoding, across replay and compaction (the q109 oracle hashes the
  * full search; this pins the store semantics in isolation). */
class CodeIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("batch-appended codes equal the whole-corpus encoding; replay and compact change nothing") {
    val idx = CodeIndex(Files.createTempDirectory("graft_codeidx_").toString + "/idx")
    val emb = Tables.embeddings(spark, sfDir)
    (0 to 3).foreach { k =>
      idx.appendBatch(spark, emb.where(col("vec_id") % 4 === k), batchId = k)
    }
    def codes(i: CodeIndex) = i.codes(spark)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val got = codes(idx)
    val oneShot = emb
      .select(col("vec_id").as("cand_id"),
        explode(expr("sequence(0, 7)")).as("sub"), col("embedding"))
      .withColumn("code", expr(CodeIndex.codeExpr))
      .select("cand_id", "sub", "code")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == oneShot, "maintained codes must equal the one-shot encoding")
    assert(got.size == emb.count() * 8)
    // replay of a batch replaces its own delta — no duplicates
    idx.appendBatch(spark, emb.where(col("vec_id") % 4 === 2), batchId = 2)
    assert(codes(idx) == oneShot)
    idx.compact(spark)
    assert(codes(idx) == oneShot, "compaction folds without loss")
    // the compaction policy firing in the middle of the replay leaves
    // the maintained codes equal to the uncompacted run's
    val cidx = CodeIndex(Files.createTempDirectory("graft_codeidx_c_").toString + "/idx")
    val fired = (0 to 3).map { k =>
      val f = cidx.compactBefore(spark, k, maxDeltas = 1)
      cidx.appendBatch(spark, emb.where(col("vec_id") % 4 === k), batchId = k)
      f
    }
    assert(fired == Seq(false, false, true, false))
    assert(codes(cidx) == got,
      "a mid-replay compact must not change the maintained codes")
  }
}
