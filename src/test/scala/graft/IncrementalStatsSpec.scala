package graft

import graft.operators.{DeltaStore, IncrementalStats}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** IncrementalStats: mergeable per-batch column profiles on DeltaStore
  * — maintenance ≡ one-shot recompute, across compaction. */
class IncrementalStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("col_name")
      .as[(String, Double, Double, Long, Long)].collect().toSeq

  private def stats() =
    IncrementalStats(DeltaStore(Files.createTempDirectory("graft_st_").toString, 4))

  private val data = Seq[(Int, Option[Double])](
    (5, Some(2.0)), (1, None), (9, Some(-3.5)),
    (4, Some(7.0)), (2, Some(7.0)), (8, None))

  test("disjoint batch partials fold to the one-shot profile, through compact, both protocols") {
    val full = data.toDF("a", "b")
    val whole = stats()
    whole.appendBatch(full, Seq("a", "b"), 0)
    val oneShot = rows(whole.profile(spark))
    assert(oneShot == Seq(("a", 1.0, 9.0, 0L, 6L), ("b", -3.5, 7.0, 2L, 6L)))
    val st = stats()
    val fired = data.grouped(2).zipWithIndex.map { case (chunk, b) =>
      val f = st.compactBefore(spark, b, maxDeltas = 1)
      st.appendBatch(chunk.toDF("a", "b"), Seq("a", "b"), b)
      f
    }.toSeq
    assert(fired == Seq(false, false, true))
    assert(rows(st.profile(spark)) == oneShot,
      "maintenance must equal recompute")
  }

  test("non-numeric and missing profiled columns are refused up front") {
    val st = stats()
    val batch = Seq((1, "x")).toDF("a", "s")
    intercept[IllegalArgumentException] {
      st.appendBatch(batch, Seq("a", "s"), 0)
    }
    intercept[IllegalArgumentException] {
      st.appendBatch(batch, Seq("nope"), 0)
    }
    // nothing was committed by the refused appends
    assert(st.profile(spark).count() == 0)
  }

  test("a maintained _stats profile resolves embCount without a footer count") {
    // an embeddings dir whose _stats profile DISAGREES with the files:
    // the profile must win (proving no footer count ran)
    val dir = Files.createTempDirectory("graft_embstats_").toString
    Seq((1L, Array(1.0f)), (2L, Array(0.5f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    IncrementalStats(DeltaStore(s"$dir/_stats", 4))
      .appendBatch((1L to 777L).toDF("vec_id"), Seq("vec_id"), 0)
    assert(graft.queries.SimilarityQueries.statsCount(spark, dir)
      .contains(777L))
    assert(graft.queries.SimilarityQueries.embCount(spark, dir) == 777L,
      "embCount must prefer the maintained profile over the footer count")
    // a dir with no _stats store falls back to the footer count
    val bare = Files.createTempDirectory("graft_embbare_").toString
    Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
      .write.parquet(s"$bare/embeddings.parquet")
    assert(graft.queries.SimilarityQueries.statsCount(spark, bare).isEmpty)
    assert(graft.queries.SimilarityQueries.embCount(spark, bare) == 1L)
  }
}
