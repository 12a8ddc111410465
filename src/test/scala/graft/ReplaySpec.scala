package graft

import graft.streaming.Replay
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The checkpoint-resume driver every stream query runs: resume
  * processes only new files, per-file batching, failure surfacing,
  * the wave-0 error-if-exists landing, the batch-id guard and the
  * versioned-state lookup; and the batch-wave driver: hash split and
  * the pin released on success and failure. */
class ReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_replay_").toString

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  test("two waves on one checkpoint: ids 0 and 1, each row once; an idle drain runs no batch") {
    val root = tmp()
    val seen = ArrayBuffer.empty[(Int, Long)]
    val body: (org.apache.spark.sql.DataFrame, Int) => Unit = (b, id) =>
      seen.synchronized {
        seen ++= b.as[Long].collect().map(v => (id, v))
      }
    val rows = spark.range(0, 40).toDF("v")
    Replay.stream(spark, root,
        Seq(rows.where(col("v") % 2 === 0), rows.where(col("v") % 2 === 1)),
        parts = 2)(body)
    assert(seen.map(_._1).distinct.sorted == Seq(0, 1))
    assert(seen.map(_._2).sorted == (0L until 40L))
    assert(seen.forall { case (id, v) => v % 2 == id })
    val before = seen.size
    Replay.drain(spark, root, rows.schema)(body)
    assert(seen.size == before)
  }

  test("perFile = true gives one micro-batch per landed file") {
    val root = tmp()
    val ids = ArrayBuffer.empty[Int]
    Replay.stream(spark, root, Seq(spark.range(0, 30).toDF("v")),
        parts = 3, perFile = true) { (_, id) =>
      ids.synchronized { ids += id }
    }
    assert(parquetFiles(s"$root/in") == 3)
    assert(ids.sorted == Seq(0, 1, 2))
  }

  test("an exception in the body fails the drain and leaves no active query") {
    val root = tmp()
    val e = intercept[Exception] {
      Replay.stream(spark, root, Seq(spark.range(0, 5).toDF("v")),
          parts = 1) { (_, _) =>
        throw new IllegalStateException("replay-spec boom")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("replay-spec boom"))
    assert(spark.streams.active.isEmpty)
  }

  test("wave 0 refuses to land onto an existing in/") {
    val root = tmp()
    val wave = Seq(spark.range(0, 5).toDF("v"))
    Replay.stream(spark, root, wave, parts = 1)((_, _) => ())
    intercept[AnalysisException] {
      Replay.stream(spark, root, wave, parts = 1)((_, _) => ())
    }
  }

  test("batchId passes Int.MaxValue and rejects Int.MaxValue + 1") {
    assert(Replay.batchId(0L) == 0)
    assert(Replay.batchId(Int.MaxValue.toLong) == Int.MaxValue)
    intercept[IllegalArgumentException](Replay.batchId(Int.MaxValue + 1L))
  }

  test("latestBelow: empty dir, gaps, and id equal to an existing version") {
    val dir = tmp()
    assert(Replay.latestBelow(dir, Long.MaxValue).isEmpty)
    assert(Replay.latestBelow(s"$dir/missing", 5).isEmpty)
    Seq("state=0", "state=3", "state=7", "_SUCCESS").foreach { n =>
      new java.io.File(s"$dir/$n").mkdirs()
    }
    assert(Replay.latestBelow(dir, 0).isEmpty)
    assert(Replay.latestBelow(dir, 5).contains(3L))
    assert(Replay.latestBelow(dir, 3).contains(0L))
    assert(Replay.latestBelow(dir, 7).contains(3L))
    assert(Replay.latestBelow(dir, Long.MaxValue).contains(7L))
  }

  private def pinned() = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("split gives n disjoint waves whose rows are the input, as a multiset") {
    val src = (0 until 200).map(i => (i % 37).toLong).toDF("v")
    val waves = Replay.split(src, 3, col("v")).map(_.as[Long].collect().toSeq)
    assert(waves.size == 3)
    assert(waves.flatten.sorted == src.as[Long].collect().toSeq.sorted)
    for (a <- 0 until 3; b <- (a + 1) until 3)
      assert(waves(a).toSet.intersect(waves(b).toSet).isEmpty)
  }

  test("waves passes i = 0 until n in order and releases its pin") {
    val before = pinned()
    val seen = ArrayBuffer.empty[(Int, Long)]
    var during = Set.empty[Int]
    Replay.waves(spark.range(0, 60).toDF("v"), 4, col("v")) { (w, i) =>
      during = pinned() -- before
      seen += ((i, w.count()))
    }
    assert(seen.map(_._1) == Seq(0, 1, 2, 3))
    assert(seen.map(_._2).sum == 60L)
    assert(during.nonEmpty, "the source is pinned while the waves run")
    assert(pinned() == before)
  }

  test("waves releases its pin when the body throws") {
    val before = pinned()
    val seen = ArrayBuffer.empty[Int]
    val e = intercept[IllegalStateException] {
      Replay.waves(spark.range(0, 60).toDF("v"), 3, col("v")) { (_, i) =>
        seen += i
        if (i == 1) throw new IllegalStateException("wave boom")
      }
    }
    assert(e.getMessage == "wave boom")
    assert(seen == Seq(0, 1))
    assert(pinned() == before)
  }
}
