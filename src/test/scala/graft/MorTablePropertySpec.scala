package graft

import graft.operators.{DeltaStore, MorTable}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Randomized cross-check of MorTable against a single-machine
  * last-write-wins map, over seeded random operation sequences
  * (upserts, deletes, compactions — deterministic seeds, reruns test
  * identical sequences). Catches the class of bugs fixed-shape tests
  * can't: a delete immediately re-upserted, compaction landing between
  * a delete and its key's resurrection, keys that churn every batch. */
class MorTablePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Vector("a", "b", "c", "d", "e", "f")

  private sealed trait Op
  private case class Upsert(rows: Map[String, Int]) extends Op
  private case class Delete(ks: Set[String]) extends Op
  private case object Compact extends Op

  private def randomOps(seed: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    (0 until (6 + rnd.nextInt(5))).map { _ =>
      rnd.nextInt(10) match {
        case n if n < 6 =>
          Upsert(rnd.shuffle(keys).take(1 + rnd.nextInt(4))
            .map(k => k -> rnd.nextInt(1000)).toMap)
        case n if n < 9 =>
          Delete(rnd.shuffle(keys).take(1 + rnd.nextInt(2)).toSet)
        case _ => Compact
      }
    }
  }

  test("random op sequences match an in-memory LWW model, both protocols") {
    val schema = Seq(("x", 0)).toDF("k", "v").schema
    for (seed <- Seq(3, 17, 58, 271)) {
      val t = MorTable(DeltaStore(
        Files.createTempDirectory("graft_morprop_").toString, 4),
        Seq("k"), schema)
      val model = scala.collection.mutable.Map.empty[String, Int]
      var batch = 0
      randomOps(seed).foreach {
        case Upsert(rows) =>
          t.upsert(rows.toSeq.toDF("k", "v"), batch); batch += 1
          model ++= rows
        case Delete(ks) =>
          t.delete(ks.toSeq.toDF("k"), batch); batch += 1
          model --= ks
        case Compact =>
          t.compact(spark)
      }
      val got = t.snapshot(spark)
        .as[(String, Int)].collect().toMap
      assert(got == model.toMap,
        s"seed=$seed: got $got expected $model")
    }
  }
}
