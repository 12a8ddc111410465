package graft

import org.scalatest.funsuite.AnyFunSuite

/** Q.unpin must actually release an eager localCheckpoint's blocks —
  * Dataset.unpersist() cannot (checkpoint blocks are not CacheManager
  * entries), and a 246-query bench in one shared session otherwise
  * accumulates every maintenance query's pinned frames. */
class UnpinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("unpin releases the checkpointed RDD's storage blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = (1 to 100).toDF("v").localCheckpoint()
    assert(ck.count() == 100)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint should register a persistent RDD")
    Q.unpin(ck)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- after) == added, "unpin must drop the checkpointed RDD")
  }

  test("pinned releases the pin when its body throws") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var added = Set.empty[Int]
    val thrown = intercept[IllegalStateException] {
      Q.pinned((1 to 100).toDF("v")) { p =>
        assert(p.count() == 100)
        added = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(added.nonEmpty, "pinned should register a persistent RDD")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- after) == added, "a throwing body must not leak its pin")
  }

  test("unpin is a no-op on a plain (non-checkpointed) frame") {
    import spark.implicits._
    Q.unpin(Seq(1, 2).toDF("v")) // must not throw
  }
}
