package graft

import java.io.File
import java.nio.file.Files

import graft.operators.DeltaStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DeltaStore's write layout: the write shuffle is keyed on the bucket
  * alone (its task count comes from the session and AQE), so every
  * commit, delta or base, holds exactly one part file per bucket dir. */
class DeltaStoreLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  /** Every `gbucket=B` dir under `dir`, with its part-file count. */
  private def bucketDirs(dir: File): Seq[(File, Int)] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { d =>
      if (d.getName.startsWith("gbucket="))
        Seq(d -> d.listFiles().count(_.getName.startsWith("part-")))
      else bucketDirs(d)
    }

  /** Many rows from many input partitions, spanning every bucket. */
  private def frame(s: DeltaStore, from: Long) =
    spark.range(from, from + 4000, 1, 8).toDF("k")
      .withColumn("v", col("k") * 2)
      .withColumn("gbucket", s.gb(col("k")))

  /** With AQE coalescing on, a small test frame collapses into one
    * write task, where any shuffle yields one file per bucket. Off, the
    * write keeps every shuffle partition, as a delta larger than the
    * advisory partition size does, so a bucket split over reducers
    * shows as extra files. */
  private def withCoalescing[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  for (coalesce <- Seq(true, false)) {
    val label = if (coalesce) "manifest" else "manifest, every shuffle partition written"

    test(s"one part file per bucket dir, delta and base ($label)") { withCoalescing(coalesce) {
      val root = Files.createTempDirectory("graft_dslayout_").toFile
      val s = DeltaStore(root.getPath, buckets = 16)
      s.append(frame(s, 0), 0, Seq(col("k")))
      s.append(frame(s, 4000), 1, Seq(col("k")))
      val deltas = bucketDirs(root)
      assert(deltas.size == 2 * 16, deltas.map(_._1))
      assert(deltas.forall(_._2 == 1), deltas.filter(_._2 != 1))

      s.compact(spark, schema, col("k"), identity)
      val bases = s.live().filter(_._1)
      assert(bases.size == 1, bases)
      val base = bucketDirs(bases.head._3)
      assert(base.size == 16 && base.forall(_._2 == 1), base)
      assert(bucketDirs(root).forall(_._2 == 1))
      assert(s.read(spark, schema, None).count() == 8000)
    }}

    test(s"grouped commit: one part file per table and bucket dir ($label)") { withCoalescing(coalesce) {
      val root = Files.createTempDirectory("graft_dslayout_").toFile
      val s = DeltaStore(root.getPath, buckets = 16)
      val union = frame(s, 0).withColumn("tbl", lit("a"))
        .unionByName(frame(s, 0).withColumn("tbl", lit("b")))
      s.appendTables(union, 0, Seq(col("k")))
      val delta = bucketDirs(root)
      assert(delta.size == 2 * 16 && delta.forall(_._2 == 1), delta)
      s.compactTables(spark,
        Seq("a", "b").map(t => (t, schema, col("k"), identity[org.apache.spark.sql.DataFrame] _)))
      val dirs = bucketDirs(root)
      // the compact's commit drops the folded delta from disk
      assert(dirs.size == 2 * 16, dirs.map(_._1))
      assert(dirs.forall(_._2 == 1), dirs.filter(_._2 != 1))
      val live = s.live()
      assert(live.size == 1 && live.head._1, live)
      assert(new File(root, "data").list().toSeq == Seq(live.head._3.getName))
    }}
  }
}
