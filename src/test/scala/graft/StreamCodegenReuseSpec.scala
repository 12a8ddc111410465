package graft

import graft.streaming.Replay
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** Every stream lifecycle runs on a clone of the session. Its tasks must
  * still run under the executor classloader the previous lifecycle used,
  * or each drain recompiles the same generated code (the compile cache
  * is keyed on the context classloader). Sessions.builder turns artifact
  * isolation off for this; with it on, the second stream below compiles
  * 12 classes and gets a new classloader per lifecycle.
  *
  * The compile count is a JVM-global counter. Suites run one at a time
  * in one forked test JVM (`Test / fork := true`, forked suites are not
  * run in parallel), so nothing else compiles while this test runs. */
class StreamCodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Two waves through [[Replay.stream]] on a fresh root; returns the
    * identity of the context classloader of every task of each batch. */
  private def twoWaveStream(): Seq[(Int, Int)] = {
    val root = Files.createTempDirectory("graft_codegen_").toString
    val rows = spark.range(0, 40).toDF("v")
    val loaders = ArrayBuffer.empty[(Int, Int)]
    Replay.stream(spark, root,
        Seq(rows.where(col("v") % 2 === 0), rows.where(col("v") % 2 === 1)),
        parts = 2) { (b: DataFrame, id: Int) =>
      val seen = b.groupBy((col("v") % 3).as("k")).agg(sum("v").as("s"))
        .queryExecution.toRdd.mapPartitions { it =>
          it.foreach(_ => ())
          Iterator(System.identityHashCode(
            Thread.currentThread.getContextClassLoader))
        }.collect()
      loaders.synchronized { loaders ++= seen.map(id -> _) }
    }
    loaders.toSeq
  }

  test("a repeated stream reuses one executor classloader and compiles no generated class") {
    twoWaveStream() // warm-up: compiles every class the repeat needs
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val loaders = twoWaveStream()
    val compiled = compiles.getCount - before
    assert(loaders.map(_._1).distinct.sorted == Seq(0, 1),
      "both lifecycles ran a batch")
    val shared = loaders.map(_._2).distinct.size
    assert(shared == 1 && compiled == 0,
      s"context classloaders over both lifecycles: $shared (want 1), " +
        s"generated classes compiled: $compiled (want 0)")
  }
}
