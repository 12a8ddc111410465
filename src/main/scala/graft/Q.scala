package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query.
  *
  * @param name   registry key (also the output dir name in Verify)
  * @param run    the Spark program; `sfDir` points at a TESTDATA.md scale dir
  * @param oracle equivalent ANSI SQL for DuckDB over the same parquet tables
  *               (None → the driver records a weaker rows-only check)
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Q {
  /** Numeric-parity helpers.
    *
    * The driver hash-compares our parquet output against DuckDB's result, so
    * floating-point aggregation order must not leak into outputs. Strategy:
    * the synthetic money-ish doubles carry exactly 2 decimals, so cast to
    * DECIMAL(18,2) at the scan, aggregate exactly in decimal, and convert to
    * DOUBLE only for a final, fixed-order arithmetic step (decimal→double is
    * correctly rounded and identical in both engines; a single IEEE division
    * on identical operands is bit-deterministic).
    */
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Scratch root for queries that exercise physical commit protocols
    * (the imperative I/O IS the thing under test). Derives from
    * `spark.graft.scratch.dir` (falling back to `java.io.tmpdir`) so two
    * concurrent gates against the same scale dir can point at disjoint
    * scratch roots instead of colliding on a hard-coded /tmp path. */
  def scratch(s: SparkSession, tag: String, dir: String): String =
    s.conf.get("spark.graft.scratch.dir",
        System.getProperty("java.io.tmpdir", "/tmp")).stripSuffix("/") +
      s"/graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** [[scratch]] emptied by [[rmrf]]: the root a commit-protocol query
    * starts from, so a rerun never sees a previous run's stores. */
  def fresh(s: SparkSession, tag: String, dir: String): String = {
    val root = scratch(s, tag, dir)
    rmrf(new java.io.File(root))
    root
  }

  /** Fixed-location artifact dir a DuckDB oracle can read back. Unlike
    * [[scratch]] the root is NOT scale-dir-keyed — the oracle SQL is a
    * static string, so the path must be knowable without `dir` — and
    * instead each SCALE gets its own `n=<count>` subdir (runs at
    * different scales never overwrite each other) plus an `n` column in
    * the data, which the oracle filters against the live corpus count.
    * Assumes the default /tmp tmpdir (the gate's environment); a
    * non-default java.io.tmpdir breaks only the oracle replay, not the
    * engine. */
  def oracleArtifact(tag: String, n: Long): String =
    System.getProperty("java.io.tmpdir", "/tmp").stripSuffix("/") +
      s"/graft_${tag}_oracle/n=$n"

  /** Recursive scratch delete, parallel across siblings: the commit-
    * protocol queries each clear a few-hundred-file scratch tree at
    * query start, INSIDE the timed region, and the serial driver-thread
    * walk showed up in gap-time stack samples. tmpfs unlinks are cheap
    * but not free; fork-join across subtrees bounds the wall cost by
    * the deepest subtree instead of the file count. */
  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach { kids =>
        java.util.Arrays.stream(kids).parallel().forEach(k => rmrf(k))
      }
    f.delete()
  }

  /** Free an eager localCheckpoint's storage blocks once every consumer
    * has run. A checkpointed frame's blocks live in the block manager
    * until the RDD object is GC'd — across a 246-query bench in one
    * shared session they accumulate into real memory pressure (storage
    * evictions / spill for later queries). `Dataset.unpersist()` cannot
    * release them (it only drops CacheManager entries; checkpoint
    * blocks are not cache entries), so reach through the LogicalRDD.
    * SAFETY: localCheckpoint SEVERS lineage — only call this when the
    * frame can never be computed again: the maintenance-query shape,
    * where every wave lands via actions inside the body and the
    * returned report reads the committed store from disk. */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** Pin `df` with `localCheckpoint`, run `body` over the pinned frame,
    * and [[unpin]] it in `finally`, on success or failure alike: a body
    * that throws must not leave its blocks in the shared session. The
    * [[unpin]] SAFETY rule holds: nothing may compute the pinned frame
    * after `body` returns. */
  def pinned[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = df.localCheckpoint()
    try body(p) finally unpin(p)
  }

  val Dec: DecimalType = DecimalType(18, 2)
  def dec2(c: Column): Column = c.cast(Dec)
  /** Exact sum of a 2-decimal double column, emitted as double. */
  def sumExact(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  /** Exact-numerator average, deterministic double result. */
  def avgExact(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(c)
}
