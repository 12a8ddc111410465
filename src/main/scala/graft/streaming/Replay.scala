package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The checkpoint-resume protocol every `*_stream_*` query runs (q152's):
  * land files, drain them with one AvailableNow lifecycle on a fixed
  * checkpoint, land more, drain again — each later drain a RESUME that
  * recovers the committed file offsets and processes only the new files.
  *
  * Layout under a query's scratch `root`: landed parquet in `$root/in`,
  * the stream checkpoint in `$root/ckpt`. [[stream]] lands wave 0 with
  * the default error-if-exists mode, so a root that was not reset fails
  * instead of silently replaying stale input, and every later wave with
  * `append`.
  *
  * The batch-incremental twin is [[waves]]: the same body contract over
  * hash waves of one pinned frame, without landing or a checkpoint.
  *
  * Contract for a body: AvailableNow runs a lifecycle's micro-batches
  * serially, and batch `id - 1`'s checkpoint commit precedes batch `id`,
  * so everything written under ids below `id` is past replay (the
  * horizon [[graft.operators.Maintained.compactBefore]] folds at),
  * while batch `id` itself may be a replay of a crashed attempt, so a
  * body whose output must be exactly-once rewrites, rather than adds
  * to, what it wrote under `id`.
  *
  * Each lifecycle runs on a clone of the session, so a per-session
  * executor classloader would recompile every batch's generated code;
  * [[graft.Sessions.builder]] turns artifact isolation off for that.
  *
  * A drain that has not finished within 300 s is stopped and fails with
  * an error naming `root`; an exception in the body fails the drain with
  * the query already terminated. */
object Replay {

  /** The stream batch id as the Int that DeltaStore delta ids use. A
    * stream epoch past 2^31 must fail loudly, not wrap negative and
    * corrupt delta ordering. */
  def batchId(id: Long): Int = {
    require(id <= Int.MaxValue, s"stream batch id $id exceeds Int range")
    id.toInt
  }

  /** Newest version `K` below `id` among the `state=K` dirs of `dir`:
    * the predecessor a versioned-state batch reads, so that a replay of
    * batch `id` recomputes from the same input. */
  def latestBelow(dir: String, id: Long): Option[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("state="))
      .map(_.stripPrefix("state=").toLong).filter(_ < id)
      .maxOption

  /** `n` disjoint waves of `src`: wave `i` holds the rows whose `key`
    * hashes to `i` mod `n`. */
  def split(src: DataFrame, n: Int, key: Column*): Seq[DataFrame] =
    (0 until n).map(i => src.where(pmod(hash(key: _*), lit(n)) === i))

  /** The batch-incremental driver: pin `src` with `localCheckpoint`, run
    * `body(wave, i)` over its [[split]] for `i = 0 until n` in order,
    * and release the pin in `finally`, on success or failure alike.
    * The pin lives only as long as the waves: whatever reads the result
    * afterwards must read the store the body wrote, not `src`. */
  def waves(src: DataFrame, n: Int, key: Column*)
           (body: (DataFrame, Int) => Unit): Unit =
    graft.Q.pinned(src)(split(_, n, key: _*).zipWithIndex.foreach(body.tupled))

  /** Land each wave under `$root/in` (`repartition(parts)` files) and
    * [[drain]] after each one. The stream schema is `waves.head`'s. */
  def stream(s: SparkSession, root: String, waves: Seq[DataFrame],
             parts: Int, perFile: Boolean = false)
            (body: (DataFrame, Int) => Unit): Unit = {
    val schema = waves.head.schema
    waves.zipWithIndex.foreach { case (w, i) =>
      val landing = w.repartition(parts).write
      (if (i == 0) landing else landing.mode("append")).parquet(s"$root/in")
      drain(s, root, schema, perFile)(body)
    }
  }

  /** One lifecycle over the parquet files under `$root/in`: every file
    * not yet committed to `$root/ckpt` is processed, then the query
    * stops. `perFile` makes each landed file its own micro-batch. */
  def drain(s: SparkSession, root: String, schema: StructType,
            perFile: Boolean = false)
           (body: (DataFrame, Int) => Unit): Unit = {
    val in = s.readStream.schema(schema)
    run(root,
      (if (perFile) in.option("maxFilesPerTrigger", "1") else in)
        .parquet(s"$root/in"))(body)
  }

  /** One lifecycle over an arbitrary streaming `source` (a stateful
    * operator in front of the sink, or several files per trigger) on the
    * checkpoint at `$root/ckpt`. */
  def run(root: String, source: DataFrame)
         (body: (DataFrame, Int) => Unit): Unit = {
    val q = source.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => body(b, batchId(id)) }
      .start()
    if (!q.awaitTermination(300000)) {
      q.stop()
      throw new IllegalStateException(
        s"stream drain of $root did not finish in 300 s")
    }
  }
}
