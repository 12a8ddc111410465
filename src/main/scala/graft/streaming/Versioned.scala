package graft.streaming

import graft.operators.BatchState
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A state kept as one full snapshot per batch id: version `K` is the
  * parquet dir `$dir/state=K`. Batch `id` reads the newest version below
  * `id`, its replay predecessor, and overwrites version `id`, so a replay
  * of batch `id` recomputes from the same input and rewrites only its own
  * version ([[Replay]]'s body contract).
  *
  * GC rule: a version below the replay predecessor is read neither by
  * batch `id` nor by a replay of it, so [[fold]] deletes it before it
  * writes. After any batch at most two versions are live, the
  * predecessor and `id`. Every version is a whole snapshot, so there is
  * no delta tail to fold and [[compactBefore]] never fires. */
final case class Versioned(dir: String) extends BatchState {

  private def path(k: Long): String = s"$dir/state=$k"

  private def versions: Seq[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("state="))
      .map(_.stripPrefix("state=").toLong)

  /** Newest version below `id`. */
  def latestBelow(id: Long): Option[Long] = versions.filter(_ < id).maxOption

  /** Version `id` := `f(newest version below id)`, or `f(empty)` when
    * there is none, after deleting every version below that predecessor. */
  def fold(s: SparkSession, id: Int, empty: => DataFrame)
          (f: DataFrame => DataFrame): Unit = {
    val prev = latestBelow(id)
    prev.foreach(keep => versions.filter(_ < keep)
      .foreach(k => graft.Q.rmrf(new java.io.File(path(k)))))
    f(prev.map(k => s.read.parquet(path(k))).getOrElse(empty))
      .write.mode("overwrite").parquet(path(id))
    require(versions.size <= 2, s"version GC of $dir left more than two versions live")
  }

  /** The newest version. */
  def latest(s: SparkSession): DataFrame =
    s.read.parquet(path(latestBelow(Long.MaxValue).get))

  def compactBefore(spark: SparkSession, id: Int, maxDeltas: Int): Boolean = false
}
