package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Bucket-partitioned snapshot table under the LOCAL rename-pair commit
  * protocol — the bucketed upgrade of [[IncrementalRollup]]'s whole-table
  * directory swap (and the data-path twin of
  * `BloomIndex.upsertBucketed`'s layout): the table lives as
  * `dir/gbucket=K/` directories, each bucket swapped independently via a
  * staged rename pair, so a merge rewrites O(touched buckets) bytes
  * instead of O(table).
  *
  * Commit granularity is PER BUCKET: a crash mid-merge can leave some
  * touched buckets promoted and others on their pre-batch contents.
  * That is safe under the streaming contract this store serves — the
  * batch replays from the checkpoint and replace-by-key is idempotent,
  * so re-running converges every bucket — but it is weaker than one
  * atomic table swap; deployments that need whole-table snapshot
  * atomicity use the manifest variant ([[ManifestTable.commitBuckets]]),
  * which keeps one pointer move per commit. Same crash-orphan healing
  * invariant as every rename-pair in this codebase: `X.old` WITHOUT `X`
  * means the swap died between renames — restore it; `X.old` with `X`
  * present means the promote completed — drop it.
  */
object BucketedSnapshot {

  private def bucketDir(dir: String, k: Int) =
    new java.io.File(dir, s"gbucket=$k")

  /** Restore any bucket whose rename pair was interrupted. */
  def heal(dir: String): Unit = {
    val root = new java.io.File(dir)
    Option(root.listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      if (n.startsWith("gbucket=") && n.endsWith(".old")) {
        val target = new java.io.File(root, n.stripSuffix(".old"))
        if (!target.exists()) {
          if (!f.renameTo(target))
            throw new java.io.IOException(s"cannot restore $target from $f")
        } else graft.Q.rmrf(f)
      }
    })
    // an unpromoted staging dir is a dead partial write — drop it
    val staging = new java.io.File(dir + ".staging")
    if (staging.exists()) graft.Q.rmrf(staging)
  }

  /** Partition-pruned read of the named buckets (all if None); empty
    * frame with `schema` when nothing exists. Data columns only — the
    * bucket id is a deterministic row function, rebuilt when needed. */
  def readBuckets(spark: SparkSession, dir: String, schema: StructType,
                  buckets: Option[Seq[Int]]): DataFrame = {
    heal(dir)
    val root = new java.io.File(dir)
    val present: Seq[String] = Option(root.listFiles()) match {
      case None => Seq.empty
      case Some(fs) =>
        val live = fs.filter(f => f.isDirectory &&
          f.getName.startsWith("gbucket=") && !f.getName.endsWith(".old"))
        val chosen = buckets match {
          case None => live
          case Some(bs) =>
            val want = bs.map(k => s"gbucket=$k").toSet
            live.filter(f => want.contains(f.getName))
        }
        chosen.map(_.getPath).toSeq.sorted
    }
    if (present.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(present: _*)
  }

  /** Replace the contents of exactly `buckets` with `df`'s rows (`df`
    * must carry an int `gbucket` column and only rows of those
    * buckets). One staged write job for all touched buckets, then a
    * rename-pair swap per bucket. A touched bucket with no rows in
    * `df` is emptied (its directory is removed) — replace semantics.
    * `within` adds intra-bucket clustering columns to the staging
    * shuffle: repartitioning on the bucket alone caps write
    * parallelism at the touched-bucket COUNT (the round-9 audit
    * measured exactly that — a handful of year buckets serializing a
    * 32-core write); hashing on (bucket, within...) keeps all cores
    * writing while partitionBy still routes rows to their bucket dir. */
  def replaceBuckets(spark: SparkSession, dir: String, df: DataFrame,
                     buckets: Seq[Int],
                     within: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    heal(dir)
    val staging = new java.io.File(dir + ".staging")
    if (staging.exists()) graft.Q.rmrf(staging)
    df.repartition((col("gbucket") +: within): _*)
      .write.partitionBy("gbucket").mode("overwrite")
      .parquet(staging.getPath)
    new java.io.File(dir).mkdirs()
    buckets.foreach { k =>
      val src = new java.io.File(staging, s"gbucket=$k")
      val tgt = bucketDir(dir, k)
      val old = new java.io.File(dir, s"gbucket=$k.old")
      if (old.exists()) graft.Q.rmrf(old)
      if (tgt.exists() && !tgt.renameTo(old))
        throw new java.io.IOException(s"cannot stage out $tgt")
      if (src.exists() && !src.renameTo(tgt))
        throw new java.io.IOException(s"cannot promote $src")
      graft.Q.rmrf(old)
    }
    graft.Q.rmrf(staging)
  }
}
