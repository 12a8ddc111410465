package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** LSM-style append-only bucketed table: per-batch deltas holding
  * hash-bucketed subdirs (`dir/data/d<K>_e<E>/gbucket=B/part-*.parquet`),
  * periodically folded into a base (`dir/data/b<K>_e<E>`). The
  * state-store seam the incremental index family ([[LshIndex]],
  * [[EmbIndex]]), the merge-on-read table ([[MorTable]]), and
  * incremental statistics ([[IncrementalStats]]) build on.
  *
  * Design point (vs read-merge-rewrite buckets): when a batch's keys
  * hash into every bucket — the normal case for shingle vocabularies
  * and band keys — a replace-bucket merge rewrites O(table) bytes per
  * batch. Appending a delta dir writes O(batch) bytes regardless of
  * table size; the read side unions live dirs on the fly, pruned to
  * the gbuckets a probe's keys hash into. Listing cost grows with the
  * delta count, so long-lived stores call [[compact]] periodically.
  *
  * Commit protocol (object-store-safe, NO renames anywhere): data
  * prefixes are written DIRECTLY to their final, unique paths —
  * invisible until a manifest object (`manifest=<E>`) listing the live
  * (kind, id, prefix) entries is COMMITTED: an atomic create-if-absent
  * of the complete object (a hard link of a privately-written tmp —
  * POSIX's stand-in for an object store's if-none-match conditional
  * PUT). The newest manifest is authoritative; the `_current` pointer
  * is a lagging hint. Replay rewrites the same batch id under a NEW
  * unique prefix and the manifest entry is replaced, so in-place
  * overwrites never happen. The winning commit deletes the committed
  * prefixes its manifest drops (the replaced delta, folded history);
  * a crash mid-write leaves an unreferenced prefix that readers never
  * see and [[heal]] garbage-collects.
  *
  * Covering rule: with a base at K, only deltas with id > K are live —
  * a REPLAYED delta j <= K (appended on top of a base that already
  * folded it) must not double-count.
  *
  * Writers: [[append]], [[appendTables]], [[compact]] and
  * [[compactTables]] are safe beside other writers. The create-if-absent
  * is the optimistic-concurrency control: epoch E+1 has exactly one
  * winner, and a loser re-reads the newest manifest, REBASES its
  * entries (append keeps everything and replaces its own batch;
  * compact keeps concurrent deltas above its fold horizon) and retries
  * at the next epoch (DeltaStoreConcurrencySpec). [[heal]] is not: it
  * collects every unreferenced prefix at once, a concurrent writer's
  * written-but-uncommitted one included, so it must never run beside
  * another writer.
  */
final case class DeltaStore(dir: String, buckets: Int = 16) {

  /** The deterministic bucket id of a key column. */
  def gb(c: Column): Column = pmod(hash(c), lit(buckets)).cast("int")

  /** Distinct bucket ids a frame's keys hash into — a driver-side
    * metadata collect bounded by `buckets`. */
  def touched(df: DataFrame, key: Column): Seq[Int] =
    df.select(gb(key).as("g")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** Live delta count (base excluded) — the read-amplification metric
    * a compaction policy watches: listing cost, fold width, and bloom-
    * probe count all follow the delta TAIL, not the batch id. With
    * `upTo`, only deltas at or below that batch id count — the view of
    * [[Maintained.compactBefore]] at the start of batch k is
    * `upTo = Some(k - 1)`, the durably-committed tail. */
  def deltaCount(upTo: Option[Int] = None): Int =
    liveEntries(None).count { case (isBase, id, _) =>
      !isBase && upTo.forall(id <= _) }

  /** GC with zero grace: delete every data prefix and manifest object
    * the newest manifest does not reference (crash orphans, prefixes a
    * crash kept a commit from deleting, superseded manifests,
    * commit-attempt tmps). Never beside another writer (class doc). */
  def heal(): Unit = gc(graceMs = 0L)

  /** The live (isBase, id, dataDir) entries, newest-covering rule
    * applied. With `asOf`, deltas above that batch are excluded — the
    * time-travel read. History BELOW the newest base is folded away
    * (compaction is the retention boundary, as in any LSM/table-format
    * log), so an `asOf` older than the base is refused rather than
    * answered wrongly. Exposed to consumers that prune ENTRIES before
    * reading (e.g. [[MorTable]]'s bloom-sidecar delta skipping; combine
    * with [[readEntries]]) and to specs that locate a data dir. */
  private[graft] def live(asOf: Option[Int] = None): Seq[(Boolean, Int, java.io.File)] =
    liveEntries(asOf)

  /** [[read]] restricted to an explicit entry subset (callers prune
    * via [[live]] + sidecars first). */
  private[operators] def readEntries(spark: SparkSession, schema: StructType,
      entries: Seq[(Boolean, Int, java.io.File)],
      touched: Option[Seq[Int]]): DataFrame = {
    val paths = for {
      (_, _, d) <- entries
      sub <- Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      if sub.isDirectory && sub.getName.startsWith("gbucket=")
      if touched.forall(_.exists(k => sub.getName == s"gbucket=$k"))
    } yield sub.getPath
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths.sorted: _*)
  }

  /** Write a small advisory sidecar file into the CURRENT live dir of
    * `batchId`'s delta (no-op if that delta is not live — e.g. already
    * covered by a base). Sidecars ride the data prefix: a replay
    * commits a new prefix without the old sidecar, and GC collects
    * them with their prefix. They are ADVISORY by contract: written
    * AFTER the commit, so a crash can leave a delta without one —
    * readers must treat a missing sidecar as "no information". */
  private[operators] def writeSidecar(batchId: Int, name: String,
                                      bytes: Array[Byte]): Unit =
    liveEntries(None).collectFirst { case (false, `batchId`, d) => d }
      .foreach { d =>
        java.nio.file.Files.write(new java.io.File(d, name).toPath, bytes)
      }

  private[operators] def readSidecar(dataDir: java.io.File,
                                     name: String): Option[Array[Byte]] = {
    val f = new java.io.File(dataDir, name)
    if (f.isFile) Some(java.nio.file.Files.readAllBytes(f.toPath)) else None
  }

  private def liveEntries(asOf: Option[Int]): Seq[(Boolean, Int, java.io.File)] = {
    // a store written in the retired per-delta rename layout has no
    // manifest and would otherwise read as EMPTY — refuse it instead
    require(!Option(new java.io.File(dir).list()).exists(_.exists(n =>
        n.startsWith("delta=") || n.startsWith("base="))),
      s"$dir holds delta=/base= dirs of the retired rename layout")
    val raw = readManifest().map(_._2).getOrElse(Nil).map {
      case (isBase, id, rel) => (isBase, id, new java.io.File(dir, rel)) }
    val live = raw.collectFirst { case (true, k, _) => k } match {
      case None => raw
      case Some(k) => raw.filter { case (isBase, id, _) => isBase || id > k }
    }
    asOf match {
      case None => live
      case Some(j) =>
        live.collectFirst { case (true, k, _) => k }.foreach(k => require(j >= k,
          s"as-of batch $j predates base=$k — compaction folded that history away"))
        live.filter { case (isBase, id, _) => isBase || id <= j }
    }
  }

  /** Bucket-pruned union of the live dirs (every bucket if `touched`
    * is None); empty frame with `schema` when none exist. `asOf`
    * restricts to deltas <= that batch (time travel back to the last
    * compact; older as-of values are refused — see [[liveEntries]]).
    *
    * `table` selects one sub-table of a grouped store (the
    * `tbl=<name>` level [[appendTables]] writes below each delta).
    *
    * `excludeDelta` drops that one delta id from the read — the
    * PRIOR-state read of a writer about to (re)append that batch:
    * without it, a checkpoint replay of an already-committed batch
    * would read its own previous delta as "prior" state and derive
    * different rows than the original run, breaking replay
    * determinism; with it, the replay recomputes bit-identical state
    * and replaces the delta identically.
    *
    * Schema evolution contract (MorTableSpec pins all three):
    * deltas written before a column existed read as null for that
    * column (parquet scans fill requested-but-absent columns) — the
    * added-column path; SAFE WIDENING is supported at scan with exact
    * value preservation — int history reads under a long schema,
    * decimal(p,s) under decimal(p+k,s) (Spark 4's parquet readers
    * up-convert losslessly, same as Delta's type-widening feature);
    * NARROWING or a lossy type change (long under int, int under
    * string) is not supported and fails loudly at scan time — never a
    * silent coercion. */
  def read(spark: SparkSession, schema: StructType,
           touched: Option[Seq[Int]], asOf: Option[Int] = None,
           table: Option[String] = None,
           excludeDelta: Option[Int] = None): DataFrame =
    readEntries(spark, schema,
      liveEntries(asOf)
        .filterNot { case (isBase, id, _) => !isBase && excludeDelta.contains(id) }
        .map { case (b, id, d0) =>
          (b, id, table.map(t => new java.io.File(d0, s"tbl=$t")).getOrElse(d0)) },
      touched)

  /** Append `df` (carrying a `gbucket` column) as the delta for
    * `batchId`: a direct write to a fresh epoch prefix, then the
    * manifest + pointer commit replacing the batch's entry (replay
    * idempotence).
    *
    * The write shuffle is keyed on the bucket alone, so every bucket
    * lands in exactly ONE reducer and each commit (delta or base)
    * holds at most one file per bucket dir — the invariant reads rely
    * on (DeltaStoreLayoutSpec pins it). Letting an unkeyed shuffle
    * write every partition into every bucket dir produced up to 32x16
    * tiny files per delta, measured as a dominant replay cost. The
    * partition COUNT is the session's (shuffle partitions, coalesced
    * by AQE to the bytes written): a 10-row delta runs one write task,
    * a large one up to the session's parallelism, and `buckets` only
    * sets the [[gb]] hash. */
  def append(df: DataFrame, batchId: Int, within: Seq[Column]): Unit =
    appendWith(df, batchId, within, Seq("gbucket"))

  /** Grouped-commit append: `union` carries a `tbl` discriminator
    * column (plus `gbucket`), holding several logical tables' delta
    * rows in ONE frame — written as ONE Spark job and promoted by ONE
    * atomic commit (`data/d<K>_e<E>/tbl=<name>/gbucket=B/...`). This is the
    * multi-table transaction the incremental indexes need: [[LshIndex]]
    * maintains three state tables per ingest batch, and three separate
    * append cycles cost three shuffles + three commits per batch
    * (measured ~20% of the sf0.1 bench as fixed orchestration) AND can
    * crash between commits, leaving tables at different batches. One
    * grouped commit is all-or-nothing across the tables. Read back one
    * table via `read(..., table = Some(name))`; fold with
    * [[compactTables]]. */
  def appendTables(union: DataFrame, batchId: Int,
                   within: Seq[Column]): Unit =
    appendWith(union, batchId, within, Seq("tbl", "gbucket"))

  private def appendWith(df: DataFrame, batchId: Int, within: Seq[Column],
                         partCols: Seq[String]): Unit = {
    // the prefix name only needs uniqueness (it is data-invisible until
    // referenced); the basing epoch serves, even if the commit later
    // lands at a higher one after conflict retries
    val (epoch0, _) = readManifest().getOrElse((0L, Nil))
    val rel = s"data/d${batchId}_e${epoch0 + 1}"
    df.repartition(col("gbucket"))
      .sortWithinPartitions((partCols.map(col) ++ within): _*)
      .write.partitionBy(partCols: _*).mode("overwrite")
      .parquet(new java.io.File(dir, rel).getPath)
    commitManifest(entries =>
      entries.filterNot { case (isBase, id, _) => !isBase && id == batchId } :+
        ((false, batchId, rel)))
  }

  /** Fold the live dirs into one base (id = highest batch on disk) so
    * read listing cost stops growing with replay depth. `fold` merges
    * the unioned rows (identity for immutable-row tables; a sum-by-key
    * for additive ones). Only compact batches whose downstream effects
    * are durably committed: a checkpoint REPLAY of batch j <= K would
    * append delta j on top of a base that already contains it (the
    * replayed bytes are ignored by the covering rule, but they are
    * dead weight until the next compact) — and for non-idempotent
    * folds (additive counts, run stitching) a replay whose prior-state
    * read can no longer EXCLUDE its folded delta would double-count
    * outright. `upTo` enforces that rule
    * mechanically: only deltas at or below that batch id fold; later
    * deltas stay live above the new base (the covering rule keeps
    * them). */
  def compact(spark: SparkSession, schema: StructType, key: Column,
              fold: DataFrame => DataFrame,
              upTo: Option[Int] = None): Unit =
    compactWith(Seq("gbucket"), Seq(key), upTo) { _ =>
      fold(read(spark, schema, None, asOf = upTo))
        .withColumn("gbucket", gb(key))
    }

  /** Grouped-commit fold of a multi-table store ([[appendTables]]):
    * each (name, schema, key, fold) is folded independently, and all
    * folds land in ONE base written by ONE Spark job and promoted by
    * ONE atomic commit — the tables can never be compacted to
    * different batch horizons. */
  def compactTables(spark: SparkSession,
                    tables: Seq[(String, StructType, Column, DataFrame => DataFrame)],
                    upTo: Option[Int] = None): Unit =
    // per-table sort keys, masked to their own tbl slice so another
    // table's key column (possibly shared, e.g. vec_id) cannot steal
    // sort precedence inside a slice
    compactWith(Seq("tbl", "gbucket"),
        tables.map { case (n, _, key, _) => when(col("tbl") === lit(n), key) },
        upTo) { _ =>
      tables.map { case (name, schema, key, fold) =>
        fold(read(spark, schema, None, asOf = upTo, table = Some(name)))
          .withColumn("tbl", lit(name))
          .withColumn("gbucket", gb(key))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  private def compactWith(partCols: Seq[String], within: Seq[Column],
                          upTo: Option[Int] = None)
                         (mkFolded: Unit => DataFrame): Unit = {
    val live = liveEntries(upTo)
    if (live.nonEmpty) {
      val k = live.map(_._2).max
      val (epoch0, _) = readManifest().getOrElse((0L, Nil))
      val rel = s"data/b${k}_e${epoch0 + 1}"
      mkFolded(())
        .repartition(col("gbucket"))
        .sortWithinPartitions((partCols.map(col) ++ within): _*)
        .write.partitionBy(partCols: _*).mode("overwrite")
        .parquet(new java.io.File(dir, rel).getPath)
      // rebase on conflict: keep every delta a concurrent ingest
      // committed ABOVE the fold horizon k; a concurrently-replayed
      // delta <= k is covered by the new base (the covering rule would
      // ignore it anyway) and is dropped
      commitManifest(entries =>
        ((true, k, rel)) +: entries.filter {
          case (isBase, id, _) => !isBase && id > k })
      // the commit deleted the prefixes it dropped; uncommitted orphans
      // (crashed writes) are GC'd with a grace window: a CONCURRENT
      // ingest may be between its data write and its commit, and its
      // prefix is indistinguishable from an orphan until it commits —
      // the same reason every table format's orphan cleanup only
      // removes files older than a threshold
      gc(graceMs = 600000L)
    }
  }

  // ---- manifest internals ----------------------------------------

  /** Test seam: invoked between a commit attempt's epoch read and its
    * CAS — the window where a concurrent writer can slip in. Specs use
    * it to force deterministic interleavings; production leaves it a
    * no-op. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** (epoch, entries) of the NEWEST committed manifest; None before
    * the first commit. Entry = (isBase, id, relative data prefix).
    * The max `manifest=<E>` object is authoritative — a manifest
    * exists only fully written (commit is an atomic create of the
    * complete object), so the newest one is always readable; the
    * `_current` pointer is a lagging hint (it cannot be written
    * race-free by concurrent winners), kept for GC and operators. */
  private def readManifest(): Option[(Long, Seq[(Boolean, Int, String)])] = {
    val epochs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("manifest="))
      .map(_.stripPrefix("manifest=").toLong)
    epochs.maxOption.map { epoch =>
      val mf = new java.io.File(dir, s"manifest=$epoch")
      val entries = new String(java.nio.file.Files.readAllBytes(mf.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map { line =>
          val Array(kind, id, rel) = line.split("\t")
          (kind == "base", id.toInt, rel)
        }
      (epoch, entries)
    }
  }

  /** ONE optimistic-concurrency commit attempt: write the complete
    * manifest body to a private tmp, then atomically create
    * `manifest=<epoch>` from it (hard link — create-if-absent is
    * atomic on POSIX, and is exactly an object store's if-none-match
    * conditional PUT). Returns false when another writer already owns
    * that epoch — the caller re-reads the newest manifest, REBASES its
    * entries on it, and retries at the next epoch, so concurrent
    * ingest and compaction interleave without dropping each other's
    * entries. Deltas sort by id for deterministic read order. */
  private def tryCommitManifest(epoch: Long,
                                entries: Seq[(Boolean, Int, String)]): Boolean = {
    val d = new java.io.File(dir)
    d.mkdirs()
    onBeforeCommit()
    val body = entries.sortBy { case (isBase, id, _) => (!isBase, id) }
      .map { case (isBase, id, rel) =>
        s"${if (isBase) "base" else "delta"}\t$id\t$rel" }
      .mkString("\n")
    val tmp = new java.io.File(d,
      s".mf_${epoch}_${Thread.currentThread().getId}_${System.nanoTime()}.tmp")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val won =
      try {
        java.nio.file.Files.createLink(
          new java.io.File(d, s"manifest=$epoch").toPath, tmp.toPath)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally tmp.delete()
    if (won) {
      // advance the pointer hint monotonically; losers of this benign
      // read-check-write race are corrected by the next winner or heal
      val cur = new java.io.File(d, "_current")
      val curEpoch =
        if (!cur.exists()) -1L
        else new String(java.nio.file.Files.readAllBytes(cur.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      if (curEpoch < epoch) {
        val ptmp = new java.io.File(d, s"._current_${System.nanoTime()}.tmp")
        java.nio.file.Files.write(ptmp.toPath,
          epoch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(ptmp.toPath, cur.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    won
  }

  /** Commit with rebase-and-retry: `rebase` maps the newest committed
    * entry list to the desired one; retried until a CAS wins. The
    * winner then deletes every prefix the manifest it rebased on
    * referenced and its own drops (a replay's replaced delta, folded
    * deltas, an older base): those were committed, never another
    * writer's in-flight prefix, so this is safe beside other writers,
    * and it is the point where deleted rows leave storage. */
  private def commitManifest(
      rebase: Seq[(Boolean, Int, String)] => Seq[(Boolean, Int, String)]): Unit = {
    var attempts = 0
    var dropped = Option.empty[Set[String]]
    while (dropped.isEmpty) {
      attempts += 1
      require(attempts <= 1000, s"manifest commit on $dir live-locked")
      val (epoch, entries) = readManifest().getOrElse((0L, Nil))
      val next = rebase(entries)
      if (tryCommitManifest(epoch + 1, next))
        dropped = Some(entries.map(_._3).toSet -- next.map(_._3))
    }
    dropped.get.foreach(rel => graft.Q.rmrf(new java.io.File(dir, rel)))
  }

  /** Delete data prefixes and manifest objects the NEWEST manifest does
    * not reference, skipping anything younger than `graceMs`. */
  private def gc(graceMs: Long): Unit = {
    readManifest().foreach { case (epoch, entries) =>
      val cutoff = System.currentTimeMillis() - graceMs
      val liveRel = entries.map(_._3).toSet
      val dataDir = new java.io.File(dir, "data")
      Option(dataDir.listFiles()).foreach(_.foreach { f =>
        if (!liveRel.contains(s"data/${f.getName}") &&
            f.lastModified() < cutoff) graft.Q.rmrf(f)
      })
      Option(new java.io.File(dir).listFiles()).foreach(_.foreach { f =>
        if (((f.getName.startsWith("manifest=") &&
               f.getName.stripPrefix("manifest=").toLong != epoch) ||
             f.getName.startsWith(".mf_") || f.getName.startsWith("._current_")) &&
            f.lastModified() < cutoff)
          f.delete()
      })
    }
  }
}
