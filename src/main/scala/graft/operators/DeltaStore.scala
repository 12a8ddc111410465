package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** LSM-style append-only bucketed table: per-batch delta dirs holding
  * hash-bucketed subdirs (`dir/delta=K/gbucket=B/part-*.parquet`),
  * periodically folded into a `base=K` dir. The state-store seam the
  * incremental index family ([[LshIndex]], [[EmbIndex]]), the
  * merge-on-read table ([[MorTable]]), and incremental statistics
  * ([[IncrementalStats]]) build on.
  *
  * Design point (vs [[graft.streaming.BucketedSnapshot]]'s
  * read-merge-rewrite buckets): when a batch's keys hash into every
  * bucket — the normal case for shingle vocabularies and band keys —
  * a replace-bucket merge rewrites O(table) bytes per batch. Appending
  * a delta dir writes O(batch) bytes regardless of table size; the
  * read side unions live dirs on the fly, pruned to the gbuckets a
  * probe's keys hash into. Listing cost grows with the delta count,
  * so long-lived stores call [[compact]] periodically.
  *
  * TWO commit protocols behind the same API, selected by `manifest`:
  *
  *   - `manifest = false` (default, local FS): each delta is staged,
  *     then ONE rename promotes `delta=K` (atomic on POSIX). A
  *     replayed batch replaces its own delta — idempotent under the
  *     replay-from-checkpoint contract. [[compact]] promotes `base=K`
  *     with the same single rename; readers ignore covered dirs from
  *     that instant, so cleanup is lazy and a crash anywhere leaves a
  *     readable, non-double-counting state. [[heal]] drops dead
  *     staging dirs.
  *   - `manifest = true` (object-store-safe, NO renames anywhere):
  *     data prefixes are written DIRECTLY to their final, unique
  *     paths (`data/d<K>_e<E>/gbucket=B/...`) — invisible until a
  *     manifest object (`manifest=<E>`) listing the live (kind, id,
  *     prefix) entries is COMMITTED: an atomic create-if-absent of
  *     the complete object (a hard link of a privately-written tmp —
  *     POSIX's stand-in for an object store's if-none-match
  *     conditional PUT). The newest manifest is authoritative; the
  *     `_current` pointer is a lagging hint. The create-if-absent IS
  *     the optimistic-concurrency control: epoch E+1 has exactly one
  *     winner, a loser re-reads the newest manifest, REBASES its
  *     entries (append keeps everything and replaces its own batch;
  *     compact keeps concurrent deltas above its fold horizon), and
  *     retries at the next epoch — so concurrent ingest and
  *     compaction interleave without dropping each other's committed
  *     entries. Replay rewrites the same batch id under a NEW unique
  *     prefix and the manifest entry is replaced, so in-place
  *     overwrites never happen; a crash mid-write leaves an
  *     unreferenced prefix that readers never see and [[heal]]
  *     garbage-collects — but GC is maintenance-only (never
  *     concurrent with in-flight appends; see [[healManifest]]).
  *     The rename protocol remains single-writer.
  *
  * CHOOSING a protocol (deployment guidance, not just mechanics):
  * `manifest = false` is the SINGLE-WRITER protocol by documented
  * contract — correct for one checkpointed ingester per store (the
  * streaming replay shape), cheapest on a local/POSIX FS. ANY
  * deployment where two writers can touch the same store — concurrent
  * ingest + compaction, multi-pipeline ingest, crash-recovery
  * double-fire across hosts — MUST provision `manifest = true`: the
  * epoch CAS is what makes the loser rebase instead of clobbering
  * (DeltaStoreConcurrencySpec exercises append/append, append/compact,
  * grouped multi-table commits, and 4-thread stress). The same applies
  * on object stores even single-writer, where directory rename is not
  * atomic. The default stays `false` only because a default cannot
  * know your writer topology and the rename protocol is the one with
  * no extra read-path cost; it is NOT a recommendation for concurrent
  * use.
  */
final case class DeltaStore(dir: String, buckets: Int = 16,
                            manifest: Boolean = false) {

  /** The deterministic bucket id of a key column. */
  def gb(c: Column): Column = pmod(hash(c), lit(buckets)).cast("int")

  /** Distinct bucket ids a frame's keys hash into — a driver-side
    * metadata collect bounded by `buckets`. */
  def touched(df: DataFrame, key: Column): Seq[Int] =
    df.select(gb(key).as("g")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** A store dir is permanently owned by the protocol that first wrote
    * it. Opening it under the OTHER protocol would find none of that
    * protocol's artifacts and silently read an EMPTY table — data
    * appearing lost with no error — so every read/write path refuses
    * a dir carrying the other protocol's markers instead. */
  private def checkProtocol(): Unit = {
    val names = Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    if (manifest)
      require(!names.exists(n => n.startsWith("delta=") || n.startsWith("base=")),
        s"$dir holds rename-protocol dirs but was opened with manifest = true")
    else
      require(!names.contains("_current"),
        s"$dir holds a manifest-protocol pointer but was opened with manifest = false")
  }

  /** Live delta count (base excluded) — the read-amplification metric
    * a compaction policy watches: listing cost, fold width, and bloom-
    * probe count all follow the delta TAIL, not the batch id. With
    * `upTo`, only deltas at or below that batch id count — the view of
    * [[Maintained.compactBefore]] at the start of batch k is
    * `upTo = Some(k - 1)`, the durably-committed tail. */
  def deltaCount(upTo: Option[Int] = None): Int =
    liveEntries(None).count { case (isBase, id, _) =>
      !isBase && upTo.forall(id <= _) }

  def heal(): Unit =
    if (manifest) healManifest()
    else {
      val d = new java.io.File(dir)
      Option(d.listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith(".staging")) DeltaStore.delete(f)
      })
    }

  /** The live (isBase, id, dataDir) entries, newest-covering rule
    * applied. With `asOf`, deltas above that batch are excluded — the
    * time-travel read. History BELOW the newest base is folded away
    * (compaction is the retention boundary, as in any LSM/table-format
    * log), so an `asOf` older than the base is refused rather than
    * answered wrongly. Exposed to same-package consumers that prune
    * ENTRIES before reading (e.g. [[MorTable]]'s bloom-sidecar delta
    * skipping); combine with [[readEntries]]. */
  private[operators] def live(asOf: Option[Int] = None): Seq[(Boolean, Int, java.io.File)] =
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
    * covered by a base). Sidecars ride the data dir: a rename-replay
    * replaces the dir (and the sidecar with it), manifest GC collects
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
    checkProtocol()
    val raw: Seq[(Boolean, Int, java.io.File)] =
      if (manifest) {
        readManifest() match {
          case None => Nil
          case Some((_, entries)) => entries.map { case (isBase, id, rel) =>
            (isBase, id, new java.io.File(dir, rel))
          }
        }
      } else {
        val d = new java.io.File(dir)
        val all = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
          .filter(_.isDirectory)
        val bases = all.filter(_.getName.startsWith("base="))
        bases.map(f => f.getName.stripPrefix("base=").toInt).sorted.lastOption match {
          case None => all.filter(_.getName.startsWith("delta="))
            .map(f => (false, f.getName.stripPrefix("delta=").toInt, f))
          case Some(k) =>
            bases.filter(_.getName == s"base=$k").map(f => (true, k, f)) ++
              all.filter(f => f.getName.startsWith("delta=") &&
                f.getName.stripPrefix("delta=").toInt > k)
                .map(f => (false, f.getName.stripPrefix("delta=").toInt, f))
        }
      }
    // Covering rule, uniform across protocols: with a base at K, only
    // deltas with id > K count — a REPLAYED delta j <= K (appended on
    // top of a base that already folded it) must not double-count.
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
    * `batchId`: rename protocol — staged write, one atomic rename,
    * replacing an existing same-batch delta (replay idempotence);
    * manifest protocol — direct write to a fresh epoch prefix, then
    * manifest + pointer commit replacing the batch's entry.
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
    * atomic commit (`delta=K/tbl=<name>/gbucket=B/...`). This is the
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
    if (sys.env.contains("GRAFT_STORE_DEBUG"))
      println(s"[store] appendWith batch=$batchId dir=$dir thread=${Thread.currentThread().getName}")
    checkProtocol()
    def write(target: java.io.File): Unit =
      df.repartition(col("gbucket"))
        .sortWithinPartitions((partCols.map(col) ++ within): _*)
        .write.partitionBy(partCols: _*).mode("overwrite")
        .parquet(target.getPath)
    if (manifest) {
      // the prefix name only needs uniqueness (it is data-invisible
      // until referenced); the basing epoch serves, even if the commit
      // later lands at a higher one after conflict retries
      val (epoch0, _) = readManifest().getOrElse((0L, Nil))
      val rel = s"data/d${batchId}_e${epoch0 + 1}"
      write(new java.io.File(dir, rel))
      commitManifest(entries =>
        entries.filterNot { case (isBase, id, _) => !isBase && id == batchId } :+
          ((false, batchId, rel)))
    } else {
      val d = new java.io.File(dir)
      d.mkdirs()
      val staging = new java.io.File(d, s".staging_$batchId")
      if (staging.exists()) DeltaStore.delete(staging)
      write(staging)
      val target = new java.io.File(d, s"delta=$batchId")
      if (target.exists()) DeltaStore.delete(target)
      if (!staging.renameTo(target))
        throw new java.io.IOException(s"cannot promote $staging to $target")
    }
  }

  /** Fold the live dirs into one base (id = highest batch on disk) so
    * read listing cost stops growing with replay depth. `fold` merges
    * the unioned rows (identity for immutable-row tables; a sum-by-key
    * for additive ones). Only compact batches whose downstream effects
    * are durably committed: a checkpoint REPLAY of batch j <= K would
    * append `delta=j` on top of a base that already contains it (the
    * replayed bytes are ignored by the covering rule / replaced entry,
    * but they are dead weight until the next compact) — and for
    * non-idempotent folds (additive counts, run stitching) a replay
    * whose prior-state read can no longer EXCLUDE its folded delta
    * would double-count outright. `upTo` enforces that rule
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
    heal()
    val live = liveEntries(upTo)
    if (live.nonEmpty) {
      val k = live.map(_._2).max
      val folded = mkFolded(())
        .repartition(col("gbucket"))
        .sortWithinPartitions((partCols.map(col) ++ within): _*)
      if (manifest) {
        val (epoch0, _) = readManifest().getOrElse((0L, Nil))
        val rel = s"data/b${k}_e${epoch0 + 1}"
        folded.write.partitionBy(partCols: _*).mode("overwrite")
          .parquet(new java.io.File(dir, rel).getPath)
        // rebase on conflict: keep every delta a concurrent ingest
        // committed ABOVE the fold horizon k; a concurrently-replayed
        // delta <= k is covered by the new base (the covering rule
        // would ignore it anyway) and is dropped
        commitManifest(entries =>
          ((true, k, rel)) +: entries.filter {
            case (isBase, id, _) => !isBase && id > k })
        // GC with a grace window: a CONCURRENT ingest may be between
        // its data write and its commit, and its prefix is
        // indistinguishable from an orphan until it commits — the
        // same reason every table format's orphan cleanup only
        // removes files older than a threshold. Freshly-replaced
        // prefixes wait for the next compact (or an explicit
        // maintenance heal(), which uses grace 0 under the rule that
        // it never runs concurrently with writers).
        healManifest(graceMs = 600000L)
      } else {
        val d = new java.io.File(dir)
        val staging = new java.io.File(d, s".staging_compact_$k")
        if (staging.exists()) DeltaStore.delete(staging)
        folded.write.partitionBy(partCols: _*).mode("overwrite")
          .parquet(staging.getPath)
        val target = new java.io.File(d, s"base=$k")
        if (target.exists()) DeltaStore.delete(target)
        if (!staging.renameTo(target))
          throw new java.io.IOException(s"cannot promote $staging to $target")
        // GC every dir the new base covers — including previously-dead
        // replayed deltas (id <= an OLDER base) that were never in the
        // live set and would otherwise accrue forever.
        Option(d.listFiles()).foreach(_.foreach { f =>
          val n = f.getName
          if ((n.startsWith("delta=") && n.stripPrefix("delta=").toInt <= k) ||
              (n.startsWith("base=") && n.stripPrefix("base=").toInt < k))
            DeltaStore.delete(f)
        })
      }
    }
  }

  // ---- manifest protocol internals -------------------------------

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
    * entry list to the desired one; retried until a CAS wins. */
  private def commitManifest(
      rebase: Seq[(Boolean, Int, String)] => Seq[(Boolean, Int, String)]): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 1000, s"manifest commit on $dir live-locked")
      val (epoch, entries) = readManifest().getOrElse((0L, Nil))
      done = tryCommitManifest(epoch + 1, rebase(entries))
    }
  }

  /** GC: delete data prefixes and manifest objects the NEWEST manifest
    * does not reference (crash orphans, replaced replay prefixes,
    * pre-compact history, superseded manifests, commit-attempt tmps),
    * skipping anything younger than `graceMs`. Committed entries are
    * never lost to concurrent writers (the CAS protocol); the grace
    * window protects a concurrent ingest's written-but-not-yet-
    * committed prefix, which is indistinguishable from an orphan until
    * its manifest lands — compact GCs with a 10-minute grace so it can
    * run alongside ingest; the explicit maintenance [[heal]] uses
    * grace 0 under the rule that it never runs concurrently with
    * writers (every table format's orphan-cleanup contract). */
  private def healManifest(graceMs: Long = 0L): Unit = {
    readManifest().foreach { case (epoch, entries) =>
      val cutoff = System.currentTimeMillis() - graceMs
      val liveRel = entries.map(_._3).toSet
      val dataDir = new java.io.File(dir, "data")
      Option(dataDir.listFiles()).foreach(_.foreach { f =>
        if (!liveRel.contains(s"data/${f.getName}") &&
            f.lastModified() < cutoff) DeltaStore.delete(f)
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

object DeltaStore {
  /** Open an EXISTING store, detecting its commit protocol from the
    * artifacts on disk (`_current` pointer → manifest; otherwise
    * rename) — the reader-side complement of [[DeltaStore.checkProtocol]]:
    * a consumer that only reads should not have to know which protocol
    * the writer chose. An empty/missing dir opens as rename (reads
    * empty). */
  def open(dir: String, buckets: Int = 16): DeltaStore =
    DeltaStore(dir, buckets,
      manifest = new java.io.File(dir, "_current").exists())

  private[operators] def delete(f: java.io.File): Unit = { graft.Q.rmrf(f) }
}
