package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter sidecar index — POINT-LOOKUP file skipping on a
  * high-cardinality column, the case where [[ZOrderLayout]]'s min/max
  * stats are useless (every file's [min,max] of a scattered id column
  * spans the whole domain). This is Delta's BLOOMFILTER INDEX move,
  * rebuilt from public primitives so the planning stays visible:
  *
  *  1. the table is laid out by whatever its NATURAL clustering is
  *     (here: a hash repartition on a layout column — by-source, by-day
  *     — chosen for scan locality, NOT for the lookup key);
  *  2. ONE distributed pass groups rows by `_metadata.file_path` and
  *     folds each file's lookup-key set into a Bloom sketch via a typed
  *     [[Aggregator]] (map-side partial sketches merge with
  *     `mergeInPlace` — no driver loop, no per-file jobs);
  *  3. a point lookup consults the sidecar first and plans ONLY the
  *     files whose sketch might contain one of the probe keys; Bloom
  *     false positives cost a wasted file scan, false negatives are
  *     impossible, so results are EXACT.
  *
  * At 100 TB the sidecar is one row per file (a few KB of sketch each)
  * and a point lookup touches ~fpp x nFiles extra files instead of all
  * of them — the difference between a point read and a table scan on a
  * non-clustered column.
  *
  * MUTATION: the sidecar stays transactionally consistent with the
  * table instead of silently going stale —
  *  - [[refresh]] reconciles incrementally: sketches are rebuilt ONLY
  *    for files whose (size, mtime, tail fingerprint) is new or
  *    changed, entries for deleted files drop, untouched entries are
  *    carried over byte-identically (one row per file — no data
  *    rescan); zero-row files get an empty-sketch entry so they are
  *    carried over too instead of being rescanned forever;
  *  - refresh first HEALS crash orphans of its own sidecar swap
  *    (`_bloom_index.old` / `.staging` left by a crash between its
  *    renames) — restore when the promote never happened, drop when it
  *    did — so a crashed refresh never leaves a half-built sidecar;
  *  - all filesystem mutation goes through the Hadoop [[FileSystem]]
  *    of the table's own path (never `java.io.File`), so the API works
  *    unchanged for `file:` URIs and non-local filesystems.
  *
  * The sidecar serves a plain parquet table that no store owns, so its
  * refresh is the one rename-pair swap left; a table kept in a
  * [[DeltaStore]] gets its per-delta key blooms from [[MorTable]]
  * instead, committed with the delta.
  */
object BloomIndex {

  private def indexDir(dir: String) = s"$dir/_bloom_index"

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** One-pass per-group Bloom builder: input = lookup-key string,
    * buffer = the sketch itself (serializable), output = serialized
    * sketch bytes. */
  private class BloomAgg(expectedPerFile: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedPerFile, fpp)
    override def reduce(b: BloomFilter, v: String): BloomFilter = {
      if (v != null) b.putString(v)
      b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b)
      a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] =
      Encoders.javaSerialization[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def emptySketchBytes(expectedPerFile: Long, fpp: Double): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    BloomFilter.create(expectedPerFile, fpp).writeTo(bos)
    bos.toByteArray
  }

  /** One distributed sketch-building pass over `df` (which must carry
    * `_metadata`): one output row per NON-EMPTY file —
    * (file_path, bloom, n_rows, file_size, file_mtime). Zero-row files
    * produce no group here; [[refresh]] adds their empty-sketch rows
    * from the listing so they still get a carried-over entry. */
  private def buildSketches(df: DataFrame, keyCol: String,
                            expectedPerFile: Long, fpp: Double): DataFrame = {
    val bloomAgg = udaf(new BloomAgg(expectedPerFile, fpp))
    df.groupBy(col("_metadata.file_path").as("file_path"))
      .agg(
        bloomAgg(col(keyCol).cast("string")).as("bloom"),
        count(lit(1)).as("n_rows"),
        max(col("_metadata.file_size")).as("file_size"),
        max(unix_millis(col("_metadata.file_modification_time")))
          .as("file_mtime"))
  }

  /** `file:/p`, `file:///p`, and `/p` all name the same local file —
    * compare listings and `_metadata.file_path` on this form. */
  private def normPath(p: String): String = p.replaceFirst("^file:/+", "/")

  /** Live data files under `dir` (recursive, so bucket-partition
    * subdirs are covered): (path, size, mtime ms). Hidden-entry
    * filtering is on path components BELOW the table root — a table
    * that itself lives under an underscore-prefixed path (e.g.
    * `/data/_staging/tbl`) still lists all its files; only sidecar
    * (`_bloom_index`, `_zorder_manifest`) and dot-hidden components
    * inside the table are skipped.
    * Driver-side METADATA listing — one tuple per file, the same cost
    * class as any planner's file enumeration. */
  private def listDataFiles(spark: SparkSession,
                            dir: String): Seq[(String, Long, Long)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return Seq.empty
    val root = fs.makeQualified(path).toUri.getPath.stripSuffix("/")
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(root).stripPrefix("/")
      val hidden = rel.split('/').exists(c =>
        c.startsWith("_") || c.startsWith("."))
      if (st.isFile && !hidden)
        out += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    out.result()
  }

  /** 64-bit FNV-1a over the file's last 8 KiB. For parquet that window
    * holds the footer (row-group offsets, column stats, dictionary
    * page offsets), so a rewrite with different contents perturbs it
    * even when byte length AND mtime tick are identical — the case the
    * (size, mtime) check alone cannot see. One bounded tail read per
    * carry-over candidate: metadata-class cost, like the listing. */
  private def fingerprint(fs: FileSystem, p: Path, len: Long): Long = {
    if (len <= 0L) return 0L
    val tail = math.min(len, 8192L).toInt
    val buf = new Array[Byte](tail)
    val in = fs.open(p)
    try {
      in.seek(len - tail)
      in.readFully(buf)
    } finally in.close()
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < tail) { h ^= (buf(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Heal crash orphans of an interrupted sidecar swap. Invariant of
    * the swap: `_bloom_index.old` with `_bloom_index` present means the
    * promote completed (drop the old); `.old` WITHOUT the sidecar means
    * the crash hit between the two renames (restore the old — it was
    * never lost, only staged out). A leftover `.staging` is an
    * unpromoted partial build — dropped; refresh rebuilds it. */
  private def healOrphans(fs: FileSystem, dirPath: Path): Unit = {
    if (!fs.exists(dirPath)) return
    val idx = new Path(dirPath, "_bloom_index")
    val idxOld = new Path(dirPath, "_bloom_index.old")
    val idxStaging = new Path(dirPath, "_bloom_index.staging")
    if (fs.exists(idxOld)) {
      if (fs.exists(idx)) fs.delete(idxOld, true)
      else fs.rename(idxOld, idx)
    }
    if (fs.exists(idxStaging)) fs.delete(idxStaging, true)
  }

  /** Write `df` into `nFiles` files clustered on `layoutCol` (the scan-
    * locality layout), then build the per-file Bloom sidecar over
    * `keyCol` (the point-lookup key) in one distributed pass. */
  def write(df: DataFrame, layoutCol: String, keyCol: String, dir: String,
            nFiles: Int, expectedPerFile: Long = 100000L,
            fpp: Double = 0.01): Unit = {
    df.repartition(nFiles, col(layoutCol))
      .write.mode("overwrite").parquet(dir)
    refresh(df.sparkSession, dir, keyCol, expectedPerFile, fpp)
  }

  /** Reconcile the sidecar with the data directory, incrementally:
    * entries whose (size, mtime, tail fingerprint) still matches a
    * live file are CARRIED OVER (byte-identical, no rescan); entries
    * for deleted or rewritten files drop; sketches are built only for
    * new/changed files — one distributed pass over exactly those
    * files. Also the initial build (no sidecar = every file is new).
    * The staged rename-pair swap means a reader never sees a
    * half-written sidecar; the sidecar is derived data, so the
    * non-atomic window is rebuild-from-refresh, never data loss. */
  def refresh(spark: SparkSession, dir: String, keyCol: String,
              expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    import spark.implicits._
    val fs = fileSystem(spark, dir)
    healOrphans(fs, new Path(dir))
    val live = listDataFiles(spark, dir)
    val empty = spark
      .emptyDataset[(String, Array[Byte], Long, Long, Long, Long)]
      .toDF("file_path", "bloom", "n_rows", "file_size", "file_mtime",
        "file_fprint")
    val existing: DataFrame =
      if (!fs.exists(new Path(indexDir(dir)))) empty
      else {
        val cur = index(spark, dir)
        // a sidecar from before the fingerprint column can't prove any
        // entry still matches its file — rebuild everything once
        if (cur.columns.contains("file_fprint")) cur else empty
      }

    // carry-over decision is driver-side METADATA (never the blooms):
    // (size, mtime) gate first, then the tail fingerprint — computed
    // only for candidates that pass the cheap gate
    val entryMeta = existing
      .select("file_path", "file_size", "file_mtime", "file_fprint")
      .collect()
      .map(r => normPath(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (keptFiles, toBuild) = live.partition { case (p, sz, mt) =>
      entryMeta.get(normPath(p)) match {
        case Some((s, m, f)) =>
          s == sz && m == mt && f == fingerprint(fs, new Path(p), sz)
        case None => false
      }
    }
    val keptNormsDf = keptFiles.map(t => normPath(t._1)).toDF("live_norm")
    val kept = existing
      .withColumn("norm", expr("regexp_replace(file_path, '^file:/+', '/')"))
      .join(keptNormsDf, col("norm") === col("live_norm"), "left_semi")
      .drop("norm")

    val fresh =
      if (toBuild.isEmpty) kept.limit(0)
      else {
        val buildMeta = toBuild
          .map { case (p, sz, mt) =>
            (normPath(p), sz, mt, fingerprint(fs, new Path(p), sz))
          }
          .toDF("b_norm", "b_size", "b_mtime", "b_fprint")
        val built = buildSketches(
            spark.read.parquet(toBuild.map(_._1): _*), keyCol,
            expectedPerFile, fpp)
          .withColumn("norm",
            expr("regexp_replace(file_path, '^file:/+', '/')"))
          .join(buildMeta, col("norm") === col("b_norm"), "inner")
          .select(col("file_path"), col("bloom"), col("n_rows"),
            col("file_size"), col("file_mtime"),
            col("b_fprint").as("file_fprint"))
        // zero-row part files never form a `_metadata` group — give
        // them an empty-sketch entry so later refreshes carry them
        // over instead of rescanning them forever
        val rowless = buildMeta
          .join(built.select(
              expr("regexp_replace(file_path, '^file:/+', '/')").as("norm")),
            col("b_norm") === col("norm"), "left_anti")
          .select(col("b_norm").as("file_path"),
            lit(emptySketchBytes(expectedPerFile, fpp)).as("bloom"),
            lit(0L).as("n_rows"), col("b_size").as("file_size"),
            col("b_mtime").as("file_mtime"),
            col("b_fprint").as("file_fprint"))
        built.unionByName(rowless)
      }
    val next = kept.unionByName(fresh).coalesce(1)

    // staged swap (all through the table's own FileSystem): never
    // leave a partially-written live sidecar
    val staging = new Path(indexDir(dir) + ".staging")
    next.write.mode("overwrite").parquet(staging.toString)
    val target = new Path(indexDir(dir))
    val old = new Path(indexDir(dir) + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage out $target")
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"cannot promote $staging")
    fs.delete(old, true)
  }

  /** Sidecar contents: (file_path, bloom, n_rows, file_size,
    * file_mtime, file_fprint). */
  def index(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(indexDir(dir))

  /** Files whose sketch might contain ANY of `keys` — the planned set
    * for a point lookup. The probe runs DISTRIBUTED over the sidecar
    * (each row deserializes its own sketch in the executors) and only
    * the surviving paths reach the driver — so planning stays cheap
    * even at millions of files, where collecting every sketch first
    * would move GBs to the driver. The typed filter is cold-path
    * planning over one-row-per-file data, not a data-path UDF. */
  def selectFiles(spark: SparkSession, dir: String,
                  keys: Seq[String]): Seq[String] = {
    val probe = keys.toArray
    index(spark, dir).select("file_path", "bloom")
      .filter { r =>
        val bloom = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        probe.exists(bloom.mightContainString)
      }
      .select("file_path")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Exact point lookup: plan only sketch-surviving files, then apply
    * the exact IN predicate as a residual (kills Bloom false
    * positives). */
  def lookup(spark: SparkSession, dir: String, keyCol: String,
             keys: Seq[String]): DataFrame = {
    val files = selectFiles(spark, dir, keys)
    val residual = col(keyCol).cast("string").isin(keys: _*)
    if (files.isEmpty)
      spark.read.parquet(dir).where(residual).limit(0)
    else
      spark.read.parquet(files: _*).where(residual)
  }
}
