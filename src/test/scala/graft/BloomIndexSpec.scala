package graft

import graft.operators.BloomIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** BloomIndex: exactness of sketch-planned point lookups, actual file
  * skipping on a non-clustered key, empty-result behavior — and the
  * MUTATION path (refresh): incremental carry-over,
  * crash-orphan healing, deleted-file reconciliation, zero-row files,
  * fingerprint-based staleness detection, and tables living under
  * underscore-prefixed parent paths. */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def layout(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft_bloomidx_").toString + "/t"
    // laid out by group (scan locality), looked up by id (scattered)
    val df = (0L until 4000L).map(i => (i, s"g${i % 8}", s"payload_$i"))
      .toDF("id", "grp", "payload")
    BloomIndex.write(df, "grp", "id", dir, nFiles = 16,
      expectedPerFile = 1000L, fpp = 0.01)
    (dir, df)
  }

  private def sidecarRows(dir: String): Map[String, (Seq[Byte], Long, Long, Long, Long)] =
    BloomIndex.index(spark, dir)
      .select("file_path", "bloom", "n_rows", "file_size", "file_mtime",
        "file_fprint")
      .collect()
      .map(r => r.getString(0).replaceFirst("^file:/+", "/") ->
        ((r.getAs[Array[Byte]](1).toSeq, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))))
      .toMap

  test("lookup equals a plain filter and actually skips files") {
    val (dir, df) = layout()
    val keys = Seq("7", "1234", "3999")
    val got = BloomIndex.lookup(spark, dir, "id", keys)
      .select("id", "grp", "payload").collect().toSet
    val want = df.where(col("id").cast("string").isin(keys: _*))
      .collect().toSet
    assert(got == want, "sketch-planned lookup must be exact")
    val planned = BloomIndex.selectFiles(spark, dir, keys)
    val total = BloomIndex.index(spark, dir).count()
    assert(planned.size < total,
      s"expected skipping: planned ${planned.size} of $total files")
    assert(planned.nonEmpty, "keys exist, so their files must be planned")
  }

  test("absent key returns empty without a full scan") {
    val (dir, _) = layout()
    val keys = Seq("definitely_absent_key")
    val planned = BloomIndex.selectFiles(spark, dir, keys)
    val total = BloomIndex.index(spark, dir).count()
    // fpp 0.01 over 16 files: a handful of false positives at most
    assert(planned.size < total, s"absent key planned ${planned.size}/$total")
    assert(BloomIndex.lookup(spark, dir, "id", keys).count() == 0L)
  }

  private def physicalParquetFiles(dir: String): Long =
    new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .toLong

  test("index has one row per data file (including zero-row part files)") {
    val (dir, _) = layout()
    // one sidecar row per PHYSICAL file: zero-row part files (possible
    // from empty repartition buckets) get an empty-sketch entry too
    assert(BloomIndex.index(spark, dir).count() == physicalParquetFiles(dir))
    val withRows = spark.read.parquet(dir)
      .select(col("_metadata.file_path")).distinct().count()
    assert(BloomIndex.index(spark, dir).where(col("n_rows") > 0).count()
      == withRows)
  }

  test("a table under an underscore-prefixed parent path still indexes") {
    // regression: the old listing skipped any path CONTAINING '/_', so a
    // table at /x/_staging/t listed zero files and got an empty sidecar
    val dir = Files.createTempDirectory("graft_bloomidx_")
      .toString + "/_staging/t"
    val df = (0L until 400L).map(i => (i, s"g${i % 4}", s"p_$i"))
      .toDF("id", "grp", "payload")
    BloomIndex.write(df, "grp", "id", dir, nFiles = 4,
      expectedPerFile = 200L, fpp = 0.01)
    assert(BloomIndex.index(spark, dir).count() == physicalParquetFiles(dir))
    assert(BloomIndex.index(spark, dir).count() > 0L)
    val got = BloomIndex.lookup(spark, dir, "id", Seq("123"))
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(got == Seq("p_123"))
  }

  test("crash-orphan healing: .old and .staging leftovers are restored " +
      "or dropped, never surfaced") {
    val (dir, df) = layout()
    val before = sidecarRows(dir)
    val idx = new java.io.File(dir, "_bloom_index")
    val idxOld = new java.io.File(dir, "_bloom_index.old")
    val staging = new java.io.File(dir, "_bloom_index.staging")
    def junk(d: java.io.File): Unit = {
      assert(d.mkdirs())
      Files.write(Paths.get(d.getPath, "junk.bin"), Array[Byte](9))
    }

    // a crash between the swap's two renames: the live sidecar was
    // staged out to .old and the half-written staging never promoted
    assert(idx.renameTo(idxOld))
    junk(staging)
    BloomIndex.refresh(spark, dir, "id", expectedPerFile = 1000L, fpp = 0.01)
    assert(!idxOld.exists(), "the staged-out sidecar is restored")
    assert(!staging.exists(), "orphan staging dropped")
    assert(sidecarRows(dir) == before,
      "the restored sidecar's entries carry over unchanged")

    // a crash after the promote: a stale .old beside the live sidecar
    junk(idxOld)
    BloomIndex.refresh(spark, dir, "id", expectedPerFile = 1000L, fpp = 0.01)
    assert(!idxOld.exists(), "stale .old dropped")
    assert(sidecarRows(dir) == before)
    val got = BloomIndex.lookup(spark, dir, "id", Seq("1234"))
      .select("id", "grp", "payload").collect().toSet
    assert(got == df.where(col("id") === 1234L).collect().toSet)
  }

  test("refresh drops entries for deleted files") {
    val (dir, _) = layout()
    val total = BloomIndex.index(spark, dir).count()
    val victim = spark.read.parquet(dir)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0).replaceFirst("^file:/+", "/")).sorted.head
    assert(new java.io.File(victim).delete())
    BloomIndex.refresh(spark, dir, "id", expectedPerFile = 1000L, fpp = 0.01)
    val after = sidecarRows(dir)
    assert(after.size == total - 1)
    assert(!after.contains(victim))
    // lookups over the shrunken table are still exact
    val live = spark.read.parquet(dir)
      .where(col("id").cast("string").isin("7", "1234", "3999"))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = BloomIndex.lookup(spark, dir, "id", Seq("7", "1234", "3999"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == live)
  }

  test("zero-row part files get an empty-sketch entry and are carried " +
      "over, not rescanned forever") {
    val (dir, df) = layout()
    // manufacture a legitimate zero-row parquet part file inside dir
    val zdir = Files.createTempDirectory("graft_bloomidx_z_").toString
    df.limit(0).coalesce(1).write.mode("overwrite").parquet(zdir)
    val part = new java.io.File(zdir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    val dst = Paths.get(dir, "part-zero-rows.parquet")
    Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)

    BloomIndex.refresh(spark, dir, "id", expectedPerFile = 1000L, fpp = 0.01)
    val after1 = sidecarRows(dir)
    val zeroEntry = after1.find(_._1.endsWith("part-zero-rows.parquet"))
    assert(zeroEntry.nonEmpty, "zero-row file must get a sidecar entry")
    assert(zeroEntry.get._2._2 == 0L, "its n_rows must be 0")

    BloomIndex.refresh(spark, dir, "id", expectedPerFile = 1000L, fpp = 0.01)
    val after2 = sidecarRows(dir)
    assert(after2 == after1,
      "a second refresh must carry every entry (incl. the zero-row one)")
    // and the lookup path is unaffected
    val got = BloomIndex.lookup(spark, dir, "id", Seq("42"))
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(got == Seq("payload_42"))
  }

  test("a same-size same-mtime rewrite is still detected (fingerprint)") {
    val base = Files.createTempDirectory("graft_bloomidx_fp_").toString
    // two single-file tables with IDENTICAL shape: same row count, same
    // fixed-width key strings, constant payload. UNCOMPRESSED parquet
    // makes the encode deterministic in LENGTH (snappy's compressed
    // size wobbles a couple of bytes with the value bytes), so the two
    // files come out the same byte length
    val prevCodec = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "uncompressed")
    try {
    def mk(prefix: String, dir: String): Unit = {
      val df = (0 until 1000).map(i => (f"$prefix$i%03d", "x"))
        .toDF("id", "payload")
      BloomIndex.write(df, "payload", "id", dir, nFiles = 1,
        expectedPerFile = 1000L, fpp = 0.01)
    }
    mk("a", s"$base/ta")
    mk("b", s"$base/tb")
    def dataFile(dir: String): java.io.File =
      new java.io.File(dir).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .get
    val fa = dataFile(s"$base/ta")
    val fb = dataFile(s"$base/tb")
    assert(fa.length == fb.length,
      s"shape-identical tables must produce equal-size files " +
        s"(${fa.length} vs ${fb.length})")
    val mtime = fa.lastModified()
    // overwrite ta's file with tb's bytes, then forge the old mtime:
    // (path, size, mtime) is now IDENTICAL to the indexed entry. A real
    // rewriter maintains the LocalFileSystem's .crc sidecar, so the
    // simulation does too (fb's crc is valid for fb's bytes)
    Files.copy(fb.toPath, fa.toPath, StandardCopyOption.REPLACE_EXISTING)
    val crcA = new java.io.File(fa.getParent, s".${fa.getName}.crc")
    val crcB = new java.io.File(fb.getParent, s".${fb.getName}.crc")
    if (crcB.exists())
      Files.copy(crcB.toPath, crcA.toPath, StandardCopyOption.REPLACE_EXISTING)
    assert(fa.setLastModified(mtime))
    BloomIndex.refresh(spark, s"$base/ta", "id",
      expectedPerFile = 1000L, fpp = 0.01)
    val got = BloomIndex.lookup(spark, s"$base/ta", "id", Seq("b500"))
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(got == Seq("x"),
      "the rewritten file's new keys must be findable after refresh — " +
        "the tail fingerprint must catch what (size, mtime) cannot")
    } finally spark.conf.set("spark.sql.parquet.compression.codec", prevCodec)
  }
}
