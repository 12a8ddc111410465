package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructType}

/** Last-write-wins keyed table as an LSM merge-on-read store, the
  * library's one stored upsert table (the coin_history table and its
  * rollup in [[graft.streaming.IncrementalRollup]] are two of them); it
  * commits through [[DeltaStore]]'s manifest protocol.
  *
  * Writes scale to the BATCH, not to the buckets it touches: an
  * upsert appends one [[DeltaStore]] delta (O(batch) bytes, one atomic
  * manifest commit) and never rereads or rewrites stored data, so a
  * hot bucket costs the same as a cold one. The merge moves to the
  * READ side: [[snapshot]] unions the live dirs and keeps each key's
  * row from the highest batch (the LSM/ReplacingMergeTree trade —
  * cheap writes, fold-on-read), and [[compact]] folds the fold into a
  * new base so read cost stops growing with replay depth. Readers see
  * only committed prefixes at every instant, so a crash mid-upsert
  * leaves the previous snapshot intact and a checkpoint REPLAY of the
  * same batch id replaces its own delta (idempotent).
  *
  * Rows within one batch must be unique per key (dedup the batch
  * first, as every upsert path here does): the LWW fold orders by the
  * batch id alone, so (key, batch) uniqueness is what makes the
  * snapshot deterministic.
  *
  * `schema` is the DATA schema every read returns (no `_batch`). A
  * table evolves by `copy(schema = wider)`: the same store read at the
  * wider schema ([[DeltaStore.read]]'s evolution contract).
  */
final case class MorTable(store: DeltaStore, keyCols: Seq[String],
                          schema: StructType,
                          bloomItems: Option[Long] = None) extends Maintained {

  /** SSTable-style per-delta key bloom. With `bloomItems = Some(n)`
    * (the expected keys per batch — a capacity number the operator
    * knows), every upsert/delete also writes a `_keybloom` sidecar of
    * the delta's key hashes, and [[lookup]] SKIPS whole deltas that
    * cannot contain any probe key — the LSM read-amplification fix
    * every SSTable format ships: gbucket pruning caps at 1/buckets,
    * but a point probe against a long delta tail mostly hits deltas
    * that never touched the key. Safety is one-sided by construction:
    * blooms have no false negatives at ANY sizing (an undersized n
    * only raises the false-positive rate → extra reads), tombstone
    * keys are in the bloom (both write paths go through [[write]], so
    * a skipped delta can never hide a newer delete), and a MISSING
    * sidecar (crash between commit and sidecar write, or a pre-bloom
    * delta) means "must read". The base is always read — it is the
    * bulk a real probe usually hits; the win is skipping the tail. */
  private val bloomSidecar = "_keybloom"
  private def keyHash = xxhash64(keyCols.map(col): _*)

  /** `schema` + the `_batch` lineage column the fold orders by and the
    * `_deleted` tombstone marker. */
  private val stored: StructType =
    schema.add("_batch", IntegerType, nullable = false)
      .add("_deleted", BooleanType, nullable = false)

  /** Append `batch` (unique per key) as the delta for `batchId` —
    * O(batch) write bytes, one manifest commit, no stored-data reads. */
  def upsert(batch: DataFrame, batchId: Int): Unit =
    write(batch.withColumn("_deleted", lit(false)), batchId)

  /** Delete `keys` as the delta for `batchId`: appends TOMBSTONE rows
    * (key columns + `_deleted = true`, data columns null-filled from
    * `schema`) that the LWW fold lets outrank every earlier version.
    * The delete is logical until the next [[compact]], which drops
    * tombstone-winning keys from the base — the point where the bytes
    * physically leave storage (the GDPR clock's stop condition; run a
    * compact to make a deletion durable). A batch id carries EITHER an
    * upsert or a delete (a delta is replaced whole by its batch id);
    * union key-disjoint changes into one frame first if both are
    * needed in one batch. */
  def delete(keys: DataFrame, batchId: Int): Unit = {
    val tomb = schema.fields.foldLeft(
      keys.select(keyCols.map(col): _*).distinct()) { (df, f) =>
        if (keyCols.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      .select(schema.fieldNames.map(col).toSeq: _*)
      .withColumn("_deleted", lit(true))
    write(tomb, batchId)
  }

  private def write(df: DataFrame, batchId: Int): Unit = {
    store.append(
      df
        .withColumn("_batch", lit(batchId))
        .withColumn("gbucket", store.gb(struct(keyCols.map(col): _*))),
      batchId,
      within = keyCols.map(col))
    bloomItems.foreach { n =>
      val bf = df.select(keyHash.as("_h")).stat.bloomFilter("_h", n, 0.01)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      store.writeSidecar(batchId, bloomSidecar, out.toByteArray)
    }
  }

  /** The current table: every key's latest-batch row, folded from the
    * live base + deltas.
    *
    * `keep` narrows the stored rows BEFORE the fold, so the fold runs
    * over the kept slice only. It must decide on the key columns (or
    * functions of them) alone, so that every version of a key, its
    * tombstones included, is kept or dropped together; the result then
    * equals the snapshot narrowed afterwards. Columns it adds are
    * dropped. The caller has to place it: Catalyst does not move a
    * semi join below the fold's `_rn = 1` filter. */
  def snapshot(spark: SparkSession,
               keep: DataFrame => DataFrame = identity): DataFrame =
    lww(keep(store.read(spark, stored, None)))
      .where(!col("_deleted"))
      .select(schema.fieldNames.map(col).toSeq: _*)

  /** Time travel: the table as of `batch` — deltas above it are
    * excluded from the fold. History is retained back to the last
    * [[compact]] (an older `batch` is refused, not answered wrongly):
    * the reproducible-training-snapshot read, pinned by batch id
    * instead of copying the corpus. */
  def snapshotAsOf(spark: SparkSession, batch: Int): DataFrame =
    lww(store.read(spark, stored, None, asOf = Some(batch)))
      .where(!col("_deleted"))
      .select(schema.fieldNames.map(col).toSeq: _*)

  /** Bucket-pruned snapshot restricted to `keys`' buckets — the point-
    * lookup path: whole deltas whose key bloom excludes every probe
    * key are SKIPPED (see [[bloomItems]]), then only the `gbucket`
    * dirs the probe keys hash into are read, the LWW fold runs over
    * that slice, and an inner join restricts to the probe. `keys`
    * must carry `keyCols`. */
  def lookup(spark: SparkSession, keys: DataFrame): DataFrame = {
    val touched = store.touched(keys, struct(keyCols.map(col): _*))
    lww(store.readEntries(spark, stored,
        bloomLiveEntries(keys), Some(touched)))
      .where(!col("_deleted"))
      .join(keys.select(keyCols.map(col): _*).distinct(), keyCols)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Probe-keys-per-lookup cap on driver-side bloom probing: above it
    * the probe is a scan, not a point lookup, and entry skipping is
    * abandoned (bucket pruning still applies). */
  private val bloomProbeCap = 65536

  /** The live entries a lookup for `keys` must read: every base +
    * every delta whose bloom might contain some probe key (missing
    * bloom, disabled blooms, or an over-cap probe ⇒ keep all). */
  private[graft] def bloomLiveEntries(keys: DataFrame)
      : Seq[(Boolean, Int, java.io.File)] = {
    val entries = store.live()
    if (bloomItems.isEmpty) entries
    else {
      val hashes = keys.select(keyHash.as("_h")).distinct()
        .limit(bloomProbeCap + 1).collect().map(_.getLong(0))
      if (hashes.length > bloomProbeCap) entries
      else entries.filter {
        case (true, _, _) => true
        case (false, _, d) => store.readSidecar(d, bloomSidecar) match {
          case None => true
          case Some(bytes) =>
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
            hashes.exists(bf.mightContainLong)
        }
      }
    }
  }

  /** Change feed (CDC read): each key whose LWW state DIFFERS between
    * the table as of `from` and as of `to`, with an `op` column —
    * `insert` (absent before, live now; new values), `update` (live in
    * both, any data column changed; new values), `delete` (live
    * before, tombstone-or-absent now; the OLD values, the preimage a
    * downstream purge needs). Keys untouched by batches in (from, to]
    * never appear — and are never FOLDED either: the fold inputs are
    * bucket-pruned to the gbuckets of touched keys and semi-joined on
    * them, so feed cost scales with the changed slice, not the table.
    * Both bounds must be at or above the last compact (as
    * [[snapshotAsOf]]; history below the base is gone). This is the
    * read that lets a downstream consumer (a derived table, a cache,
    * a reverse index) follow the table incrementally instead of
    * diffing snapshots. */
  def changes(spark: SparkSession, from: Int, to: Int): DataFrame =
    changes(spark, from, to, preimage = false)

  /** [[changes]] with `preimage = true` emits an update as TWO rows —
    * `update_pre` (old values) and `update_post` (new values) — the
    * Delta-CDF/Debezium shape an incremental view maintainer needs:
    * additive state subtracts the preimage and adds the postimage
    * ([[IncrementalView]]), which plain postimage-only updates cannot
    * express. */
  def changes(spark: SparkSession, from: Int, to: Int,
              preimage: Boolean): DataFrame = {
    require(from <= to, s"change feed bounds out of order: $from > $to")
    val st = stored
    val touched = store.read(spark, st, None, asOf = Some(to))
      .where(col("_batch") > from)
      .select(keyCols.map(col): _*).distinct()
    val gbs = store.touched(touched, struct(keyCols.map(col): _*))
    def state(asOf: Int) =
      lww(store.read(spark, st, Some(gbs), asOf = Some(asOf))
          .join(touched, keyCols, "left_semi"))
        .where(!col("_deleted"))
    val dataCols = schema.fieldNames.filterNot(keyCols.contains).toSeq
    val olds = state(from).select(
      keyCols.map(col) ++ Seq(lit(true).as("_in_a"),
        struct(dataCols.map(col): _*).as("_va")): _*)
    val news = state(to).select(
      keyCols.map(col) ++ Seq(lit(true).as("_in_b"),
        struct(dataCols.map(col): _*).as("_vb")): _*)
    val diff = olds.join(news, keyCols, "full_outer")
      .withColumn("op",
        when(col("_in_a").isNull, "insert")
          .when(col("_in_b").isNull, "delete")
          .otherwise("update"))
      // an update whose values are byte-identical is no change at all
      .where(col("op") =!= "update" || !(col("_va") <=> col("_vb")))
    if (!preimage)
      diff.select(keyCols.map(col) ++ Seq(col("op")) ++ dataCols.map(c =>
        when(col("op") === "delete", col(s"_va.$c"))
          .otherwise(col(s"_vb.$c")).as(c)): _*)
    else
      diff
        .select(keyCols.map(col) :+ explode(
          when(col("op") === "update", array(
            struct(lit("update_pre").as("op"), col("_va").as("v")),
            struct(lit("update_post").as("op"), col("_vb").as("v"))))
          .when(col("op") === "insert",
            array(struct(lit("insert").as("op"), col("_vb").as("v"))))
          .otherwise(
            array(struct(lit("delete").as("op"), col("_va").as("v")))))
          .as("_e"): _*)
        .select(keyCols.map(col) ++ Seq(col("_e.op").as("op")) ++
          dataCols.map(c => col(s"_e.v.$c").as(c)): _*)
  }

  /** Fold live dirs into one base holding just each key's winning row
    * (the `_batch` column is kept: later deltas must still outrank the
    * base). Tombstone-winning keys are dropped entirely — the base
    * folds ALL surviving history, so no older version can resurface,
    * and this is where deleted bytes physically leave storage. Compact
    * only batches whose upstream checkpoint is durable — a replayed
    * batch j <= base K would stack delta j on a base that already
    * folded it, and the LWW order would then prefer the base's row
    * from a HIGHER-numbered original batch, which is correct, but the
    * replayed delta's bytes are dead weight until the next compact.
    * [[Maintained.compactBefore]] folds at exactly that horizon. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compact(spark, stored,
      struct(keyCols.map(col): _*),
      df => lww(df).where(!col("_deleted")), upTo)

  /** Export a reproducible training snapshot: the table as of `asOf`
    * (or current) materialized as PLAIN partitioned parquet any
    * consumer can read without this library — the handoff artifact
    * between the data pipeline and a trainer — plus a `_PROVENANCE`
    * sidecar recording the source store, key columns, and the batch
    * horizon that produced it (the lineage a training run pins
    * instead of copying "whatever the table said that day"). The fold
    * happens once at export; readers pay zero merge cost. */
  def exportSnapshot(spark: SparkSession, path: String,
                     asOf: Option[Int] = None,
                     partitionCols: Seq[String] = Nil): Unit = {
    val snap = asOf match {
      case Some(b) => snapshotAsOf(spark, b)
      case None => snapshot(spark)
    }
    val w = snap.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    val horizon = asOf.orElse(store.live().map(_._2).maxOption)
    java.nio.file.Files.write(
      new java.io.File(path, "_PROVENANCE").toPath,
      (s"store=${store.dir}\nkeys=${keyCols.mkString(",")}\n" +
        s"asOfBatch=${horizon.getOrElse(-1)}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Keep each key's highest-`_batch` row. */
  private def lww(all: DataFrame): DataFrame =
    all
      .withColumn("_rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col("_batch").desc)))
      .where(col("_rn") === 1)
      .drop("_rn")
}
