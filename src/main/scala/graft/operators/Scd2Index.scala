package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental SCD2 maintenance — [[Scd2.intervals]]'s validity
  * intervals kept up to date under APPENDED attribute events, the way
  * a dimension history actually grows: each ingest batch is compressed
  * to its own runs ONCE (O(batch) work — the batch's windows never see
  * stored state), appended as a delta in one atomic commit, and the
  * read side stitches fragments into intervals at RUN grain — new
  * events close the previously-open interval and open new ones without
  * the corpus ever being re-windowed.
  *
  * State: one grouped [[DeltaStore]] holding two tables —
  *
  *   - `runs`: RUN FRAGMENTS `(k, attr, from_us, last_us, n_events,
  *     tie, bid)` — a batch's gaps-and-islands output, carrying each
  *     run's last event time, the tiebreak of its FIRST event (the
  *     (from_us, tie) sort key that keeps stitching deterministic
  *     under duplicate timestamps), and the WRITER's batch id `bid`
  *     (the supersession clock for [[backfill]]);
  *   - `reb`: REBUILD RECORDS `(k, b)` — key k's fragments from
  *     batches before b are superseded (dim-sized: one row per
  *     repaired key per repair).
  *
  * The stitch fold (merge adjacent equal-attr fragments per key) is
  * associative over time-ordered fragments and idempotent, so it
  * serves as both the read-side merge and the [[compact]] fold, and
  * the maintained output equals the one-shot [[Scd2.intervals]] build
  * EXACTLY — which is what lets the q209 registry entry reuse q192's
  * DuckDB oracle verbatim (the q171/LmIndex move).
  *
  * PRECONDITION, ENFORCED: batches append in time order — every event
  * of a new batch is later than every event already stored (the
  * natural CDC/ingest shape). An out-of-order event would have been
  * compressed against the wrong neighbors (a batch cannot know it
  * splits an older run), so [[appendBatch]] REFUSES it loudly instead
  * of silently corrupting the dimension: the batch's min time must
  * exceed the stored horizon (max `last_us`), read from per-delta
  * horizon sidecars when complete, else one column-pruned aggregate
  * over the run-grain state (both O(state metadata), and the check
  * EXCLUDES the batch's own delta so a checkpoint replay of an
  * already-committed batch passes and replaces its delta
  * bit-identically). Arbitrarily-late data needs the MorTable
  * merge-on-read path (q222) — and once repaired, [[backfill]]
  * re-admits the affected keys so later reads serve INDEX-ONLY:
  * it re-windows each affected key's FULL history (which the repair
  * already assembled), commits the fragments with `bid` = the
  * catch-up batch plus one `reb` row per key in ONE atomic grouped
  * delta, and the read side drops the superseded older fragments per
  * key. The horizon guard is satisfied by construction (full per-key
  * history replaces everything for that key), later in-order appends
  * stitch on top of the rebuilt runs, and untouched keys never see
  * the repair. Scd2IndexSpec pins maintained == one-shot across
  * random time-split batches, the mid-stream compact, the
  * out-of-order refusal, and the backfill round trip.
  */
final case class Scd2Index(root: String) extends Maintained {
  import Scd2Index._

  val store: DeltaStore = DeltaStore(root)

  /** Compress one batch to its run fragments and append them as the
    * delta for `batchId` — one atomic commit, no window ever spans
    * stored state. Refuses a batch that starts at or before the stored
    * horizon (see the class doc). */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Int): Unit = {
    store.heal()
    val bounds = batch.agg(min("us"), max("us")).head()
    val isEmpty = bounds.isNullAt(0)
    if (!isEmpty) {
      horizon(spark, store, batchId).foreach { hz =>
        require(bounds.getLong(0) > hz,
          s"batch $batchId starts at ${bounds.getLong(0)} <= stored horizon " +
            s"$hz — out-of-order appends would stitch against the wrong " +
            "neighbors; route late data through the merge-on-read path")
      }
    }
    val frags = fragments(batch, batchId)
      .withColumn("tbl", lit("runs"))
      .withColumn("gbucket", store.gb(col("k")))
    store.appendTables(frags, batchId, within = Seq(col("k"), col("from_us")))
    if (!isEmpty)
      store.writeSidecar(batchId, horizonSidecar,
        java.nio.ByteBuffer.allocate(8).putLong(bounds.getLong(1)).array())
  }

  /** Re-admit repaired keys to the fast path (the q222→q230 move):
    * `history` is the affected keys' FULL event history (same columns
    * as [[appendBatch]] — the merge-on-read repair already assembled
    * it), re-windowed here exactly like the one-shot build and
    * committed as ONE atomic grouped catch-up delta: the rebuilt
    * fragments (bid = `batchId`) plus one `reb` supersession row per
    * key. No horizon guard — a full per-key rebuild replaces
    * everything for that key by construction. Reads after this serve
    * index-only; later in-order appends stitch on top. O(affected
    * keys' events), never a corpus rebuild. */
  def backfill(spark: SparkSession, history: DataFrame, batchId: Int): Unit = {
    store.heal()
    val bounds = history.agg(min("us"), max("us")).head()
    val frags = fragments(history, batchId)
      .withColumn("tbl", lit("runs"))
      .withColumn("gbucket", store.gb(col("k")))
    val reb = history.select("k").distinct()
      .withColumn("b", lit(batchId.toLong))
      .withColumn("tbl", lit("reb"))
      .withColumn("gbucket", store.gb(col("k")))
    store.appendTables(frags.unionByName(reb, allowMissingColumns = true),
      batchId, within = Seq(col("k"), col("from_us")))
    if (!bounds.isNullAt(0))
      store.writeSidecar(batchId, horizonSidecar,
        java.nio.ByteBuffer.allocate(8).putLong(bounds.getLong(1)).array())
  }

  /** Fold the fragment deltas into one stitched base (atomic grouped
    * commit): supersession is applied FIRST (so the base carries only
    * live fragments), rebuild records keep their newest row per key.
    * The fresh base gets its own horizon sidecar (one aggregate, here
    * at compact time rather than on every later append), so the
    * guard's sidecar fast path stays complete after compaction.
    * Advisory as always: a crash between commit and sidecar degrades
    * the next append to the state-aggregate fallback, never to
    * wrongness. Stitching a crashed batch's duplicated fragments would
    * inflate run event counts, so only batches past replay may fold
    * ([[Maintained]]'s horizon). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit = {
    store.compactTables(spark, Seq(
      ("runs", runSchema, col("k"),
        (_: DataFrame) => stitch(liveRuns(spark, store, upTo))),
      ("reb", rebSchema, col("k"),
        (df: DataFrame) => df.groupBy("k").agg(max("b").as("b")))),
      upTo)
    // the sidecar describes the BASE's own rows: with a fold horizon,
    // aggregate at that horizon, not over still-live later deltas (an
    // overstated base horizon would make the guard refuse in-order
    // batches)
    val row = store.read(spark, runSchema, None, asOf = upTo,
        table = Some("runs"))
      .agg(max("last_us")).head()
    if (!row.isNullAt(0))
      store.live(None).collectFirst { case (true, _, d) => d }.foreach { d =>
        java.nio.file.Files.write(
          new java.io.File(d, horizonSidecar).toPath,
          java.nio.ByteBuffer.allocate(8).putLong(row.getLong(0)).array())
      }
  }

  /** The maintained dimension: stitched runs numbered per key in time
    * order, half-open validity closed by the next run's start —
    * identical, row for row, to [[Scd2.intervals]] over the union of
    * all appended batches (under the append-order contract, with
    * [[backfill]]-superseded fragments dropped first). */
  def intervals(spark: SparkSession): DataFrame = {
    val runs = stitch(liveRuns(spark, store))
    val byKey = Window.partitionBy("k")
    runs
      .withColumn("island",
        row_number().over(byKey.orderBy("from_us", "tie")).cast(LongType))
      .withColumn("valid_to_us",
        lead("from_us", 1).over(byKey.orderBy("island")))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("k"), col("island"), col("attr"),
        col("from_us").as("valid_from_us"), col("valid_to_us"),
        col("is_current"), col("n_events"))
  }
}

object Scd2Index {

  // `tie` = the tiebreak of the run's FIRST event (in (us, tie) order).
  // Duplicate (k, us) timestamps can put two fragments of one key on the
  // SAME from_us (a run boundary between two same-microsecond events),
  // so every stitch/interval window orders by (from_us, tie) — ordering
  // by from_us alone would be nondeterministic there and could diverge
  // from the (us, tie)-ordered one-shot [[Scd2.intervals]]. The START
  // event's tie (min_by over (us, tie)) is the only safe representative:
  // a plain min(tie) over the run could pick a LATER event's tie and
  // sort a run before a (from_us)-peer that actually precedes it.
  private val runSchema = StructType(Seq(
    StructField("k", LongType), StructField("attr", IntegerType),
    StructField("from_us", LongType), StructField("last_us", LongType),
    StructField("n_events", LongType), StructField("tie", LongType),
    StructField("bid", LongType)))

  private val rebSchema = StructType(Seq(
    StructField("k", LongType), StructField("b", LongType)))

  private val horizonSidecar = "scd2_horizon"

  /** Merge adjacent equal-attr fragments per key — the stitch fold.
    * Input and output both carry [[runSchema]]'s columns; the merged
    * row keeps the NEWEST writer id, so a compacted row is never
    * re-superseded by a rebuild record it already absorbed. */
  private def stitch(frags: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("k").orderBy("from_us", "tie")
    frags
      .withColumn("chg",
        when(lag("attr", 1).over(byKey).isNull ||
          lag("attr", 1).over(byKey) =!= col("attr"), 1L).otherwise(0L))
      .withColumn("island", sum("chg").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min("attr").as("attr"), min("from_us").as("from_us"),
        max("last_us").as("last_us"), sum("n_events").as("n_events"),
        min_by(col("tie"), struct(col("from_us"), col("tie"))).as("tie"),
        max("bid").as("bid"))
      .select("k", "attr", "from_us", "last_us", "n_events", "tie", "bid")
  }

  /** The live fragments with supersession applied: a key's fragments
    * written before its newest rebuild record are dropped (the
    * [[backfill]] contract). The `reb` table is dim-sized, so the
    * filter is one broadcast-joinable aggregate. */
  private def liveRuns(spark: SparkSession, store: DeltaStore,
                       asOf: Option[Int] = None): DataFrame = {
    val runs = store.read(spark, runSchema, None, asOf = asOf,
      table = Some("runs"))
    val reb = store.read(spark, rebSchema, None, asOf = asOf,
        table = Some("reb"))
      .groupBy("k").agg(max("b").as("rb"))
    runs.join(reb, Seq("k"), "left")
      .where(col("rb").isNull || col("bid") >= col("rb"))
      .drop("rb")
  }

  /** Stored horizon (max event time across all live state, excluding
    * `ownBatch`'s delta): the fast path folds the per-delta horizon
    * sidecars (advisory — written after each commit); any live dir
    * without one (a base, or a crash between commit and sidecar)
    * falls back to one aggregate over the run-grain state. Superseded
    * fragments need no filtering here: a rebuild covers its keys'
    * full history, so their max last_us never exceeds the live one. */
  private def horizon(spark: SparkSession, store: DeltaStore,
                      ownBatch: Int): Option[Long] = {
    val live = store.live(None)
      .filterNot { case (isBase, id, _) => !isBase && id == ownBatch }
    if (live.isEmpty) None
    else {
      val fromSidecars = live.map { case (_, _, d) =>
        store.readSidecar(d, horizonSidecar)
          .filter(_.length == 8)
          .map(java.nio.ByteBuffer.wrap(_).getLong)
      }
      if (fromSidecars.forall(_.isDefined)) Some(fromSidecars.flatten.max)
      else {
        val row = store.readEntries(spark, runSchema,
          live.map { case (b, id, d) =>
            (b, id, new java.io.File(d, "tbl=runs")) }, None)
          .agg(max("last_us")).head()
        if (row.isNullAt(0)) None else Some(row.getLong(0))
      }
    }
  }

  /** Compress `batch` (columns: key `k` LONG, time `us` LONG, unique
    * tiebreak `tie`, attribute `attr` INT) to its run fragments. */
  private def fragments(batch: DataFrame, batchId: Int): DataFrame = {
    val byKey = Window.partitionBy("k").orderBy("us", "tie")
    batch.select(col("k"), col("tie"), col("us"), col("attr"))
      .withColumn("chg",
        when(lag("attr", 1).over(byKey).isNull ||
          lag("attr", 1).over(byKey) =!= col("attr"), 1L).otherwise(0L))
      .withColumn("island", sum("chg").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min("attr").as("attr"), min("us").as("from_us"),
        max("us").as("last_us"), count(lit(1)).cast(LongType).as("n_events"),
        min_by(col("tie"), struct(col("us"), col("tie"))).as("tie"))
      .select("k", "attr", "from_us", "last_us", "n_events", "tie")
      .withColumn("bid", lit(batchId.toLong))
  }
}
