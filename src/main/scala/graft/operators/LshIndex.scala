package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.SimilarityQueries

/** Incremental MinHash-LSH dedup index — dedup a NEW ingest batch
  * against the already-indexed corpus in O(batch) WRITE work, without
  * recomputing shingles, minhashes, or band buckets for anything
  * previously ingested. This is the maintenance story of the
  * q33–q35/q84 batch dedup family (the reference runs one-shot corpus
  * jobs; a production training-data pipeline re-dedups every crawl
  * increment, which at 100 TB must not be a corpus recompute).
  *
  * State is ONE grouped [[DeltaStore]] at `root` holding three logical
  * tables as `tbl=` slices of each delta (`d<K>_e<E>/tbl=<t>/gbucket=B`),
  * so a batch's whole state advance is ONE write job and ONE atomic
  * commit — all three tables move to batch K together or not at all
  * (three separate stores could crash between commits and leave the
  * df counts a batch ahead of the sets; they also cost three shuffles
  * and three commit cycles per batch, measured as ~20% of the sf0.1
  * bench in fixed orchestration):
  *
  *   - `tbl=df`    (tri, cnt)      bucketed on the shingle — PER-BATCH
  *     count deltas; the corpus-global document frequency behind the
  *     hot-shingle cap is their running sum, merged at read for just
  *     the probing batch's shingles;
  *   - `tbl=sets`  (doc_id, ts)    bucketed on the doc — each doc's
  *     capped shingle set FROZEN at its insert batch (index entries
  *     are immutable: later batches may push a shingle past the df
  *     cap, but an already-written set is not revisited — the
  *     standard incremental-index trade, mirrored exactly by the q103
  *     oracle's cumulative-df-at-insert-batch semantics);
  *   - `tbl=bands` (doc_id, batch, band, bkey, rk) bucketed on the
  *     band key — only rows that won a bucket slot (rk <= bucketCap,
  *     arrival order = (batch, doc_id)) are stored, so the occupancy
  *     cap the batch pipeline applies with one window is enforced
  *     here by construction of the persisted state.
  *
  * Prior-state reads exclude the batch's own delta id
  * ([[DeltaStore.read]]'s `excludeDelta`), so a checkpoint REPLAY of
  * an already-committed batch recomputes bit-identical state and
  * emissions. They are NOT gbucket-pruned: an ingest batch's shingle
  * vocabulary, band keys, and candidate ids hash into essentially
  * every bucket (measured: zero pruning at sf0.1 for the price of one
  * extra distinct+collect job per read — bucket pruning is the POINT-
  * probe path, [[MorTable.lookup]]); the reads stay bounded because
  * each is immediately joined against batch-derived keys.
  *
  * Per-batch compute: shingle + minhash work is O(batch docs) only.
  * Candidate-pair emission is bounded by bucketCap² per band bucket
  * exactly as in the batch pipeline, and candidates come from ONE
  * keyed equi-join of the batch's kept bands against the stored bands
  * — never an all-pairs scan of the corpus.
  */
final case class LshIndex(root: String) extends Maintained {
  import LshIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Ingest one batch of documents (`doc_id` long, `text` string) into
    * the index, returning the batch's emitted near-dup
    * candidate pairs verified with exact capped-set Jaccard:
    * (doc_a, doc_b, emit_batch, shingle_jaccard), doc_a < doc_b.
    * A pair is emitted exactly once, at the LATER member's batch.
    * The returned frame is materialized (eager localCheckpoint) before
    * this call returns, so it stays valid after later upserts rewrite
    * the state it was derived from. Emission precedes the state
    * commit: a crash between them replays the batch against unchanged
    * prior state and re-derives identical pairs.
    *
    * CONTRACT: a batch id names a COMPLETE ingest unit — a replay
    * REPLACES the batch's whole delta, so calling this twice with the
    * same id and different doc subsets keeps only the second subset's
    * state. A streaming caller must therefore not let one logical drop
    * split across micro-batches (close the drop before ingesting it,
    * or gate on a manifest), exactly as with any replace-by-batch-id
    * sink.
    */
  def upsertBatch(spark: SparkSession, docs: DataFrame,
                  batchId: Int, dfCap: Int, bucketCap: Int,
                  prepared: Option[PreparedBatch] = None): DataFrame = {
    val (verified, state, commit) = upsertBatchPipelined(
      spark, docs, batchId, dfCap, bucketCap,
      prepared, history = None, prevCommit = scala.concurrent.Future.unit)
    val pairs = scala.concurrent.Await.result(
      verified, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(
      commit, scala.concurrent.duration.Duration.Inf)
    release(Seq(state)) // one-shot call: nobody carries the state forward
    pairs
  }

  /** [[upsertBatch]] with the three serial barriers removed for replay/
    * ingest loops — same math, same commits, same emissions:
    *
    *   - returns BEFORE verification completes: `_1` is a Future of the
    *     materialized pair frame, so batch K's exact-Jaccard verify
    *     overlaps batch K+1's chain;
    *   - `history` (all prior batches' [[BatchState]]) replaces the
    *     store reads, so the chain never waits on commit I/O;
    *   - the batch's commit (`_3`) awaits `prevCommit` before touching
    *     the store — commits land strictly in batch order (no holes:
    *     commit K+1 can never exist without commit K), while commit K
    *     itself overlaps chain K+1.
    *
    * The serial path of an N-batch replay collapses to the N chained
    * in-memory computes; all store I/O and verification hides behind
    * them. Crash-replay contract is unchanged: emissions are derived
    * from prior state only, commits are atomic per batch and ordered,
    * so a replay from the store ([[upsertBatch]], `history = None`)
    * recomputes bit-identical state and pairs. Callers heal() once
    * before a pipelined loop (healing inside it would race the
    * previous batch's written-but-uncommitted prefix) and [[release]] the
    * history after the last future resolves. */
  def upsertBatchPipelined(
      spark: SparkSession, docs: DataFrame,
      batchId: Int, dfCap: Int, bucketCap: Int,
      prepared: Option[PreparedBatch] = None,
      history: Option[Seq[BatchState]] = None,
      prevCommit: scala.concurrent.Future[Unit] = scala.concurrent.Future.unit)
      : (scala.concurrent.Future[DataFrame], BatchState,
         scala.concurrent.Future[Unit]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    if (history.isEmpty) store.heal()

    /** Prior state of one logical table: carried cache pieces when
      * pipelining, the store's delta slices otherwise — row-identical
      * multisets by the history contract. */
    def prior(sel: BatchState => DataFrame, schema: StructType,
              table: String): DataFrame = history match {
      case Some(h) =>
        val pieces = h.map(sel)
        if (pieces.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else pieces.reduce(_.unionByName(_))
      case None =>
        store.read(spark, schema, None, table = Some(table),
          excludeDelta = Some(batchId))
    }
    // -- batch shingles: same tokenizer/trigram family as q33-q35,
    //    distinct per doc, computed for the BATCH only. Persisted: the
    //    explode+regex pipeline is the dominant per-batch compute and
    //    feeds both the df counts and the capped-sets join below —
    //    uncached it re-executed once per consumer (measured 21 s for
    //    the sf0.1 four-batch replay, ~11 s with the caches). A caller
    //    replaying many batches hands the NEXT batch's prep in via
    //    `prepared` ([[prepareBatch]]), computed while the PREVIOUS
    //    batch's state-dependent stages ran.
    val prep = prepared.getOrElse {
      val sh = docs
        .withColumn("toks", expr(SimilarityQueries.toksExpr))
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          explode(expr(SimilarityQueries.trisExpr)).as("tri"))
        .withColumn("h", expr(SimilarityQueries.shingleHashExpr))
        .persist()
      PreparedBatch(sh,
        sh.groupBy("tri").agg(count(lit(1)).as("bcnt")).persist())
    }
    val shingles = prep.shingles

    // -- cumulative df for the batch's shingles: prior delta sum +
    //    this batch's counts. The running total is never materialized
    //    as a table; the lookup stays bounded because the read is
    //    immediately semi-joined against the batch's tris and
    //    aggregated.
    val batchCnt = prep.batchCnt
    // ONE exchange computes the batch's cumulative df: union the prior
    // per-delta counts (bcnt-tagged null) with the batch's own counts
    // (tagged with themselves), aggregate by tri, and keep tris the
    // BATCH contains (bcnt not null — the semi-join's role). Equivalent
    // to the old semi-join -> sum -> full_outer chain, which cost three
    // exchanges of the vocabulary instead of one: a tri in prior state
    // but not in the batch nets bcnt null and drops; a batch tri's cnt
    // is its prior sum + bcnt exactly.
    val merged = prior(
        _.cnts.select(col("tri"), col("bcnt").as("cnt")), dfSchema, "df")
      .select(col("tri"), col("cnt"), lit(null).cast("long").as("bcnt"))
      .unionByName(batchCnt.select(col("tri"), col("bcnt").as("cnt"), col("bcnt")))
      .groupBy("tri").agg(sum("cnt").as("cnt"), max("bcnt").as("bcnt"))
      .where(col("bcnt").isNotNull)
      .persist()
    // -- capped batch sets, frozen at this batch's cumulative df.
    //    Filtered as an ANTI-join against the HOT side (tris past the
    //    cap): the kept vocabulary is nearly all of the batch's tris,
    //    but the rejected set is the small heavy-hitter tail — small
    //    enough to broadcast at any corpus size (it is bounded by
    //    corpus_shingles / dfCap distinct values, the classic
    //    heavy-hitter bound), which keeps the exploded shingle rows
    //    partitioned by doc_id end-to-end: no tri-shuffle of the
    //    batch's largest intermediate, and the groupBy below reuses
    //    prep's doc_id partitioning (zero exchanges doc-side).
    //    Identical rows to the inner-join-on-kept form: shingles' tris
    //    are exactly merged's tris, so anti(hot) ≡ inner(kept).
    val filtered = shingles
      .join(broadcast(merged.where(col("cnt") > dfCap).select("tri")),
        Seq("tri"), "left_anti")
    val setsB = filtered
      .groupBy("doc_id").agg(collect_list(col("tri")).as("ts"))
      .persist()
    // -- batch band keys: the 12 minhash permutations as aggregate
    //    columns of ONE groupBy (the r9 q34 form), 3 bands of 4 —
    //    straight off the anti-joined shingle rows (same rows setsB
    //    groups; the old collect_list -> explode round trip re-ran the
    //    md5 hash per tri on the chain), over prep's cached h.
    val mhCols = (0 to 11).map(i =>
      min(expr(SimilarityQueries.affineAtExpr(i))).as(s"mh$i"))
    val bandsB0 = filtered
      .groupBy("doc_id")
      .agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id"), expr(
        "stack(3, " +
          "0, md5(concat_ws(',', mh0, mh1, mh2, mh3)), " +
          "1, md5(concat_ws(',', mh4, mh5, mh6, mh7)), " +
          "2, md5(concat_ws(',', mh8, mh9, mh10, mh11))) as (band, bkey)"))
      .withColumn("batch", lit(batchId))

    // -- occupancy: arrival rank = stored bucket occupancy (max rk
    //    of the KEPT rows — identical to true arrivals wherever it
    //    matters, since both saturate at the cap) + in-batch
    //    row_number by doc_id. Only winners are stored or paired.
    //    (Carried history pieces are already persisted — the extra
    //    persist is only for the store-read path.)
    val priorBands0 = prior(_.bands, bandsSchema, "bands")
    val priorBands = if (history.isDefined) priorBands0 else priorBands0.persist()
    val occ = priorBands.groupBy("band", "bkey").agg(max("rk").as("base"))
    val kept = bandsB0
      .join(occ, Seq("band", "bkey"), "left")
      .withColumn("rk",
        (coalesce(col("base"), lit(0)) + row_number().over(
          Window.partitionBy("band", "bkey").orderBy("doc_id"))).cast("int"))
      .where(col("rk") <= bucketCap)
      .select(col("doc_id"), col("batch"), col("band"), col("bkey"), col("rk"))
      .persist()
    // -- pairs: ONE keyed equi-join of the batch's kept bands
    //    against (indexed ∪ batch) bands — batch-vs-indexed and
    //    batch-internal candidates in the same stage (the old
    //    side is capped by construction of the stored state;
    //    batch-internal pairs appear twice, once per
    //    orientation, and the distinct folds them).
    val all = priorBands.select("doc_id", "band", "bkey")
      .unionByName(kept.select("doc_id", "band", "bkey"))
    val cand = kept.as("n").join(all.as("o"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(
        least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
      .withColumn("emit_batch", lit(batchId))

    // -- exact verify against the FROZEN sets: stored sets for
    //    previously-indexed docs ∪ the in-memory batch sets
    //    (disjoint by construction — the batch is not yet
    //    committed). MATERIALIZED (eager localCheckpoint): the
    //    returned frame must stay independent of state dirs
    //    later batches extend.
    // cand is the small side (bucketCap-bounded pair count) — hint it
    // broadcast so neither join shuffles the heavy sets arrays: two
    // streaming scans of the cached sets instead of two array shuffles.
    val sets = prior(_.sets, setsSchema, "sets").unionByName(setsB)
    val inter = size(array_intersect(col("ta"), col("tb")))
    val verifyPlan = broadcast(cand)
      .join(sets.select(col("doc_id").as("doc_a"), col("ts").as("ta")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ts").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("emit_batch"),
        (inter / (size(col("ta")) + size(col("tb")) - inter))
          .as("shingle_jaccard"))

    // -- materialize the shared cached chain ONCE (kept is its
    //    tip), so the concurrent actions below reuse cached
    //    blocks instead of racing to compute them. This is the ONLY
    //    work on the pipeline's serial path.
    kept.count()

    // -- ONE grouped commit advances all three state tables to
    //    this batch atomically: one shuffle, one write job, one
    //    promote (vs three append cycles = ~24 small serial
    //    jobs per batch before the consolidation). It OVERLAPS
    //    the verification action AND (pipelined) the next batch's
    //    chain — safe in every interleaving: commits land in batch
    //    order (the await below), so the store never has a hole; if
    //    the commit lands and verification (or the caller's write of
    //    the pairs) dies, the replay's excludeDelta prior reads
    //    recompute bit-identical state and pairs; if verification
    //    finishes and the commit dies, the staged write is healed
    //    and the replay recommits.
    val commit = Future {
      Await.result(prevCommit, Duration.Inf)
      store.appendTables(
        merged.where(col("bcnt").isNotNull)
          .select(col("tri"), col("bcnt").as("cnt"))
          .withColumn("tbl", lit("df"))
          .withColumn("gbucket", store.gb(col("tri")))
          .unionByName(
            setsB.withColumn("tbl", lit("sets"))
              .withColumn("gbucket", store.gb(col("doc_id"))),
            allowMissingColumns = true)
          .unionByName(
            kept.withColumn("tbl", lit("bands"))
              .withColumn("gbucket", store.gb(col("bkey"))),
            allowMissingColumns = true),
        batchId,
        within = Seq(
          when(col("tbl") === "df", col("tri")),
          when(col("tbl") === "sets", col("doc_id")),
          when(col("tbl") === "bands", col("bkey"))))
    }
    val verified = Future { verifyPlan.localCheckpoint() }
    // batch-internal caches die once BOTH consumers are done; the
    // carried pieces (batchCnt, setsB, kept) outlive the call — the
    // caller releases them ([[release]]) after the loop's last future.
    val done = commit.zip(verified).map { case (_, v) =>
      shingles.unpersist(); merged.unpersist()
      if (history.isEmpty) priorBands.unpersist()
      v
    }
    (done, BatchState(batchCnt, setsB, kept), commit)
  }

  /** Fold the grouped store's deltas into one base
    * ([[DeltaStore.compactTables]] — one write job, one atomic
    * promote covering all three tables): df deltas sum-merge on the
    * shingle key; sets/bands rows are immutable and union as-is. Only
    * compact batches whose emissions are durably committed (see the
    * store's replay contract). */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("df", dfSchema, col("tri"),
        (all: DataFrame) => all.groupBy("tri").agg(sum("cnt").as("cnt"))),
      ("sets", setsSchema, col("doc_id"), identity[DataFrame] _),
      ("bands", bandsSchema, col("bkey"), identity[DataFrame] _)), upTo)
}

object LshIndex {

  /** State-table schemas (data columns only — the `gbucket` dir key is
    * a deterministic row function, recomputed when writing). */
  private val dfSchema = StructType(Seq(
    StructField("tri", StringType), StructField("cnt", LongType)))
  private val setsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", ArrayType(StringType))))
  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("batch", IntegerType),
    StructField("band", IntegerType), StructField("bkey", StringType),
    StructField("rk", IntegerType)))

  /** A batch's STATE-INDEPENDENT precompute — the shingle explode +
    * per-shingle counts, the dominant per-batch compute — persisted and
    * materialized. Depends only on the batch's own docs, never on the
    * index state, so a pipeline can compute batch K+1's prep WHILE
    * batch K's state-dependent chain / verify / commit runs ([[q103]]'s
    * replay does exactly that; the q112 feed-pipelining pattern applied
    * to ingest). Hand the result to [[upsertBatch]]'s `prepared`;
    * upsertBatch owns the unpersist. */
  final case class PreparedBatch(shingles: DataFrame, batchCnt: DataFrame)

  def prepareBatch(spark: SparkSession, docs: DataFrame): PreparedBatch = {
    val shingles = docs
      .withColumn("toks", expr(SimilarityQueries.toksExpr))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(expr(SimilarityQueries.trisExpr)).as("tri"))
      // the md5 shingle hash is the batch's heaviest per-row compute
      // and depends on nothing but the tri — hash HERE, off the
      // state-dependent chain (the minhash stage then only runs the
      // cheap affine transforms over the cached h)
      .withColumn("h", expr(SimilarityQueries.shingleHashExpr))
      .persist()
    val batchCnt = shingles.groupBy("tri").agg(count(lit(1)).as("bcnt"))
      .persist()
    batchCnt.count() // one action fills BOTH caches (shingles feeds it)
    PreparedBatch(shingles, batchCnt)
  }

  /** Cached in-memory mirror of ONE committed batch's delta slices —
    * row-identical to what [[upsertBatch]] wrote for that batch (df
    * count delta, frozen sets, kept bands; the persisted frames
    * themselves, so unpersist handles stay valid). A replay/ingest
    * LOOP threads the history of these into the next batch
    * ([[upsertBatchPipelined]]'s `history`) so prior-state reads hit
    * executor caches instead of re-scanning the store — which decouples
    * batch K+1's compute from batch K's commit I/O entirely. Valid only
    * when the SAME session performed all prior upserts into the store
    * (history and store are then row-identical by construction, and
    * both paths run the same aggregates over the same rows). */
  final case class BatchState(cnts: DataFrame, sets: DataFrame, bands: DataFrame)

  /** Unpersist a carried history once its last consumer is done. */
  def release(history: Seq[BatchState]): Unit = history.foreach { st =>
    st.cnts.unpersist(); st.sets.unpersist(); st.bands.unpersist()
  }
}
