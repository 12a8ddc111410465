package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DotProductF
import graft.queries.SimilarityQueries

/** Incremental embedding near-dup index — the q55 family's maintenance
  * story: dedup a NEW batch of vectors against the already-indexed
  * corpus in O(batch) write work, using the same decorrelated
  * hyperplane sign keys (two bands of `width` bits) and the same
  * quantized-cosine verification, so incremental results are
  * bit-compatible with the batch pipeline's.
  *
  * Unlike the shingle index's df cap, a vector's sign keys depend ONLY
  * on its own embedding and the fixed plane family — so incremental
  * keys equal batch keys exactly, PROVIDED `width` is frozen at index
  * creation. That is the one capacity decision this index forces: the
  * batch q55 adapts width to the corpus count at plan time, but stored
  * keys are immutable, so a deployment provisions width for the
  * expected corpus (the q104 registry computes it from the full table
  * count — the capacity number an operator knows) and RE-INDEXES if
  * the corpus outgrows it; the arrival-order occupancy cap bounds the
  * damage of under-provisioning in the meantime (bucketCap² per
  * bucket, exactly like the shingle bands).
  *
  * State is ONE grouped [[DeltaStore]] at `root` holding two logical
  * tables as `tbl=` slices of each delta — a batch's state advance is
  * ONE write job and ONE atomic commit (see [[LshIndex]] for why):
  *   - `tbl=vecs` (vec_id, embedding, n2) bucketed on the vector id —
  *     the verification side (embeddings are immutable, so frozen
  *     entries are simply the data);
  *   - `tbl=keys` (vec_id, batch, band, bkey, rk) bucketed on the sign
  *     key — band 0 = planes [0, width), band 1 = planes
  *     [width, 2·width); only occupancy-cap winners (arrival order =
  *     (batch, vec_id)) are stored or paired.
  *
  * Prior-state reads exclude the batch's own delta (replay
  * determinism) and are unpruned — an ingest batch's keys and
  * candidate ids touch essentially every gbucket (see [[LshIndex]]).
  */
final case class EmbIndex(root: String) extends Maintained {
  import EmbIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Ingest one batch of vectors (`vec_id` long, `embedding`
    * array<float>) into the index, returning the batch's
    * near-dup pairs against everything indexed so far:
    * (vec_a, vec_b, emit_batch, cosine_sim), vec_a < vec_b, cosine
    * quantized to 1e-6 (cross-engine exactness, as q55) and
    * thresholded at 0.35. Emitted exactly once, at the later member's
    * batch; materialized before return, and emission precedes the
    * state commit (crash-replay re-derives identical pairs). */
  def upsertBatch(spark: SparkSession, vecs: DataFrame,
                  batchId: Int, width: Int, bucketCap: Int): DataFrame = {
    store.heal()
    val w = width.toString
    val emb = vecs
      .withColumn("n2", DotProductF.dot(col("embedding"), col("embedding")))
      .persist()
    try {
      val (kloC, khiC) = keyCols.getOrElseUpdate(w,
        (expr(SimilarityQueries.signKeyLowExpr(w)),
          expr(SimilarityQueries.signKeyHighExpr(w))))
      // localCheckpoint: the two sign-key trees total ~7,000 expression
      // nodes, and without the cut they ride inside EVERY downstream
      // plan of the batch (occupancy join, candidate join, verify,
      // grouped commit) — each analysis/optimization/AQE pass re-walks
      // them on the driver. Materializing the batch-sized keyed frame
      // once removes them from all downstream plan traversals; the keys
      // were computed exactly once either way.
      val keysB = emb
        .withColumn("klo", kloC)
        .withColumn("khi", khiC)
        .select(col("vec_id"),
          expr("stack(2, 0, klo, 1, khi) as (band, bkey)"))
        .withColumn("batch", lit(batchId))
        .localCheckpoint()
      val priorKeys = store.read(spark, keysSchema, None,
        table = Some("keys"), excludeDelta = Some(batchId)).persist()
      try {
        val occ = priorKeys.groupBy("band", "bkey").agg(max("rk").as("base"))
        val kept = keysB
          .join(occ, Seq("band", "bkey"), "left")
          .withColumn("rk",
            (coalesce(col("base"), lit(0)) + row_number().over(
              Window.partitionBy("band", "bkey").orderBy("vec_id"))).cast("int"))
          .where(col("rk") <= bucketCap)
          .select(col("vec_id"), col("batch"), col("band"), col("bkey"), col("rk"))
          .persist()
        try {
          val all = priorKeys.select("vec_id", "band", "bkey")
            .unionByName(kept.select("vec_id", "band", "bkey"))
          val cand = kept.as("n").join(all.as("o"),
              col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey") &&
                col("n.vec_id") =!= col("o.vec_id"))
            .select(
              least(col("n.vec_id"), col("o.vec_id")).as("vec_a"),
              greatest(col("n.vec_id"), col("o.vec_id")).as("vec_b"))
            .distinct()
            .withColumn("emit_batch", lit(batchId))

          // verify against stored vectors ∪ the in-memory batch
          // (disjoint: the batch is not yet committed)
          val sides = store.read(spark, vecsSchema, None,
              table = Some("vecs"), excludeDelta = Some(batchId))
            .unionByName(emb.select("vec_id", "embedding", "n2"))
          val dot = DotProductF.dot(col("ea"), col("eb"))
          val simq = floor(dot / (sqrt(col("na")) * sqrt(col("nb")))
            * lit(1000000.0) + lit(0.5)).cast("bigint")
          val verifyPlan = cand
            .join(sides.select(col("vec_id").as("vec_a"),
              col("embedding").as("ea"), col("n2").as("na")), Seq("vec_a"))
            .join(sides.select(col("vec_id").as("vec_b"),
              col("embedding").as("eb"), col("n2").as("nb")), Seq("vec_b"))
            .select(col("vec_a"), col("vec_b"), col("emit_batch"), simq.as("sim_q"))
            .where(col("sim_q") >= 350000)
            .select(col("vec_a"), col("vec_b"), col("emit_batch"),
              (col("sim_q").cast(DoubleType) / 1000000.0).as("cosine_sim"))

          // materialize the shared cached chain once, then OVERLAP the
          // grouped commit with verification (safe in every
          // interleaving — see LshIndex: excludeDelta prior reads make
          // a replay after either half recompute identically)
          kept.count()
          // kept (MEMORY_AND_DISK, fully materialized by the count) now
          // carries the batch's keys; keysB has no further consumer —
          // release its checkpoint blocks instead of waiting for GC
          graft.Q.unpin(keysB)
          val commit = scala.concurrent.Future {
            store.appendTables(
              emb.select("vec_id", "embedding", "n2")
                .withColumn("tbl", lit("vecs"))
                .withColumn("gbucket", store.gb(col("vec_id")))
                .unionByName(
                  kept.withColumn("tbl", lit("keys"))
                    .withColumn("gbucket", store.gb(col("bkey"))),
                  allowMissingColumns = true),
              batchId,
              within = Seq(
                when(col("tbl") === "vecs", col("vec_id")),
                when(col("tbl") === "keys", col("bkey"))))
          }(scala.concurrent.ExecutionContext.global)
          val verified = verifyPlan.localCheckpoint()
          scala.concurrent.Await.result(
            commit, scala.concurrent.duration.Duration.Inf)
          verified
        } finally kept.unpersist()
      } finally priorKeys.unpersist()
    } finally emb.unpersist()
  }

  /** Fold the grouped store's deltas into one base (one write job, one
    * atomic promote covering both tables) — rows are immutable in both
    * tables, so the fold is the identity union. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("vecs", vecsSchema, col("vec_id"), identity[DataFrame] _),
      ("keys", keysSchema, col("bkey"), identity[DataFrame] _)), upTo)
}

object EmbIndex {

  private val vecsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("n2", DoubleType)))
  private val keysSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("batch", IntegerType),
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("rk", IntegerType)))

  // The sign-key expressions inline a 64-weight literal dot product per
  // plane (~3,600 leaf nodes per band) — parsing those strings costs
  // tens of ms per call and every ingest batch re-parsed both. The
  // parsed (unresolved, immutable) Columns are pure functions of the
  // width, so memoize them. This caches a PLAN fragment, never data.
  private val keyCols =
    new scala.collection.concurrent.TrieMap[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column)]
}
