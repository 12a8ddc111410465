package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental triangle-count STATE — [[Triangles.countDelta]] given a
  * keyed access path, so each maintenance fold READS O(touched
  * buckets) instead of scanning the whole accumulated edge list and
  * re-aggregating every node's degree (the round-17 deployment's two
  * per-wave full scans: plain appended parquet has no access path, and
  * degrees were recounted from all edges each fold).
  *
  * Every delta triangle has ≥1 new edge, so every OLD edge that can
  * participate shares a vertex with the batch: old wedge edges meet a
  * new edge at the wedge apex or close a wedge holding one, and the
  * both-old case's edges run from the apex to the new edge's own
  * endpoints. The state therefore keeps the undirected edge set as an
  * ADJACENCY table `adj` (node, nbr) — each edge stored in BOTH
  * directions, hash-bucketed by `node` — and the fold reads only the
  * batch endpoints' buckets, semi-joins to the exact endpoint set, and
  * canonicalizes back to one row per edge (an edge with only its far
  * endpoint in the batch is caught through its mirror row, which lives
  * in that endpoint's bucket).
  *
  * Degrees are maintained ADDITIVELY in a second table `deg`
  * (node, d): each wave appends its per-node edge-endpoint counts —
  * counts are the cheapest maintenance fold there is (sum by key) —
  * and the fold reads only the buckets of nodes the restricted edge
  * set touches. Orientation only dedupes wedge generation within one
  * fold (see [[Triangles.countDeltaWithDeg]]), so maintained global
  * degrees give the same count as recomputed ones while preserving
  * the |Δ|·√(2|E|) wedge bound.
  *
  * Both tables commit per wave in ONE grouped atomic delta
  * ([[DeltaStore.appendTables]]) of O(batch) rows; stored rows are
  * never rewritten. [[stats]] reports node/edge counts from the `deg`
  * table alone (n_nodes = nodes, n_edges = Σd/2) — one dim-sized
  * scan, never the edge list. Reads exclude the wave's own delta, so
  * a checkpoint replay recomputes the same delta count and replaces
  * its rows — the q221/q225 streaming contract (and like [[CcIndex]],
  * bit-identical replay holds only while the wave's delta is live:
  * compact at the START of the next batch, never between the fold and
  * its checkpoint commit).
  *
  * PRECONDITION (inherited from countDelta): each wave's edges are
  * canonical u < v, one row per edge, disjoint from the stored set —
  * a duplicated edge would recount its old triangles. Node ids are
  * cast to LONG (the report is count-only, so lossless for any
  * integral id).
  */
final case class TriIndex(root: String) extends Maintained {
  import TriIndex._

  val store: DeltaStore = DeltaStore(root)

  /** Fold one wave of new canonical edges (u < v, disjoint from the
    * stored set) into the maintained count: returns the number of
    * triangles with ≥1 edge in this wave and commits the wave's
    * adjacency + degree rows as one atomic grouped delta. */
  def foldWave(spark: SparkSession, newEdges: DataFrame, waveId: Int): Long = {
    store.heal()
    val e = newEdges.toDF("u", "v")
      .select(col("u").cast(LongType).as("u"), col("v").cast(LongType).as("v"))
    // NOT distinct-ed: both consumers tolerate duplicates — touched()
    // runs its own distinct over the bucket ids, and the left-semi join
    // below dedupes by construction — so the exchange + aggregate a
    // distinct would cost here (once per fold) buys nothing
    val batchNodes = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
    // old edges with ≥1 endpoint in the batch — the only ones a delta
    // triangle can use: pruned to the batch endpoints' buckets, exact
    // via the mirror rows. Materialized ONCE: the degree-bucket probe
    // and the wedge fold both consume it, and re-evaluating would
    // re-read the pruned store per consumer.
    val tb = store.touched(batchNodes, col("node"))
    onPrunedRead("adj", tb)
    graft.Q.pinned(store.read(spark, adjSchema, Some(tb),
        table = Some("adj"), excludeDelta = Some(waveId))
      .join(batchNodes, Seq("node"), "left_semi")) { incident =>
      val oldEdges = incident
        .select(least(col("node"), col("nbr")).as("u"),
          greatest(col("node"), col("nbr")).as("v"))
        .distinct()
      // maintained degrees for the nodes this fold orients: the fold's
      // endpoints are the batch's (buckets tb) plus the incident rows'
      // far ends — one bucket probe over the materialized frame; extra
      // same-bucket nodes are harmless (every consumer joins inner on
      // edge endpoints). Additive sum over those buckets plus the
      // batch's own contribution (a node's rows all share its bucket —
      // exact).
      val td = (tb ++ store.touched(
        incident.select(col("nbr").as("node")), col("node"))).distinct.sorted
      onPrunedRead("deg", td)
      val batchDeg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("bd"))
      val degrees = store.read(spark, degSchema, Some(td),
          table = Some("deg"), excludeDelta = Some(waveId))
        .groupBy("node").agg(sum("d").as("sd"))
        .join(batchDeg, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("sd"), lit(0L)) + coalesce(col("bd"), lit(0L))).as("deg"))
      // materialized: the orientation consumes it twice, and real row
      // stats let the broadcast router see its true (node-grain) size
      graft.Q.pinned(degrees) { deg =>
        val all = oldEdges.withColumn("is_new", lit(false))
          .unionByName(e.withColumn("is_new", lit(true)))
        // O(batch) state append: both adjacency directions + degree counts.
        // The commit reads ONLY the wave's own rows (e / batchDeg) — never
        // incident, deg, or the store — while the wedge count reads only
        // the two pinned frames plus e; they share no dependency, so OVERLAP
        // them (the EmbIndex commit-under-verify move, guide §2.6): the
        // state write hides under the wedge fold. Safe in every
        // interleaving: reads exclude the wave's own delta (replay
        // contract), so the count is identical whether the commit has
        // landed or not, and a crash after either half replays identically.
        val adjRows = e.select(col("u").as("node"), col("v").as("nbr"))
          .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
          .withColumn("tbl", lit("adj"))
        val degRows = batchDeg.select(col("node"), col("bd").as("d"))
          .withColumn("tbl", lit("deg"))
        val commit = scala.concurrent.Future {
          store.appendTables(
            adjRows.unionByName(degRows, allowMissingColumns = true)
              .withColumn("gbucket", store.gb(col("node"))),
            waveId, within = Seq(col("node")))
        }(scala.concurrent.ExecutionContext.global)
        try Triangles.countDeltaWithDeg(all, deg).head().getLong(0)
        finally scala.concurrent.Await.result(
          commit, scala.concurrent.duration.Duration.Inf)
      }
    }
  }

  /** (n_nodes, n_edges) from the maintained degree table alone — the
    * report never re-scans the edge list: Σd counts each edge twice. */
  def stats(spark: SparkSession): DataFrame =
    store.read(spark, degSchema, None, table = Some("deg"))
      .groupBy("node").agg(sum("d").as("d"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum("d"), lit(0L)).as("dsum"))
      // integral halving (div), never double division — Σd is exact
      // and even by construction
      .select(col("n_nodes"), expr("dsum div 2").as("n_edges"))

  /** Fold deltas into one base: adjacency rows are immutable (identity
    * fold); degrees sum by node. One atomic grouped commit. */
  def compact(spark: SparkSession, upTo: Option[Int] = None): Unit =
    store.compactTables(spark, Seq(
      ("adj", adjSchema, col("node"), (df: DataFrame) => df),
      ("deg", degSchema, col("node"),
        (df: DataFrame) => df.groupBy("node").agg(sum("d").as("d")))),
      upTo)
}

object TriIndex {

  private val adjSchema = StructType(Seq(
    StructField("node", LongType), StructField("nbr", LongType)))
  private val degSchema = StructType(Seq(
    StructField("node", LongType), StructField("d", LongType)))

  /** Test seam: invoked on every pruned state read with (phase,
    * buckets-read); specs assert strict-subset reads. No-op in
    * production. */
  private[graft] var onPrunedRead: (String, Seq[Int]) => Unit = (_, _) => ()
}
