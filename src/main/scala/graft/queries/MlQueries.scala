package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Tables}
import graft.Q._
import graft.ml.GroupedRegression

/** In-engine model fitting as QUERIES — the grouped-training counterpart
  * of the [[graft.ml]] package (reference: per-coin sklearn fits,
  * /root/reference/notebooks/models.ipynb cells 5-6, re-expressed as
  * set-based aggregation instead of a driver loop).
  */
object MlQueries {

  /** DuckDB mirror of [[graft.ml.PqIndex]]'s squared euclidean distance:
    * the same left-assoc fold over (x-y)^2 terms as the Spark-side
    * `aggregate(zip_with(...))`, so d2 is bit-identical in both engines. */
  private def sqDistSql(a: String, b: String) =
    s"LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP($a, $b), " +
      "s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * " +
      "(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"

  /** The embeddings' content fingerprint, as (artifact column, DuckDB
    * aggregate) pairs: the count, Σ vec_id and the bounds of the first
    * component, which both engines compute exactly (no hash function, no
    * float rounding). Two corpora of equal size get apart artifacts. */
  private val embFingerprint = Seq("n" -> "COUNT(*)", "id_sum" -> "SUM(vec_id)",
    "e1_min" -> "MIN(embedding[1])", "e1_max" -> "MAX(embedding[1])")

  /** The oracle's `WHERE` over an artifact: its fingerprint is the live
    * corpus's. The oracle reads artifacts `union_by_name`, so one written
    * without these columns matches nothing instead of failing the read. */
  private[graft] def embArtifactSql: String = embFingerprint
    .map { case (c, agg) => s"$c = (SELECT $agg FROM embeddings)" }
    .mkString(" AND ")

  /** [[embFingerprint]]'s values over `emb`, computed by Spark. */
  private def fingerprint(emb: org.apache.spark.sql.DataFrame): Seq[Any] = {
    val e1 = element_at(col("embedding"), 1)
    emb.agg(count(lit(1)), sum("vec_id"), min(e1), max(e1)).head().toSeq
  }

  /** Writes oracle artifact `tag` with fingerprint `fp` as its columns,
    * under a subdir keyed by the same values. */
  private def writeArtifact(tag: String, df: org.apache.spark.sql.DataFrame,
                            fp: Seq[Any]): Unit =
    embFingerprint.map(_._1).zip(fp)
      .foldLeft(df) { case (d, (c, v)) => d.withColumn(c, lit(v)) }
      .coalesce(1).write.mode("overwrite")
      .parquet(Q.oracleArtifact(tag, fp.mkString("_")))

  def defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q64: per-group closed-form OLS (simple regression of extended
    // price on quantity, per supplier) computed ENTIRELY as one grouped
    // aggregation — the oracle-checkable face of GroupedRegression's
    // Gram-matrix approach. Plan shape: one codegen'd hash aggregate
    // with map-side combine (the shuffle carries 6 sums per supplier,
    // not 600 rows), then scalar arithmetic per group. This is how
    // model fitting survives 100 TB: training reduces to sufficient
    // statistics that Spark aggregates like any other sum.
    //
    // Determinism: Σx, Σy, Σxy, Σx², Σy² are exact DECIMAL sums (the
    // 2-decimal source columns make products exact 4-decimal values),
    // cast to double only for a fixed-order arithmetic epilogue that
    // both engines evaluate identically; slope/intercept/r² are then
    // quantized to integer micro-units (the q19 convention).
    Q(
      "q64_grouped_ols",
      (s, dir) => {
        val qy = dec2(col("l_quantity"))
        val px = dec2(col("l_extendedprice"))
        val sums = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(
            count(lit(1)).as("n"),
            sum(qy).cast(DoubleType).as("sx"),
            sum(px).cast(DoubleType).as("sy"),
            sum(qy * px).cast(DoubleType).as("sxy"),
            sum(qy * qy).cast(DoubleType).as("sxx"),
            sum(px * px).cast(DoubleType).as("syy"))
        val n = col("n"); val sx = col("sx"); val sy = col("sy")
        val sxy = col("sxy"); val sxx = col("sxx"); val syy = col("syy")
        def quant(c: org.apache.spark.sql.Column) =
          (signum(c) * floor(abs(c) * lit(1000000.0) + lit(0.5))).cast("bigint")
        sums
          .withColumn("slope", (n * sxy - sx * sy) / (n * sxx - sx * sx))
          .withColumn("icept", (sy - col("slope") * sx) / n)
          .withColumn("r2",
            ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
              ((n * sxx - sx * sx) * (n * syy - sy * sy)))
          .select(
            col("l_suppkey"), n,
            quant(col("slope")).as("slope_q"),
            quant(col("icept")).as("intercept_q"),
            quant(col("r2")).as("r2_q"))
          .orderBy("l_suppkey")
      },
      Some("""
        WITH sums AS (
          SELECT l_suppkey,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
          FROM lineitem
          GROUP BY l_suppkey),
        fit AS (
          SELECT l_suppkey, n, sx, sy, sxy, sxx, syy,
                 (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope
          FROM sums),
        ext AS (
          SELECT l_suppkey, n, slope,
                 (sy - slope*sx) / n AS icept,
                 ((n*sxy - sx*sy) * (n*sxy - sx*sy))
                   / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2
          FROM fit)
        SELECT l_suppkey, n,
               CAST(SIGN(slope) * FLOOR(ABS(slope)*1000000 + 0.5) AS BIGINT) AS slope_q,
               CAST(SIGN(icept) * FLOOR(ABS(icept)*1000000 + 0.5) AS BIGINT) AS intercept_q,
               CAST(SIGN(r2)    * FLOOR(ABS(r2)*1000000 + 0.5)    AS BIGINT) AS r2_q
        FROM ext
        ORDER BY l_suppkey
      """)),

    // ----------------------------------------------------------------
    // q79: quality-WEIGHTED per-group ridge over the documents table,
    // running [[GroupedRegression.fitWeightedRidgePerGroup]] end-to-end
    // (the curation use-case: fit token-count → char-count per source,
    // each row weighted by a quality tier, without re-sampling the
    // corpus to express the weights). Same single-shuffle shape as q64:
    // the keyed exchange carries eight weighted sums per source, then a
    // per-group closed-form solve in the executors.
    //
    // Determinism: x (whitespace token count), y (n_chars) and w
    // (deterministic 1..5 quality tier) are all integer-valued, so every
    // double sum is EXACT regardless of aggregation order; the epilogue
    // (mu/sd/solve, then raw-space conversion) is a fixed sequence of
    // IEEE ops both engines evaluate identically, and the oracle SQL
    // mirrors it operation for operation. Outputs quantized to integer
    // micro-units (the q64 convention). regParam=0.5 so the ridge
    // penalty path (lam = regParam/sigma0(y)) is exercised, not just OLS.
    Q(
      "q79_weighted_grouped_ridge",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(
          col("source"),
          expr("cast(size(split(trim(text), ' +')) as double)").as("x_tokens"),
          col("n_chars").cast(DoubleType).as("y_chars"),
          (col("doc_id") % 5 + 1).cast(DoubleType).as("w"))
        val models = GroupedRegression.fitWeightedRidgePerGroup(
          base, "source", Seq("x_tokens"), "y_chars", "w", regParam = 0.5)
        def quant(c: org.apache.spark.sql.Column) =
          (signum(c) * floor(abs(c) * lit(1000000.0) + lit(0.5))).cast("bigint")
        val beta = element_at(col("coefficients"), 1)
        val mu = element_at(col("feat_means"), 1)
        val sd = element_at(col("feat_stds"), 1)
        models.select(
          col("key").as("source"),
          col("n"),
          quant(beta / sd).as("slope_q"),
          quant(col("intercept") - beta * mu / sd).as("intercept_q"))
          .orderBy("source")
      },
      Some("""
        WITH base0 AS (
          SELECT source,
                 CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS DOUBLE) AS x,
                 CAST(n_chars AS DOUBLE) AS y,
                 CAST(doc_id % 5 + 1 AS DOUBLE) AS w0
          FROM documents),
        base AS (
          -- mirror the engine's consistent-exclusion rule: a row with a
          -- NULL feature or label contributes to NO moment (w nulled out)
          SELECT source, x, y,
                 CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN w0 END AS w
          FROM base0),
        sums AS (
          SELECT source,
                 COUNT(w) AS n,
                 CAST(SUM(w) AS DOUBLE) AS sw,
                 CAST(SUM(w*x) AS DOUBLE) AS swx,
                 CAST(SUM(w*y) AS DOUBLE) AS swy,
                 CAST(SUM(w*y*y) AS DOUBLE) AS swyy,
                 CAST(SUM(w*x*y) AS DOUBLE) AS swxy,
                 CAST(SUM(w*x*x) AS DOUBLE) AS gxx
          FROM base GROUP BY source),
        mom AS (
          SELECT source, n, sw, swy, swyy, swxy, gxx,
                 swx/sw AS mu, swy/sw AS ybar
          FROM sums),
        std AS (
          SELECT *,
                 SQRT(gxx/sw - mu*mu) AS sd,
                 SQRT(swyy/sw - ybar*ybar) AS ysd0
          FROM mom),
        fit AS (
          SELECT *,
                 ((swxy/sw - mu*ybar)/sd)
                   / ((gxx/sw - mu*mu)/(sd*sd) + 0.5/ysd0) AS beta
          FROM std)
        SELECT source, n,
               CAST(SIGN(beta/sd) * FLOOR(ABS(beta/sd)*1000000 + 0.5) AS BIGINT) AS slope_q,
               CAST(SIGN(ybar - beta*mu/sd)
                    * FLOOR(ABS(ybar - beta*mu/sd)*1000000 + 0.5) AS BIGINT) AS intercept_q
        FROM fit
        ORDER BY source
      """)),

    // ----------------------------------------------------------------
    // q101: LEARNED product-quantization ANN (FAISS IVFADC's PQ half,
    // ml/PqIndex) as a bench-visible registry entry. The k-means
    // CODEBOOK is engine-specific (no SQL can retrain it; PqSpec pins
    // recall >= 0.9 vs the exact baseline), but the SERVE path given
    // the codebook — normalize, encode (nearest-centroid argmin), ADC
    // score from integer micro-unit LUT sums, exact cosine re-rank —
    // is pure arithmetic, so the oracle HASH-GATES it: the entry
    // persists the trained codebook as a DuckDB-readable parquet
    // sidecar (Q.oracleArtifact: fixed root, a subdir keyed by the
    // corpus's content fingerprint, which the oracle matches) and
    // the oracle replays the whole serve pipeline from that artifact.
    // Fold orders mirror exactly (dotSql ≡ DotProductF; the LUT is
    // quantized BIGINTs so the per-candidate sum is order-free).
    // The codebook is a PERSISTED artifact (train-once-serve-many):
    // trainIfAbsent keys the sidecar by corpus count + train params,
    // so only the first invocation per corpus pays the 8 KMeans fits.
    // Query set is the fixed scale-invariant workload (see q37).
    Q(
      "q101_pq_learned_ann",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val n = SimilarityQueries.embCount(s, dir)
        val codebook = graft.ml.PqIndex.trainIfAbsent(s, emb,
          s"${Q.scratch(s, "q101_pq", dir)}/codebook_n${n}_m8_k64_s42",
          m = 8, k = 64)
        writeArtifact("q101_pq", codebook, fingerprint(emb))
        val codes = graft.ml.PqIndex.encode(emb, codebook)
        graft.ml.PqIndex.searchTopK(emb, codebook, codes,
            pmod(col("vec_id"), lit(100)) === 0 && col("vec_id") <= 2000,
            k = 5, shortlist = 100)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH cb AS (
          SELECT sub, code, centroid
          FROM read_parquet('/tmp/graft_q101_pq_oracle/*/*.parquet',
                            union_by_name = true)
          WHERE $embArtifactSql
        ), nrm AS (
          SELECT vec_id, embedding,
                 SQRT(${SimilarityQueries.dotSql("embedding", "embedding")}) AS nn
          FROM embeddings
        ), sv AS (
          SELECT vec_id, g.sub,
                 LIST_TRANSFORM(embedding[g.sub*8+1 : g.sub*8+8],
                                x -> CAST(x AS DOUBLE) / nn) AS subvec
          FROM nrm, UNNEST(GENERATE_SERIES(0, 7)) AS g(sub)
          WHERE nn > 0
        ), codes AS (
          SELECT vec_id AS cand_id, sub, code FROM (
            SELECT sv.vec_id, sv.sub, cb.code,
                   ${sqDistSql("sv.subvec", "cb.centroid")} AS d2
            FROM sv JOIN cb ON cb.sub = sv.sub)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d2, code) = 1
        ), lut AS (
          SELECT query_id, sub, code,
                 CAST(SIGN(ip) * FLOOR(ABS(ip) * 1000000000000.0 + 0.5)
                      AS BIGINT) AS ipq
          FROM (SELECT sv.vec_id AS query_id, sv.sub AS sub, cb.code AS code,
                       ${SimilarityQueries.dotSql("sv.subvec", "cb.centroid")} AS ip
                FROM sv JOIN cb ON cb.sub = sv.sub
                WHERE sv.vec_id % 100 = 0 AND sv.vec_id <= 2000)
        ), adc AS (
          SELECT l.query_id, c.cand_id, SUM(l.ipq) AS adc_score
          FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
          WHERE l.query_id <> c.cand_id
          GROUP BY 1, 2
        ), short AS (
          SELECT query_id, cand_id FROM adc
          QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_score DESC, cand_id ASC) <= 100
        ), ref AS (
          SELECT s.query_id, s.cand_id,
                 ${SimilarityQueries.dotSql("q.embedding", "c.embedding")}
                   / (SQRT(${SimilarityQueries.dotSql("q.embedding", "q.embedding")}) *
                      SQRT(${SimilarityQueries.dotSql("c.embedding", "c.embedding")}))
                   AS cosine_sim
          FROM short s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings c ON c.vec_id = s.cand_id
        )
        SELECT query_id, CAST(rnk AS INTEGER) AS rank,
               cand_id AS neighbor_id, cosine_sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, cand_id ASC) AS rnk
              FROM ref)
        WHERE rnk <= 5
        ORDER BY query_id, rank
      """)),

    // ----------------------------------------------------------------
    // q102: LEARNED k-means IVF ANN (ml/IvfIndex; the trained
    // counterpart of q49's deterministic sign-plane cells) as a
    // bench-visible registry entry. Like q101, the INDEX (k-means
    // centroids + cell assignments) is engine-specific — IvfSpec pins
    // recall — but the SERVE path given the index is replayable, so
    // the entry persists BOTH index halves as parquet sidecars and
    // the oracle hash-gates probe selection (d2 ranking), the cell
    // equi-join, the micro-unit-quantized cosine, and the top-k.
    // nlist=16, nprobe=4 matches the spec's >=0.9-recall operating
    // region at bench scale; production picks nlist ~ sqrt(n) at
    // build time the same way q49's plane count adapts.
    // The coarse quantizer is a persisted artifact too (buildOrLoad —
    // the fitted KMeansModel in Spark ML writer format), keyed like
    // q101's codebook.
    Q(
      "q102_ivf_learned_ann",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val n = SimilarityQueries.embCount(s, dir)
        val (cells, centroids) = graft.ml.IvfIndex.buildOrLoad(s, emb,
          nlist = 16,
          path = s"${Q.scratch(s, "q102_ivf", dir)}/kmeans_n${n}_l16_s42")
        val fp = fingerprint(emb)
        writeArtifact("q102_centroids", centroids, fp)
        writeArtifact("q102_cells", cells.select(col("vec_id"), col("cell_id")), fp)
        graft.ml.IvfIndex.searchTopK(cells, centroids,
            pmod(col("vec_id"), lit(100)) === 0 && col("vec_id") <= 2000,
            k = 5, nprobe = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH cent AS (
          SELECT cell_id, centroid
          FROM read_parquet('/tmp/graft_q102_centroids_oracle/*/*.parquet',
                            union_by_name = true)
          WHERE $embArtifactSql
        ), cells AS (
          SELECT vec_id, cell_id
          FROM read_parquet('/tmp/graft_q102_cells_oracle/*/*.parquet',
                            union_by_name = true)
          WHERE $embArtifactSql
        ), nrm AS (
          SELECT vec_id, embedding,
                 ${SimilarityQueries.dotSql("embedding", "embedding")} AS n2
          FROM embeddings
        ), probes AS (
          SELECT query_id, cell_id FROM (
            SELECT q.vec_id AS query_id, cent.cell_id,
                   q.n2 - 2.0 * ${SimilarityQueries.dotSql("q.embedding", "cent.centroid")}
                        + ${SimilarityQueries.dotSql("cent.centroid", "cent.centroid")} AS d2
            FROM nrm q CROSS JOIN cent
            WHERE q.vec_id % 100 = 0 AND q.vec_id <= 2000)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY d2 ASC, cell_id ASC) <= 4
        ), scored AS (
          SELECT DISTINCT p.query_id, cl.vec_id AS cand_id,
                 CAST(FLOOR(${SimilarityQueries.dotSql("q.embedding", "c.embedding")}
                        / (SQRT(q.n2) * SQRT(c.n2)) * 1000000.0 + 0.5)
                      AS BIGINT) AS sim_q
          FROM probes p
          JOIN cells cl ON cl.cell_id = p.cell_id
          JOIN nrm q ON q.vec_id = p.query_id
          JOIN nrm c ON c.vec_id = cl.vec_id
          WHERE p.query_id <> cl.vec_id
        )
        SELECT query_id, CAST(rnk AS INTEGER) AS rank,
               cand_id AS neighbor_id,
               CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim_q DESC, cand_id ASC) AS rnk
              FROM scored)
        WHERE rnk <= 5
        ORDER BY query_id, rank
      """))
  )
}
