package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.{Q, Tables}

/** Training-data pipeline mechanics beyond dedup/similarity: reproducible
  * sampling and sequence packing (engine-added surface; the reference has
  * no corpus-preparation stage, so these rows cite the north-star list in
  * the builder brief rather than reference code).
  */
object PipelineQueries {

  // q28's tokenization, shared verbatim so packing counts match the
  // token-count query family (TextQueries.scala:20-21)
  private val toksExpr = "split(trim(text), ' +')"
  private val toksSql = "STRING_SPLIT_REGEX(TRIM(text), ' +')"

  // SimilarityQueries' distinct word-trigram spelling (kept textually
  // identical so shingle families agree across query files)
  private val trisExpr =
    s"array_distinct(transform(sequence(1, size(toks) - 2), " +
      "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"
  private val trisSql =
    "LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2), " +
      "i -> CONCAT(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))"

  /** The late-data-wins replay's four batches: overlapping year windows
    * [1995-96], [1996-98], [1998-2000], [2000-01] of each customer's
    * daily max order price, batch `b` adding a +0.01*b correction, so a
    * boundary year (1996, 1998, 2000) written twice keeps the value of
    * the LAST batch covering it. Built from ONE grouped pass over
    * `orders`, cached: the year filter is a function of the group key
    * (fetch_date), so filtering the grouped frame IS the per-window
    * groupBy. Returns the grouped frame (coin_id, fetch_date, p), which
    * the caller unpersists, and the batches (coin_id, fetch_date,
    * price_usd). */
  private def replayBatches(orders: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val base = orders
      .groupBy(
        col("o_custkey").cast("string").as("coin_id"),
        col("o_orderdate").as("fetch_date"))
      .agg(max(Q.dec2(col("o_totalprice"))).cast("double").as("p"))
      .cache()
    val windows = Seq((1995, 1996), (1996, 1998), (1998, 2000), (2000, 2001))
    (base, windows.zipWithIndex.map { case ((y0, y1), b) =>
      base
        .where(year(col("fetch_date")).between(y0, y1))
        .select(col("coin_id"), col("fetch_date"),
          (col("p") + lit(0.01) * lit(b)).as("price_usd"))
    })
  }

  /** The monthly min/max rollup of [[replayBatches]]' end state, the
    * oracle of q85, q92 and q105: the CASE picks each year's LAST
    * covering batch. */
  private val rollupReplayOracleSql = """
        WITH g AS (
          SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
                 o_orderdate AS fetch_date,
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   + CAST(0.01 AS DOUBLE) *
                     (CASE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
                        WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                        WHEN 1998 THEN 2 WHEN 1999 THEN 2 ELSE 3 END) AS price
          FROM orders
          GROUP BY 1, 2)
        SELECT coin_id,
               CAST(EXTRACT(YEAR FROM fetch_date) AS INT) AS year,
               CAST(EXTRACT(MONTH FROM fetch_date) AS INT) AS month,
               MIN(price) AS min_price_usd,
               MAX(price) AS max_price_usd
        FROM g
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
      """

  /** The last-write-wins table the replay queries upsert
    * [[replayBatches]] into, under `$out/table`. */
  private def replayTable(out: String, schema: StructType,
                          bloomItems: Option[Long] = None) =
    graft.operators.MorTable(graft.operators.DeltaStore(s"$out/table"),
      Seq("coin_id", "fetch_date"), schema, bloomItems)

  /** q112/q115's view: per (coin, year, month) price SUM and COUNT kept
    * from the table's change feed in a store under `$out/view`. */
  private def monthView(out: String) =
    graft.operators.IncrementalView(graft.operators.DeltaStore(s"$out/view"),
      StructType(Seq(StructField("coin_id", StringType),
        StructField("yr", IntegerType), StructField("mon", IntegerType))))

  /** Apply batch `b`'s preimage change feed of `mor` to `view`. */
  private def applyMonthFeed(s: org.apache.spark.sql.SparkSession,
                             mor: graft.operators.MorTable,
                             view: graft.operators.IncrementalView, b: Int): Unit =
    view.applyFeed(
      mor.changes(s, b - 1, b, preimage = true)
        .select(col("coin_id"),
          year(col("fetch_date")).as("yr"),
          month(col("fetch_date")).as("mon"),
          col("op"), col("price_usd")),
      "price_usd", b)

  /** q112/q115's report: fold the view's history, then read it as
    * (coin_id, yr, mon, sum_price, cnt). */
  private def monthViewReport(s: org.apache.spark.sql.SparkSession,
                              view: graft.operators.IncrementalView): DataFrame = {
    view.compact(s)
    view.view(s)
      .select(col("coin_id"), col("yr"), col("mon"),
        col("vsum").cast("double").as("sum_price"), col("cnt"))
      .orderBy("coin_id", "yr", "mon")
  }

  def defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q65: DETERMINISTIC stratified sampling — the split every training
    // pipeline needs to be reproducible across reruns, engines, and
    // retried tasks. `rand()`-based sampleBy gives none of that; keying
    // the keep-decision on md5(doc_id) does: the same row lands on the
    // same side of the split everywhere (Spark, DuckDB, a retry, a
    // different cluster). Per-stratum rates (downsample the majority
    // language, keep more of the tail) are a CASE over the stratum —
    // the "rebalance by language" move of corpus curation. Plan: pure
    // per-row projection + filter, no shuffle, trivially 100 TB-safe.
    Q(
      "q65_stratified_sample",
      (s, dir) => {
        val bucket = expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
        Tables.documents(s, dir)
          .withColumn("bucket", bucket)
          .where(col("bucket") <
            when(col("lang") === "en", lit(10)).otherwise(lit(40)))
          .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
          .orderBy("doc_id")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, lang, source,
                 CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 100 AS bucket
          FROM documents)
        SELECT doc_id, lang, source, bucket
        FROM b
        WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 40 END)
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q66: sequence packing — concat-and-chunk documents into fixed
    // 512-token context windows per source shard (the standard
    // pretraining packing layout: tokens are laid end-to-end within a
    // shard and cut every B tokens; a document's pack_id/pack_offset
    // locate it in the packed stream). One window cumsum per shard =
    // one Exchange on `source`; token counts reuse q28's tokenizer so
    // the two query families agree. At scale the shard key IS the
    // parallelism unit — packing never needs a global order, only
    // per-shard order, which is why this shape survives 100 TB.
    Q(
      "q66_sequence_packing",
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        Tables.documents(s, dir)
          .withColumn("n_tok", size(expr(toksExpr)))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("start", col("cum") - col("n_tok"))
          .select(
            col("doc_id"), col("source"), col("n_tok"),
            expr("start div 512").as("pack_id"),
            (col("start") % 512).cast("bigint").as("pack_offset"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(LEN($toksSql) AS INT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                      AS BIGINT) - n_tok AS start
          FROM t)
        SELECT doc_id, source, n_tok,
               CAST(start // 512 AS BIGINT) AS pack_id,
               CAST(start % 512 AS BIGINT) AS pack_offset
        FROM c
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q67: robust per-group statistics — EXACT median and MAD (median
    // absolute deviation), the outlier screen that survives the wild
    // values mean/stddev choke on. Exact medians are "hard at scale"
    // only if you reach for a global sort or an in-memory percentile
    // buffer; here each median is a per-group window rank — the sort is
    // distributed per group and spills like any window sort. Determinism:
    // the middle elements are PICKED by rank (total order: value, then
    // rowid), then combined with one fixed IEEE expression; no engine's
    // quantile-interpolation formula is involved. Two window passes
    // (value median, then deviation median) + one final agg.
    Q(
      "q67_robust_stats",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("k"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice").cast(DoubleType).as("v"))
        def addMedian(df: DataFrame, vc: String, out: String): DataFrame = {
          val w = Window.partitionBy("k")
            .orderBy(col(vc), col("l_orderkey"), col("l_linenumber"))
          val wAll = Window.partitionBy("k")
          // Spark `/` on integers is DOUBLE division — use `div` for the
          // rank arithmetic so both sides stay integral
          df.withColumn("__rn", row_number().over(w))
            .withColumn("__n", count(lit(1)).over(wAll))
            .withColumn(out,
              (max(when(col("__rn") === expr("(__n + 1) div 2"), col(vc)))
                .over(wAll) +
                max(when(col("__rn") === expr("__n div 2 + 1"), col(vc)))
                  .over(wAll)) / lit(2.0))
            .drop("__rn", "__n")
        }
        def quant(c: org.apache.spark.sql.Column) =
          (signum(c) * floor(abs(c) * lit(1000000.0) + lit(0.5))).cast("bigint")
        val withMed = addMedian(li, "v", "med")
          .withColumn("dev", abs(col("v") - col("med")))
        addMedian(withMed, "dev", "mad")
          .groupBy(col("k").as("l_suppkey"))
          .agg(
            count(lit(1)).as("n"),
            quant(max(col("med"))).as("median_q"),
            quant(max(col("mad"))).as("mad_q"),
            sum(when(col("dev") > lit(3.0) * col("mad"), 1).otherwise(0))
              .cast("bigint").as("n_outliers"))
          .orderBy("l_suppkey")
      },
      Some("""
        WITH base AS (
          SELECT l_suppkey AS k, l_orderkey, l_linenumber,
                 CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem),
        r1 AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY k
                   ORDER BY v, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY k) AS n
          FROM base),
        m1 AS (
          SELECT *,
                 (MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
                    OVER (PARTITION BY k)
                  + MAX(CASE WHEN rn = n // 2 + 1 THEN v END)
                    OVER (PARTITION BY k)) / 2.0 AS med
          FROM r1),
        d AS (
          SELECT k, l_orderkey, l_linenumber, v, med, ABS(v - med) AS dev
          FROM m1),
        r2 AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY k
                   ORDER BY dev, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY k) AS n
          FROM d),
        m2 AS (
          SELECT *,
                 (MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                    OVER (PARTITION BY k)
                  + MAX(CASE WHEN rn = n // 2 + 1 THEN dev END)
                    OVER (PARTITION BY k)) / 2.0 AS mad
          FROM r2)
        SELECT k AS l_suppkey,
               COUNT(*) AS n,
               CAST(SIGN(MAX(med)) * FLOOR(ABS(MAX(med))*1000000 + 0.5) AS BIGINT) AS median_q,
               CAST(SIGN(MAX(mad)) * FLOOR(ABS(MAX(mad))*1000000 + 0.5) AS BIGINT) AS mad_q,
               CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM m2
        GROUP BY k
        ORDER BY k
      """)),

    // ----------------------------------------------------------------
    // q68: eval-set decontamination — find training documents sharing
    // >= 2 distinct word trigrams with any held-out eval document (the
    // contamination screen run before training on any scraped corpus).
    // The shape is a BIPARTITE join, not q33's self-join: the eval side
    // is tiny by construction (here doc_id % 97 == 0, ~1%), so it
    // broadcasts and the train side never shuffles — contamination
    // checking at 100 TB is a map-side join over the training scan.
    // Trigram sets are per-doc distinct (SimilarityQueries' spelling),
    // so COUNT(*) per (train, eval) pair IS the distinct overlap.
    Q(
      "q68_decontamination",
      (s, dir) => {
        val tris = Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
        val ev = tris.where(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_doc_id"), col("tri"))
        tris.where(col("doc_id") % 97 =!= 0)
          .join(broadcast(ev), "tri")
          .groupBy(col("doc_id"), col("eval_doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .orderBy("doc_id", "eval_doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri FROM t),
        ev AS (
          SELECT doc_id AS eval_doc_id, tri FROM e0 WHERE doc_id % 97 = 0),
        tr AS (
          SELECT doc_id, tri FROM e0 WHERE doc_id % 97 <> 0)
        SELECT tr.doc_id, ev.eval_doc_id, COUNT(*) AS n_shared
        FROM tr JOIN ev USING (tri)
        GROUP BY tr.doc_id, ev.eval_doc_id
        HAVING COUNT(*) >= 2
        ORDER BY tr.doc_id, ev.eval_doc_id
      """)),

    // ----------------------------------------------------------------
    // q69: within-document repetition scoring — the duplicated-n-gram
    // fraction and max single-n-gram repetition per document (the
    // Gopher/RefinedWeb-style quality rule: heavily self-repeating
    // documents are machine boilerplate and get filtered). Uses the
    // NON-distinct trigram stream (duplication is the signal), two
    // keyed aggregations, no joins — embarrassingly parallel per doc.
    Q(
      "q69_repetition_score",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val trisAll =
          "transform(sequence(1, size(toks) - 2), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(expr(trisAll)).as("tri"))
          .groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(
            sum(col("c")).as("n_tris"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("max_rep"))
          .withColumn("dup_frac_q",
            floor((col("n_tris") - col("n_distinct")).cast(DoubleType) /
              col("n_tris").cast(DoubleType) * lit(1000000.0) + lit(0.5))
              .cast("bigint"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks
          FROM documents),
        e AS (
          SELECT doc_id,
                 UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> CONCAT(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))) AS tri
          FROM t),
        g AS (
          SELECT doc_id, tri, COUNT(*) AS c FROM e GROUP BY doc_id, tri)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tris,
               COUNT(*) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS max_rep,
               CAST(FLOOR(CAST(SUM(c) - COUNT(*) AS DOUBLE)
                          / CAST(SUM(c) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                 AS dup_frac_q
        FROM g
        GROUP BY doc_id
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q70: weighted corpus mixing — the UP-sampling half of the mixture
    // story (q65 is the down-sampling half): high-value strata repeat
    // for multiple training epochs, including FRACTIONAL epochs (en at
    // 2.25x: every en doc twice, a deterministic md5-chosen quarter a
    // third time). This is the data-mixture mechanics of modern LLM
    // training runs, expressed as explode(sequence(1, n_rep)) — a
    // narrow generator, no shuffle, no rand(): the same doc gets the
    // same epoch count on any engine or retry.
    Q(
      "q70_corpus_mixture",
      (s, dir) => {
        val bucket = expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
        Tables.documents(s, dir)
          .withColumn("bucket", bucket)
          .withColumn("n_rep",
            when(col("lang") === "en",
              lit(2) + when(col("bucket") < 25, 1).otherwise(0))
              .otherwise(lit(1)))
          .select(col("doc_id"), col("lang"),
            explode(expr("sequence(1, n_rep)")).as("epoch"))
          .orderBy("doc_id", "epoch")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, lang,
                 CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 100 AS bucket
          FROM documents),
        r AS (
          SELECT doc_id, lang,
                 CASE WHEN lang = 'en'
                      THEN 2 + (CASE WHEN bucket < 25 THEN 1 ELSE 0 END)
                      ELSE 1 END AS n_rep
          FROM b)
        SELECT doc_id, lang,
               CAST(UNNEST(GENERATE_SERIES(1, n_rep)) AS INT) AS epoch
        FROM r
        ORDER BY doc_id, epoch
      """)),

    // ----------------------------------------------------------------
    // q71: snapshot diff (CDC reconciliation) — classify every key as
    // insert / delete / update / unchanged between two table versions.
    // Snapshot B is derived deterministically from orders in-query
    // (keys %10==7 deleted, %10==3 repriced, %10==1 re-inserted under a
    // shifted key) so the oracle constructs the identical pair. The
    // diff itself is ONE full outer join on the key — co-partitioned,
    // the same cost class as the upsert (q16); at scale both sides
    // shuffle once on the key and every change class falls out of
    // null-ness + value comparison.
    Q(
      "q71_snapshot_diff",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val a = Tables.orders(s, dir)
          .select(col("o_orderkey").as("key"),
            Q.dec2(col("o_totalprice")).as("price_a"))
        val b0 = Tables.orders(s, dir)
        val b = b0.where(col("o_orderkey") % 10 =!= 7)
          .select(col("o_orderkey").as("key"),
            (Q.dec2(col("o_totalprice")) +
              when(col("o_orderkey") % 10 === 3, lit(BigDecimal(1)))
                .otherwise(lit(BigDecimal(0)))).as("price_b"))
          .union(b0.where(col("o_orderkey") % 10 === 1)
            .select((col("o_orderkey") + 10000000L).as("key"),
              Q.dec2(col("o_totalprice")).as("price_b")))
        a.join(b, Seq("key"), "full_outer")
          .withColumn("change",
            when(col("price_a").isNull, "insert")
              .when(col("price_b").isNull, "delete")
              .when(col("price_a") =!= col("price_b"), "update")
              .otherwise("unchanged"))
          .where(col("change") =!= "unchanged")
          .select(col("key"), col("change"),
            col("price_a").cast(DoubleType).as("price_a"),
            col("price_b").cast(DoubleType).as("price_b"))
          .orderBy("key")
      },
      Some("""
        WITH a AS (
          SELECT o_orderkey AS key,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price_a
          FROM orders),
        b AS (
          SELECT o_orderkey AS key,
                 CAST(o_totalprice AS DECIMAL(18,2))
                   + (CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS price_b
          FROM orders WHERE o_orderkey % 10 <> 7
          UNION ALL
          SELECT o_orderkey + 10000000 AS key,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price_b
          FROM orders WHERE o_orderkey % 10 = 1),
        j AS (
          SELECT COALESCE(a.key, b.key) AS key, price_a, price_b,
                 CASE WHEN price_a IS NULL THEN 'insert'
                      WHEN price_b IS NULL THEN 'delete'
                      WHEN price_a <> price_b THEN 'update'
                      ELSE 'unchanged' END AS change
          FROM a FULL OUTER JOIN b ON a.key = b.key)
        SELECT key, change,
               CAST(price_a AS DOUBLE) AS price_a,
               CAST(price_b AS DOUBLE) AS price_b
        FROM j
        WHERE change <> 'unchanged'
        ORDER BY key
      """)),

    // ----------------------------------------------------------------
    // q76: fixed-size per-stratum sample — EXACTLY k documents per
    // language (the fixed-budget eval-set draw), chosen by ranking on
    // md5(doc_id) so the draw is uniform-ish, reproducible, and stable
    // under corpus growth ONLY where the hash order changes (no rand(),
    // no shuffle beyond the per-stratum rank window). Complements q65:
    // rate-based keeps a fraction, this keeps a count.
    Q(
      "q76_fixed_k_sample",
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("pick", row_number().over(w))
          .where(col("pick") <= 20)
          .select(col("doc_id"), col("lang"), col("pick"))
          .orderBy("doc_id")
      },
      Some("""
        WITH r AS (
          SELECT doc_id, lang,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pick
          FROM documents)
        SELECT doc_id, lang, pick
        FROM r
        WHERE pick <= 20
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q77: global contiguous row numbering WITHOUT a global sort — the
    // export step that assigns every document a stable position in the
    // packed corpus. A naive ROW_NUMBER() over the full order funnels
    // 100 TB through ONE partition; the scalable form is two-phase:
    // per-shard local ranks plus broadcast shard offsets (a cumsum over
    // |shards| rows). The DuckDB oracle runs the NAIVE global
    // ROW_NUMBER — the gate proves the two-phase plan computes the
    // identical function.
    Q(
      "q77_global_rownum",
      (s, dir) => {
        val local = Window.partitionBy("source").orderBy("doc_id")
        val offsetW = Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, -1)
        val counts = Tables.documents(s, dir)
          .groupBy("source").agg(count(lit(1)).as("cnt"))
          .withColumn("offset",
            coalesce(sum(col("cnt")).over(offsetW), lit(0L)))
          .select("source", "offset")
        Tables.documents(s, dir)
          .withColumn("local_rank", row_number().over(local))
          .join(broadcast(counts), Seq("source"))
          .select(col("doc_id"), col("source"),
            (col("offset") + col("local_rank")).cast("bigint").as("global_row"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source,
               ROW_NUMBER() OVER (ORDER BY source, doc_id) AS global_row
        FROM documents
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q82: PII detection + redaction — the scrubbing pass every
    // training-data pipeline runs before anything ships. Three regex
    // families (email, phone, IPv4), each counted and then replaced by
    // a typed placeholder; the whole pass is per-row projection work —
    // ZERO shuffles at any corpus size (the output orderBy is the only
    // exchange). The synthetic corpus carries no natural PII, so the
    // query plants deterministic PII per doc first (both engines plant
    // identically), which also makes the expected counts exactly 1/1/1
    // per doc — any drift in regex semantics breaks the hash.
    // Patterns are group-free and RE2-compatible, and extraction pins
    // group 0 explicitly (Spark's regexp_extract_all defaults to group
    // 1, DuckDB's to 0 — the one cross-engine trap here).
    Q(
      "q82_pii_redaction",
      (s, dir) => {
        val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phonePat = "555-[0-9]{4}"
        val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        Tables.documents(s, dir)
          .withColumn("enriched", concat(
            col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail"), col("doc_id") % 7, lit(".com tel 555-01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" ip 10."), col("doc_id") % 256, lit(".0.1")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("enriched"), lit(emailPat), lit(0)))
              .as("n_emails"),
            size(regexp_extract_all(col("enriched"), lit(phonePat), lit(0)))
              .as("n_phones"),
            size(regexp_extract_all(col("enriched"), lit(ipPat), lit(0)))
              .as("n_ips"),
            md5(regexp_replace(regexp_replace(regexp_replace(
              col("enriched"),
              lit(emailPat), lit("<EMAIL>")),
              lit(phonePat), lit("<PHONE>")),
              lit(ipPat), lit("<IP>"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH e AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
                   || '.com tel 555-01' || LPAD(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   || ' ip 10.' || (doc_id % 256) || '.0.1' AS enriched
          FROM documents)
        SELECT doc_id,
               CAST(LEN(REGEXP_EXTRACT_ALL(enriched,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS INT) AS n_emails,
               CAST(LEN(REGEXP_EXTRACT_ALL(enriched, '555-[0-9]{4}', 0)) AS INT) AS n_phones,
               CAST(LEN(REGEXP_EXTRACT_ALL(enriched,
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', 0)) AS INT) AS n_ips,
               MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(enriched,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '555-[0-9]{4}', '<PHONE>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        FROM e
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q85: incremental rollup maintenance ≡ full recompute — the
    // classic view-maintenance theorem, proven on the REAL machinery:
    // the four batches of [[replayBatches]] run as batch waves through
    // IncrementalRollup.mergeBatch, each upserting its rows into the
    // history MorTable and recomputing only the (coin, year, month)
    // groups it touched into the rollup MorTable. The replay models how
    // late data actually arrives — in overlapping TIME windows whose
    // boundary years are written twice with batch-dependent values, so
    // later batches genuinely overwrite earlier ones (and can lower a
    // month's max) and the oracle must model the replay order. Numeric
    // determinism: max is exact in DECIMAL(18,2); the correction is one
    // IEEE multiply + add on identical operands in both engines.
    Q(
      "q85_incremental_rollup_replay",
      (s, dir) => {
        val out = Q.fresh(s, "q85_rollup", dir)
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val r = graft.streaming.IncrementalRollup(
          s"$out/table", s"$out/rollup", batches.head.schema)
        batches.zipWithIndex.foreach { case (batch, b) => r.mergeBatch(s, batch, b) }
        base.unpersist(false)
        r.monthly(s).orderBy("coin_id", "year", "month")
      },
      Some(rollupReplayOracleSql)),

    // ----------------------------------------------------------------
    // q86: Bloom-prefiltered decontamination — same exact semantics as
    // q68 (training docs sharing >= 2 distinct trigrams with any eval
    // doc), rolled up to the per-training-doc drop decision, but the
    // 100 TB mechanism changes: a Bloom filter built from the eval
    // trigrams (df.stat.bloomFilter, a distributed treeAggregate)
    // prefilters the training-side trigram stream BEFORE the exact
    // verification join. At scale the eval set's trigram dictionary can
    // be 1e8+ strings — too big to broadcast as a hash table of full
    // strings, but ~1.2 bits x items x ln(1/fpp) as a Bloom sketch.
    // Bloom false positives are killed by the exact join (result is
    // EXACT, hence the plain SQL oracle); false negatives are
    // impossible. The probe is the codegen'd BloomMightContainF
    // expression (no UDF, no codegen break): the sketch rides the plan
    // as a binary literal and the bit-test fuses into the scan-side
    // WholeStageCodegen span, replacing a shuffle of the full 100 TB
    // trigram stream.
    Q(
      "q86_bloom_decontamination",
      (s, dir) => {
        val tris = Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
        val ev = tris.where(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_doc_id"), col("tri"))
        // Cache ev only for the two driver-side actions that size and
        // build the sketch, then release it before returning: a shared
        // session running this query repeatedly (bench runs it 3x) must
        // not accumulate pinned executor storage. The verify join below
        // recomputes ev once from the pruned scan instead — the same
        // trade the shingle-cache experiment validated.
        ev.persist()
        val bloom =
          try ev.stat.bloomFilter("tri", math.max(ev.count(), 64L), 0.01)
          finally ev.unpersist(blocking = false)
        val out = tris.where(col("doc_id") % 97 =!= 0)
          .where(graft.functions.BloomMightContainF.probe(col("tri"), bloom))
          .join(broadcast(ev), "tri")
          .groupBy(col("doc_id"), col("eval_doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_eval_docs"),
            max(col("n_shared")).as("max_shared"),
            sum(col("n_shared")).as("tot_shared"))
          .orderBy("doc_id")
        out
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri FROM t),
        ev AS (
          SELECT doc_id AS eval_doc_id, tri FROM e0 WHERE doc_id % 97 = 0),
        tr AS (
          SELECT doc_id, tri FROM e0 WHERE doc_id % 97 <> 0),
        pairs AS (
          SELECT tr.doc_id, ev.eval_doc_id, COUNT(*) AS n_shared
          FROM tr JOIN ev USING (tri)
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2)
        SELECT doc_id, COUNT(*) AS n_eval_docs, MAX(n_shared) AS max_shared,
               CAST(SUM(n_shared) AS BIGINT) AS tot_shared
        FROM pairs
        GROUP BY 1
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q87: per-domain token-budget curation — the Common-Crawl-style
    // quota rule: no single domain may contribute more than a fixed
    // token budget to the corpus. Docs rank within their domain by a
    // deterministic quality proxy (longer docs first, doc_id tiebreak);
    // the running token total is a window cumulative sum and the budget
    // cut is a plain filter on it. One hash exchange on `source`, both
    // windows share it; integer token counts keep the cumulative sum
    // engine-exact. At 100 TB domains are the natural partition key and
    // per-domain doc counts are bounded, so the window never sees a
    // pathological partition (and a hot domain would be exactly the one
    // the quota exists to cut).
    Q(
      "q87_domain_token_budget",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Tables.documents(s, dir)
          .withColumn("n_tok", size(expr(toksExpr)).cast("long"))
          .withColumn("rk", row_number().over(ord))
          .withColumn("cum_tok", sum(col("n_tok")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .where(col("cum_tok") <= 400L)
          .select(col("source"), col("rk"), col("doc_id"), col("n_tok"), col("cum_tok"))
          .orderBy("source", "rk")
      },
      Some(s"""
        WITH d AS (
          SELECT source, doc_id, n_chars,
                 CAST(LEN($toksSql) AS BIGINT) AS n_tok
          FROM documents),
        r AS (
          SELECT source, doc_id, n_tok,
                 CAST(ROW_NUMBER() OVER w AS INT) AS rk,
                 CAST(SUM(n_tok) OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
          FROM d
          WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id))
        SELECT source, rk, doc_id, n_tok, cum_tok
        FROM r
        WHERE cum_tok <= 400
        ORDER BY source, rk
      """)),

    // ----------------------------------------------------------------
    // q88: exact duplicated-span removal — the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // exact-substring pass that doc-level MinHash (q34/q35) cannot do:
    // find every 5-token gram occurring in >= 2 distinct documents and
    // cut the covered token spans out of each doc, keeping the rest.
    // Shape: position-exploded grams -> gram-keyed distinct-doc count
    // (partial aggs) -> join occurrences of duplicated grams back ->
    // explode each hit to its K covered positions -> anti-join tokens
    // against covered positions -> order-proof md5 of the surviving
    // token sequence. Everything is keyed (gram, then (doc,pos));
    // per-key work is bounded by true duplication mass, never
    // all-pairs. A pathologically common gram would hot-key the
    // coverage join — production caps gram df like q33's shingle cap;
    // here exactness is the point and the oracle models the same math.
    Q(
      "q88_exact_span_dedup",
      (s, dir) => {
        val K = 5
        val docs = Tables.documents(s, dir).withColumn("toks", expr(toksExpr))
        val pos = docs
          .select(col("doc_id"), col("toks"),
            explode(expr(s"sequence(1, size(toks) - ${K - 1})")).as("i"))
          .withColumn("gram", expr(s"array_join(slice(toks, i, $K), ' ')"))
          .select("doc_id", "i", "gram")
        val dup = pos.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2)
          .select("gram")
        val covered = pos.join(dup, "gram")
          .select(col("doc_id"), explode(expr(s"sequence(i, i + ${K - 1})")).as("p"))
          .distinct()
        val toks = docs
          .select(col("doc_id"), explode(expr("sequence(1, size(toks))")).as("p"),
            col("toks"))
          .withColumn("tok", expr("element_at(toks, p)"))
          .select("doc_id", "p", "tok")
        val keptAgg = toks.join(covered, Seq("doc_id", "p"), "left_anti")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_kept"),
            md5(concat_ws(" ",
              expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)")))
              .as("kept_md5"))
        docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
          .join(keptAgg, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_tok"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
            coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        pos AS (
          SELECT doc_id, i,
                 CONCAT(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ',
                        toks[i+3], ' ', toks[i+4]) AS gram
          FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS g(i)),
        dup AS (
          SELECT gram FROM pos GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT DISTINCT p.doc_id, j AS p
          FROM pos p JOIN dup USING (gram),
               UNNEST(GENERATE_SERIES(p.i, p.i + 4)) AS q(j)),
        tok AS (
          SELECT doc_id, i AS p, toks[i] AS tok
          FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS g(i)),
        kept AS (
          SELECT k.doc_id, COUNT(*) AS n_kept,
                 MD5(STRING_AGG(k.tok, ' ' ORDER BY k.p)) AS kept_md5
          FROM tok k
          WHERE NOT EXISTS (SELECT 1 FROM cov c
                            WHERE c.doc_id = k.doc_id AND c.p = k.p)
          GROUP BY 1),
        tot AS (
          SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tok FROM t)
        SELECT tt.doc_id, tt.n_tok,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
               tt.n_tok - CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
               COALESCE(k.kept_md5, MD5('')) AS kept_md5
        FROM tot tt LEFT JOIN kept k USING (doc_id)
        ORDER BY tt.doc_id
      """)),

    // ----------------------------------------------------------------
    // q90: temperature-flattened source mixing — unlike q65/q70 whose
    // rates are constants, here the sampling rate is COMPUTED FROM THE
    // CORPUS: rate_s ∝ T_s^(α−1) with α = 0.5 (sampled tokens ∝ √T_s,
    // the multilingual-LM temperature rule that up-weights tail
    // sources), i.e. keep-threshold th_s = min(1, C/√T_s) in basis
    // points of 10000. Plan shape this adds over q65/q70: a per-source
    // aggregate produces a TINY computed dimension (one row per source)
    // that BROADCASTS back onto the doc scan for the per-row
    // md5-deterministic keep decision — aggregate → broadcast-back →
    // row decision, the two-level pattern every data-dependent curation
    // rule needs at 100 TB (the doc scan itself never shuffles; the
    // final summary agg re-keys on source). √ and one division on
    // integer-exact inputs are correctly rounded IEEE ops, so th_s is
    // engine-exact; the keep decision is md5-keyed like q65's.
    Q(
      "q90_temperature_mixing",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_tok", size(expr(toksExpr)).cast("long"))
        val rates = docs.groupBy("source")
          .agg(sum(col("n_tok")).as("t_tokens"))
          .withColumn("th",
            least(lit(10000L),
              floor(lit(10000.0) * lit(20.0) / sqrt(col("t_tokens").cast("double"))
                + lit(0.5)).cast("long")))
        val bucket = expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 10000")
        docs.join(broadcast(rates), Seq("source"))
          .withColumn("kept", (bucket < col("th")).cast("int"))
          .groupBy(col("source"), col("t_tokens"), col("th"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("kept").cast("long")).as("n_kept"),
            sum(col("kept").cast("long") * col("n_tok")).as("kept_tokens"))
          .orderBy("source")
      },
      Some(s"""
        WITH d AS (
          SELECT source, doc_id,
                 CAST(LEN($toksSql) AS BIGINT) AS n_tok
          FROM documents),
        rates AS (
          SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_tokens,
                 LEAST(10000,
                   CAST(FLOOR(10000.0 * 20.0 / SQRT(CAST(SUM(n_tok) AS DOUBLE)) + 0.5)
                        AS BIGINT)) AS th
          FROM d GROUP BY 1),
        k AS (
          SELECT d.source, r.t_tokens, r.th, d.n_tok,
                 CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 10000 < r.th THEN 1 ELSE 0 END AS kept
          FROM d JOIN rates r USING (source))
        SELECT source, t_tokens, th,
               COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               CAST(SUM(kept * n_tok) AS BIGINT) AS kept_tokens
        FROM k
        GROUP BY 1, 2, 3
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q96: gzip JSONL round-trip — the interchange format LLM corpora
    // actually ship in (one JSON object per line, gzip part files):
    // write documents as compressed JSONL, read back with a declared
    // schema (schema-on-read, no inference pass — at 100 TB an
    // inference scan would read the corpus twice), and aggregate a
    // CONTENT CHECKSUM per language: the md5-derived integer of every
    // text survives mod 1e9 and integer-sums order-free, so one byte
    // mangled by JSON escaping/unescaping or gzip anywhere flips the
    // hash. The oracle computes the same checksum from the original
    // parquet.
    Q(
      "q96_jsonl_roundtrip",
      (s, dir) => {
        val out = Q.fresh(s, "q96_jsonl", dir)
        Tables.documents(s, dir)
          .write.mode("overwrite").option("compression", "gzip").json(out)
        val back = s.read
          .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .json(out)
        back.groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            sum(expr(
              "cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint) % 1000000000"))
              .as("content_checksum"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc,
               CAST(SUM(CAST('0x' || SUBSTR(MD5(text), 1, 15) AS BIGINT)
                        % 1000000000) AS BIGINT) AS content_checksum
        FROM documents
        GROUP BY 1
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q97: Bloom-indexed point lookup — the table is physically laid
    // out by SOURCE (scan locality for the analytic workload) and then
    // point-read by DOC_ID, the non-clustered high-cardinality case
    // where min/max file stats prune nothing. BloomIndex builds a
    // per-file sketch sidecar in one distributed pass (typed Aggregator
    // folding each file's id set, map-side partials merged — no driver
    // loop) and the lookup plans only sketch-surviving files, with the
    // exact IN predicate as residual. The oracle is the plain IN scan:
    // a sketch false NEGATIVE (the only failure that loses rows) or a
    // residual bug flips the hash. BloomIndexSpec asserts the skipping
    // itself (planned files < total).
    Q(
      "q97_bloom_indexed_lookup",
      (s, dir) => {
        val out = Q.fresh(s, "q97_bloomidx", dir)
        graft.operators.BloomIndex.write(
          Tables.documents(s, dir), layoutCol = "source", keyCol = "doc_id",
          dir = out, nFiles = 16, expectedPerFile = 100000L, fpp = 0.01)
        val keys = Seq("3", "41", "97", "230", "404")
        graft.operators.BloomIndex.lookup(s, out, "doc_id", keys)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, lang, n_chars
        FROM documents
        WHERE CAST(doc_id AS VARCHAR) IN ('3', '41', '97', '230', '404')
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q99: Count-Min-pruned exact heavy hitters — the frequency member
    // of the sketch trio (Bloom q86 = membership, HLL q44 =
    // cardinality): a Count-Min sketch built in one distributed pass
    // prefilters the token stream to plausibly-heavy tokens BEFORE the
    // exact keyed count. Count-Min only ever OVERcounts, so
    // `estimate >= T` never rejects a truly-heavy token — the exact
    // HAVING residual kills the overcounted stragglers and the result
    // is EXACT (plain GROUP BY/HAVING oracle). At 100 TB the win is
    // the shuffle: the exact count's exchange carries only the few
    // thousand plausibly-heavy keys instead of the full vocabulary.
    // The probe is the codegen'd CountMinGteF expression — fused into
    // the scan span like q86's Bloom probe.
    Q(
      "q99_heavy_hitters",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(explode(expr(toksExpr)).as("tok"))
        val cms = toks.stat.countMinSketch(
          "tok", 0.0005, 0.99, 42)
        toks
          .where(graft.functions.CountMinGteF.probe(col("tok"), cms, 900L))
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= 900L)
          .orderBy(col("cnt").desc, col("tok").asc)
      },
      Some(s"""
        WITH t AS (
          SELECT UNNEST($toksSql) AS tok FROM documents)
        SELECT tok, COUNT(*) AS cnt
        FROM t
        GROUP BY 1
        HAVING COUNT(*) >= 900
        ORDER BY 2 DESC, 1
      """)),

    // ----------------------------------------------------------------
    // q91: ORC round-trip — the third columnar format in the source/
    // sink matrix (parquet scans everywhere, JSON docs O3-O5, CSV O11):
    // project the pricing columns out of the parquet lineitem, rewrite
    // them as ORC, read the ORC back and aggregate. The oracle computes
    // the same decimal-exact aggregate from the ORIGINAL parquet, so a
    // single value/type/date mangled anywhere in the ORC write→read
    // path flips the hash. Plan: the write is a shuffle-free projected
    // columnar rewrite; the read-back scan is pruned + pushed like any
    // parquet scan (ORC supports the same PushedFilters machinery).
    Q(
      "q91_orc_roundtrip",
      (s, dir) => {
        val out = Q.fresh(s, "q91_orc", dir)
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_shipdate")
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            Q.sumExact(col("l_quantity")).as("sum_qty"),
            Q.sumExact(col("l_extendedprice")).as("sum_price"),
            min(col("l_shipdate")).as("min_ship"),
            max(col("l_shipdate")).as("max_ship"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               MIN(l_shipdate) AS min_ship,
               MAX(l_shipdate) AS max_ship
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q92: the reference's cron -> foreachBatch loop itself under the
    // hash gate. q85's four batches are landed as files one at a time
    // and each is drained by a resumed AvailableNow stream lifecycle
    // (Replay.stream) whose foreachBatch body is
    // IncrementalRollup.mergeBatch under the stream's batch id — the
    // loop IncrementalRollup.start deploys. Identical oracle to q85:
    // landing, checkpoint resume and batch-id keyed replace must not
    // change the maintained rollup.
    Q(
      "q92_manifest_rollup_replay",
      (s, dir) => {
        val out = Q.fresh(s, "q92_manifest", dir)
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val r = graft.streaming.IncrementalRollup(
          s"$out/table", s"$out/rollup", batches.head.schema)
        graft.streaming.Replay.stream(s, out, batches, 2) { (b, id) =>
          r.mergeBatch(s, b, id)
        }
        base.unpersist(false)
        r.monthly(s).orderBy("coin_id", "year", "month")
      },
      Some(rollupReplayOracleSql)),

    // ----------------------------------------------------------------
    // q100: INDEX-INTERSECTION scan — the planning seam that stacks
    // BOTH sidecar families on one physical table. The table is written
    // Z-ordered on (px, sx) with its min/max manifest (the range index,
    // q80's machinery), then BloomIndex.refresh sidecars the SAME files
    // on the point-lookup key (q97's machinery, building over existing
    // files instead of laying them out). The query carries a 2-D range
    // box AND a key set; IndexedScan.planFiles intersects what each
    // index admits — each index only ever REMOVES files and neither
    // can false-negative (min/max boxes contain every value in the
    // file; Bloom never misses a member), so the intersection still
    // covers every matching row and the exact residual predicate keeps
    // results row-exact. At 100 TB this is "only the keys' files inside
    // the time/key box are read" instead of whichever single index the
    // caller consulted. The oracle is the plain doubly-filtered scan:
    // a file wrongly pruned by either index, a bad intersection, or a
    // residual bug flips the hash. IndexedScanSpec asserts the planning
    // itself (planned files < either index alone) on its own corpus;
    // PLANS.md records the counts for this table.
    Q(
      "q100_index_intersection_scan",
      (s, dir) => {
        val out = Q.fresh(s, "q100_idx", dir)
        val data = Tables.lineitem(s, dir).selectExpr(
          "l_partkey % 256 as px", "l_suppkey % 256 as sx",
          "l_orderkey as okey", "l_quantity as qty",
          "l_extendedprice as price")
        // flat Z-ordered layout (not writeBucketed: its __zb=K partition
        // dirs are underscore-hidden to the Bloom sidecar's file lister)
        graft.operators.ZOrderLayout.write(data, "px", "sx", out, 64)
        graft.operators.BloomIndex.refresh(s, out, "okey")
        graft.operators.IndexedScan.scan(s, out, "px", "sx", "okey",
            box = Some(graft.operators.IndexedScan.Box(64, 191, 2, 59)),
            keys = Some(q100Keys))
          .select(col("okey"), col("px"), col("sx"), col("qty"), col("price"))
          .orderBy("okey", "px", "sx", "qty", "price")
      },
      Some(s"""
        SELECT l_orderkey AS okey,
               l_partkey % 256 AS px,
               l_suppkey % 256 AS sx,
               l_quantity AS qty,
               l_extendedprice AS price
        FROM lineitem
        WHERE l_partkey % 256 BETWEEN 64 AND 191
          AND l_suppkey % 256 BETWEEN 2 AND 59
          AND CAST(l_orderkey AS VARCHAR) IN (${q100Keys.map("'" + _ + "'").mkString(", ")})
        ORDER BY 1, 2, 3, 4, 5
      """)),

    // ----------------------------------------------------------------
    // q105: q85's late-data-wins replay on ONE MorTable with the rollup
    // deferred to a VIEW over the final snapshot: an upsert appends one
    // O(batch) delta and never rereads or rewrites stored data, and the
    // merge moves to the read side — the final snapshot folds base +
    // live deltas last-write-wins, and the compaction policy's fold of
    // batches 0-1 before batch 2 proves later deltas still outrank a
    // folded base. q85 maintains the rollup per batch instead;
    // identical oracle, so one green row certifies LWW fold order,
    // delta/base covering rules, and compaction end-to-end under the
    // oracle hash gate.
    Q(
      "q105_mor_rollup_replay",
      (s, dir) => {
        val out = Q.fresh(s, "q105_mor", dir)
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val mor = replayTable(out, batches.head.schema)
        batches.zipWithIndex.foreach { case (batch, b) =>
          mor.compactBefore(s, b, maxDeltas = 1)
          mor.upsert(batch, b)
        }
        base.unpersist(false)
        mor.snapshot(s)
          .groupBy(
            col("coin_id"),
            year(col("fetch_date")).as("year"),
            month(col("fetch_date")).as("month"))
          .agg(
            min(col("price_usd")).as("min_price_usd"),
            max(col("price_usd")).as("max_price_usd"))
          .orderBy("coin_id", "year", "month")
      },
      Some(rollupReplayOracleSql)),

    // ----------------------------------------------------------------
    // q106: MorTable's tombstone deletes + time travel under the hash
    // gate. Same 4-window upsert replay as q105, then TWO reads the
    // oracle must model independently: (a) 'asof2' — the rollup over
    // snapshotAsOf(batch 2), i.e. batch 3's [2000-01] window not yet
    // applied (2000 carries b2's correction, 2001 absent) — taken
    // BEFORE compaction, which truncates that history; (b) 'current' —
    // after batch 4 DELETES every 1997 daily key (tombstones) and a
    // compact makes the deletion physical, the full rollup minus 1997.
    // A wrong LWW order, a tombstone that leaks into either view, an
    // as-of bound off by one batch, or a compaction that resurrects or
    // over-deletes history each flips the hash. Both views come off
    // the SAME store instance the replay wrote — this is the
    // GDPR-delete + reproducible-snapshot read path, end-to-end.
    // q105 gates the replay itself (LWW order, covering, mid-replay
    // compaction); q106 gates deletes and time travel on top of it.
    Q(
      "q106_mor_delete_time_travel",
      (s, dir) => {
        val out = Q.fresh(s, "q106_mor", dir)
        // the 1997 delete keys below are the grouped frame filtered:
        // its keys ARE the group keys
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val mor = replayTable(out, batches.head.schema)
        batches.zipWithIndex.foreach { case (batch, b) => mor.upsert(batch, b) }
        def rollup(snap: org.apache.spark.sql.DataFrame, view: String) = snap
          .groupBy(
            col("coin_id"),
            year(col("fetch_date")).as("year"),
            month(col("fetch_date")).as("month"))
          .agg(
            min(col("price_usd")).as("min_price_usd"),
            max(col("price_usd")).as("max_price_usd"))
          .withColumn("vw", lit(view))
        // time travel BEFORE compaction truncates the history
        val asof = rollup(mor.snapshotAsOf(s, 2), "asof2")
          .localCheckpoint()
        mor.delete(
          base.where(year(col("fetch_date")) === 1997)
            .select("coin_id", "fetch_date"),
          4)
        base.unpersist(false)
        mor.compact(s)
        rollup(mor.snapshot(s), "current")
          .unionByName(asof)
          .orderBy("vw", "coin_id", "year", "month")
      },
      Some("""
        WITH g AS (
          SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
                 o_orderdate AS fetch_date,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS base
          FROM orders
          GROUP BY 1, 2, 3),
        cur AS (
          SELECT coin_id, yr,
                 CAST(EXTRACT(MONTH FROM fetch_date) AS INT) AS month,
                 MIN(base + CAST(0.01 AS DOUBLE) *
                     (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1
                              WHEN 1998 THEN 2 WHEN 1999 THEN 2 ELSE 3 END)) AS mn,
                 MAX(base + CAST(0.01 AS DOUBLE) *
                     (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1
                              WHEN 1998 THEN 2 WHEN 1999 THEN 2 ELSE 3 END)) AS mx
          FROM g WHERE yr != 1997
          GROUP BY 1, 2, 3),
        av AS (
          SELECT coin_id, yr,
                 CAST(EXTRACT(MONTH FROM fetch_date) AS INT) AS month,
                 MIN(base + CAST(0.01 AS DOUBLE) *
                     (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                              ELSE 2 END)) AS mn,
                 MAX(base + CAST(0.01 AS DOUBLE) *
                     (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                              ELSE 2 END)) AS mx
          FROM g WHERE yr <= 2000
          GROUP BY 1, 2, 3)
        SELECT coin_id, yr AS year, month, mn AS min_price_usd,
               mx AS max_price_usd, 'current' AS vw FROM cur
        UNION ALL
        SELECT coin_id, yr AS year, month, mn AS min_price_usd,
               mx AS max_price_usd, 'asof2' AS vw FROM av
        ORDER BY vw, coin_id, year, month
      """)),

    // ----------------------------------------------------------------
    // q107: bucket-pruned MOR point lookup — the read path that makes
    // an LSM table usable as a serving store: probe keys hash to their
    // gbuckets, ONLY those bucket dirs of the live base+deltas are
    // read (1-2 of 16 at sf0.01 — the probe is o_custkey % 997 = 3, a
    // scale-invariant sparse id set), the LWW fold runs over that
    // pruned slice, and an inner join restricts to the probe. Gates
    // lookup()'s whole contract: pruning must not lose any covering
    // delta for a probed key (a bucket function inconsistency between
    // write and read would silently drop updates — the hash catches
    // it), and fold order must still pick each key's LAST covering
    // batch. Completes MorTable's read-API gate coverage: snapshot
    // (q105), as-of + deletes (q106), point lookup (q107).
    Q(
      "q107_mor_point_lookup",
      (s, dir) => {
        val out = Q.fresh(s, "q107_mor", dir)
        val orders = Tables.orders(s, dir)
        val (base, batches) = replayBatches(orders)
        val mor = replayTable(out, batches.head.schema)
        batches.zipWithIndex.foreach { case (batch, b) => mor.upsert(batch, b) }
        base.unpersist(false)
        val probe = orders
          .where(col("o_custkey") % 997 === 3)
          .select(
            col("o_custkey").cast("string").as("coin_id"),
            col("o_orderdate").as("fetch_date"))
        mor.lookup(s, probe)
          .orderBy("coin_id", "fetch_date")
      },
      Some("""
        SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
               o_orderdate AS fetch_date,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 + CAST(0.01 AS DOUBLE) *
                   (CASE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
                      WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                      WHEN 1998 THEN 2 WHEN 1999 THEN 2 ELSE 3 END) AS price_usd
        FROM orders
        WHERE o_custkey % 997 = 3
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q108: incremental table statistics — ANALYZE maintenance at
    // O(batch). A planner's column stats (min/max/nulls/rowcount; what
    // drives pruning, join sizing, and this engine's own table-stats
    // caches) must not cost a full-table rescan per ingest at 100 TB.
    // Four DISJOINT year batches each scan only their own rows, unpivot
    // the three profiled columns with ONE stack inside the scan's
    // codegen stage, and append a 3-row partial-profile delta; the
    // current profile is the fold (min of mins / max of maxes / summed
    // counts — all mergeable exactly, no sketches needed). The
    // compaction policy folds batches 0-2 into a base before batch 3.
    // Oracle = the ONE-SHOT profile over the whole table: maintenance
    // ≡ recompute, the view-maintenance theorem for statistics.
    Q(
      "q108_incremental_stats",
      (s, dir) => {
        val out = Q.fresh(s, "q108_stats", dir)
        val orders = Tables.orders(s, dir)
        val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
        val stats = graft.operators.IncrementalStats(
          graft.operators.DeltaStore(out + "/stats", 4))
        val windows = Seq((1995, 1996), (1997, 1998), (1999, 1999), (2000, 2001))
        windows.zipWithIndex.foreach { case ((y0, y1), b) =>
          stats.compactBefore(s, b, maxDeltas = 2)
          stats.appendBatch(
            orders.where(year(col("o_orderdate")).between(y0, y1)),
            cols, b)
        }
        stats.profile(s).orderBy("col_name")
      },
      Some("""
        SELECT 'o_custkey' AS col_name,
               MIN(CAST(o_custkey AS DOUBLE)) AS mn,
               MAX(CAST(o_custkey AS DOUBLE)) AS mx,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders
        UNION ALL
        SELECT 'o_orderkey',
               MIN(CAST(o_orderkey AS DOUBLE)), MAX(CAST(o_orderkey AS DOUBLE)),
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               MIN(CAST(o_totalprice AS DOUBLE)), MAX(CAST(o_totalprice AS DOUBLE)),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM orders
        ORDER BY col_name
      """)),

    // ----------------------------------------------------------------
    // q110: MOR change feed — the CDC READ side of the table-format
    // family (Delta's change-data-feed / Hudi's incremental query):
    // a downstream consumer follows the table between two batch ids
    // instead of diffing snapshots. Same 4-window upsert replay as
    // q105, then batch 4 tombstones every 1997 key; changes(1, 4)
    // must emit exactly the keys whose LWW state differs between
    // as-of 1 and as-of 4, labeled insert (1999-2001, new values) /
    // update (1998: b1's value superseded by b2's, new value) /
    // delete (1997, the OLD value — the preimage a downstream purge
    // needs), and NOTHING for 1995/1996 (untouched — the feed's cost
    // contract: work scales with the changed slice via gbucket
    // pruning + a touched-key semi-join, never the table). A wrong
    // LWW order, a leaked tombstone, an off-by-one bound, or a
    // preimage/postimage mixup each flips the hash.
    Q(
      "q110_mor_change_feed",
      (s, dir) => {
        val out = Q.fresh(s, "q110_mor", dir)
        // the 1997 delete keys below are the grouped frame filtered:
        // its keys ARE the group keys
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val mor = replayTable(out, batches.head.schema)
        batches.zipWithIndex.foreach { case (batch, b) => mor.upsert(batch, b) }
        mor.delete(
          base.where(year(col("fetch_date")) === 1997)
            .select("coin_id", "fetch_date"),
          4)
        base.unpersist(false)
        mor.changes(s, from = 1, to = 4)
          .orderBy("coin_id", "fetch_date")
      },
      Some("""
        WITH g AS (
          SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
                 o_orderdate AS fetch_date,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS base
          FROM orders
          GROUP BY 1, 2, 3)
        SELECT coin_id, fetch_date,
               CASE WHEN yr = 1997 THEN 'delete'
                    WHEN yr = 1998 THEN 'update'
                    ELSE 'insert' END AS op,
               base + CAST(0.01 AS DOUBLE) *
                 (CASE WHEN yr = 1997 THEN 1
                       WHEN yr IN (1998, 1999) THEN 2
                       ELSE 3 END) AS price_usd
        FROM g WHERE yr >= 1997
        ORDER BY coin_id, fetch_date
      """)),

    // ----------------------------------------------------------------
    // q111: bloom-sidecar point lookup — q107's serving read with the
    // SSTable-style per-delta key blooms on (bloomItems set), probed
    // with a key set that is mostly ABSENT from the table (the %1009
    // custkey slice of keys shifted out of range plus the %997 present
    // slice). Delta skipping is a pure read-amplification optimization
    // and must be INVISIBLE to results: a bloom that skipped a delta
    // still holding a probed key's latest version (or its tombstone)
    // would serve a stale row and flip the hash. Same oracle shape as
    // q107 — absent keys simply produce no rows in either engine.
    Q(
      "q111_mor_bloom_lookup",
      (s, dir) => {
        val out = Q.fresh(s, "q111_mor", dir)
        val orders = Tables.orders(s, dir)
        val (base, batches) = replayBatches(orders)
        val mor = replayTable(out, batches.head.schema,
          bloomItems = Some(200000L))
        batches.zipWithIndex.foreach { case (batch, b) => mor.upsert(batch, b) }
        base.unpersist(false)
        val present = orders.where(col("o_custkey") % 997 === 3)
        val probe = present
          .select(
            col("o_custkey").cast("string").as("coin_id"),
            col("o_orderdate").as("fetch_date"))
          .unionByName(present.select(
            // shifted out of the key space: absent by construction
            concat(lit("zz"), col("o_custkey")).as("coin_id"),
            col("o_orderdate").as("fetch_date")))
        mor.lookup(s, probe)
          .orderBy("coin_id", "fetch_date")
      },
      Some("""
        SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
               o_orderdate AS fetch_date,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 + CAST(0.01 AS DOUBLE) *
                   (CASE CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
                      WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                      WHEN 1998 THEN 2 WHEN 1999 THEN 2 ELSE 3 END) AS price_usd
        FROM orders
        WHERE o_custkey % 997 = 3
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q112: incremental view maintenance from the change feed — the
    // consumer q110 exists for. A monthly (coin, year, month) SUM+COUNT
    // rollup is maintained by operators/IncrementalView purely from
    // MorTable.changes(b-1, b, preimage = true) after every batch:
    // insert/update_post add, delete/update_pre subtract (exact
    // decimal folds — order-independent), so the view NEVER re-reads
    // the base table after a batch lands and maintenance cost follows
    // the changed slice. Replay = q110's four upsert windows + the
    // 1997 tombstone batch; the oracle recomputes the rollup from the
    // final table state — maintenance ≡ recompute, the view-
    // maintenance theorem under the driver's hash gate (a missed
    // preimage, a mis-signed op, or a group that should have netted
    // to zero each flips it). 1997's groups vanish exactly because
    // their membership nets to zero.
    Q(
      "q112_incremental_view_from_feed",
      (s, dir) => {
        val out = Q.fresh(s, "q112_ivm", dir)
        val (base, batches) = replayBatches(Tables.orders(s, dir))
        val mor = replayTable(out, batches.head.schema)
        val view = monthView(out)
        // feed derivation is PIPELINED with later table commits: the
        // feed for batch b reads fixed as-of bounds (b-1, b), so a
        // later delta's presence is filtered out of both folds — batch
        // b+1 can commit while b's feed is still being applied, and
        // the view deltas land under their own batch ids (idempotent
        // replace). Await all applies before reading the view.
        def applyBatch(b: Int): scala.concurrent.Future[Unit] =
          scala.concurrent.Future(applyMonthFeed(s, mor, view, b))(
            scala.concurrent.ExecutionContext.global)
        val applies = batches.zipWithIndex.map { case (batch, b) =>
          mor.upsert(batch, b); applyBatch(b)
        }
        mor.delete(
          base.where(year(col("fetch_date")) === 1997)
            .select("coin_id", "fetch_date"),
          4)
        (applies :+ applyBatch(4)).foreach(f =>
          scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf))
        base.unpersist(false)
        monthViewReport(s, view)
      },
      Some("""
        WITH g AS (
          SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
                 o_orderdate AS fetch_date,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS base
          FROM orders
          GROUP BY 1, 2, 3)
        SELECT coin_id, yr,
               CAST(EXTRACT(MONTH FROM fetch_date) AS INT) AS mon,
               CAST(SUM(CAST(base + CAST(0.01 AS DOUBLE) *
                   (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1
                            WHEN 1998 THEN 2 WHEN 1999 THEN 2
                            ELSE 3 END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g WHERE yr != 1997
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
      """)),

    // ----------------------------------------------------------------
    // q115: the STREAMING CDC -> view composition under the hash gate —
    // q112's upsert -> changes -> applyFeed loop driven by Structured
    // Streaming instead of explicit batch calls: four landing drops
    // drain as per-file micro-batches through a checkpointed
    // AvailableNow foreachBatch sink across TWO query runs on the SAME
    // checkpoint (the kill-and-resume shape; per-run startup is fixed
    // cost, so it is paid twice, not per drop), each micro-batch
    // upserts the MOR table and pipelines the just-committed horizon's
    // preimage feed into the view store, all keyed by the streaming
    // batch id (exactly-once: every stage replaces its own delta on
    // replay). Overlapping year windows force real updates, so the
    // feed's update_pre subtraction is load-bearing. The oracle
    // recomputes the rollup from the final LWW table state (last
    // covering window wins per year): feed-maintained ≡ recomputed,
    // end-to-end through the streaming machinery. Input is the
    // o_custkey % 5 slice to keep bench cost proportionate — the
    // composition, not the volume, is what this entry gates.
    Q(
      "q115_stream_cdc_view",
      (s, dir) => {
        val out = Q.fresh(s, "q115_scdc", dir)
        val (base, batches) = replayBatches(Tables.orders(s, dir).where(col("o_custkey") % 5 === 0))
        val schema = batches.head.schema
        val mor = replayTable(out, schema)
        val view = monthView(out)
        // the view apply is PIPELINED off the upsert chain (the q112 /
        // q103 replay-pipelining move): the feed for batch b reads the
        // FIXED as-of bounds (b-1, b), so batch b+1's upsert can commit
        // while b's feed is still being applied — every view delta is
        // keyed by its batch id and replaces itself on replay, so the
        // overlap changes no bytes. Awaited before the view is read.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val applies = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
        def fold(b: org.apache.spark.sql.DataFrame, bid: Int): Unit = {
          mor.upsert(b.dropDuplicates("coin_id", "fetch_date"), bid)
          applies += Future(applyMonthFeed(s, mor, view, bid))
        }
        // drop with a PINNED, strictly-increasing mtime: the file
        // source orders ties by (timestamp, path) and part-file names
        // are random uuids, so explicit stamps make the drop -> batch-id
        // mapping deterministic rather than clock-granularity-lucky
        def drop(b: Int): Unit = {
          batches(b).coalesce(1)
            .write.mode("append").parquet(s"$out/in")
          Option(new java.io.File(s"$out/in").listFiles()).toSeq.flatten
            .filter(f => f.getName.endsWith(".parquet") &&
              f.lastModified() > (b + 1) * 60000L)
            .foreach { f =>
              // a silently-failed stamp would revert the drop -> batch-id
              // mapping to clock-granularity ordering — fail loudly
              if (!f.setLastModified((b + 1) * 60000L) ||
                  f.lastModified() != (b + 1) * 60000L)
                throw new IllegalStateException(
                  s"q115: cannot pin mtime of $f — batch-id ordering " +
                    "would be nondeterministic on this filesystem")
            }
        }
        // TWO drains over four drops, so the fixed per-run startup is
        // paid twice, not per drop; per-drop micro-batches: each landed
        // file is one complete ingest unit and must keep its OWN batch
        // id (prices and the LWW winner depend on it)
        drop(0)
        graft.streaming.Replay.drain(s, out, schema, perFile = true)(fold)
        (1 to 3).foreach(drop)
        graft.streaming.Replay.drain(s, out, schema, perFile = true)(fold)
        applies.foreach(Await.result(_,
          scala.concurrent.duration.Duration.Inf))
        base.unpersist(false)
        monthViewReport(s, view)
      },
      Some("""
        WITH g AS (
          SELECT CAST(o_custkey AS VARCHAR) AS coin_id,
                 o_orderdate AS fetch_date,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
                 CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS base
          FROM orders WHERE o_custkey % 5 = 0
          GROUP BY 1, 2, 3)
        SELECT coin_id, yr,
               CAST(EXTRACT(MONTH FROM fetch_date) AS INT) AS mon,
               CAST(SUM(CAST(base + CAST(0.01 AS DOUBLE) *
                   (CASE yr WHEN 1995 THEN 0 WHEN 1996 THEN 1 WHEN 1997 THEN 1
                            WHEN 1998 THEN 2 WHEN 1999 THEN 2
                            ELSE 3 END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
      """)),

    // ----------------------------------------------------------------
    // q145: STREAMING exact dedup under the gate — the batch hash-dedup
    // family (q32) deployed as a continuous pipeline:
    // dropDuplicatesWithinWatermark keyed on event_id, state bounded by
    // the event-time watermark (the property that makes streaming dedup
    // survivable on an unbounded stream — plain dropDuplicates keeps
    // every key forever). The input is the event table plus a second
    // copy of every third event, written as SEPARATE file groups so
    // duplicates arrive in DIFFERENT micro-batches (maxFilesPerTrigger)
    // and the dedup state must carry across batches; the watermark
    // delay exceeds the corpus' full time span, so no fingerprint
    // expires and the streamed output must equal batch DISTINCT —
    // which is exactly what the oracle asserts. StreamDedupSpec pins
    // the OTHER half of the contract (state expiry ⇒ re-emit) that the
    // gate's equality check can't see.
    Q(
      "q145_stream_dedup_replay",
      (s, dir) => {
        val out = Q.fresh(s, "q145_sdedup", dir)
        val ev = Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        ev.repartition(3).write.parquet(s"$out/in")
        ev.where(col("event_id") % 3 === 0)
          .repartition(2).write.mode("append").parquet(s"$out/in")
        // event-time watermarks require TIMESTAMP (not NTZ): derive a
        // watermark-only column and drop it at the sink — the stored ts
        // stays NTZ micros, matching what the oracle reads
        val deduped = graft.streaming.StreamDedup.withinWatermark(
          s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "2").parquet(s"$out/in")
            .withColumn("wmts", col("ts").cast("timestamp")),
          "wmts", "3650 days", Seq("event_id"))
        graft.streaming.Replay.run(out, deduped) { (b, id) =>
          graft.streaming.Replay.writeBatch(b.drop("wmts"), s"$out/deduped", id)
        }
        s.read.parquet(s"$out/deduped")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, ts, user_id, event_type, value
        FROM events ORDER BY event_id
      """)),

    // ----------------------------------------------------------------
    // q162: deterministic NEGATIVE SAMPLING for contrastive training —
    // every document draws K=4 negatives uniformly from the rest of
    // the corpus, reproducibly (no rand(): a task retry must draw the
    // identical negatives) and WITHOUT self-pairs. The construction:
    //   1. a dense 1-based global row id via q77's two-phase form
    //      (per-source local ranks + broadcast source offsets — never
    //      a single-partition global window);
    //   2. per (doc, j) an MLCG draw h = (a_j·doc_id + b_j) mod 2^31−1
    //      (q44's hash family — integer arithmetic both engines
    //      evaluate identically), folded to [1, n−1];
    //   3. the classic self-exclusion shift: cand >= own row → +1,
    //      a bijection onto [1, n] \ {own row};
    //   4. one equi-join back to the row index to resolve the
    //      negative's doc_id.
    // Scale shape: K·n output rows, one broadcast (source offsets +
    // the 1-row count), one hash join keyed on the sampled row id —
    // everything linear; per-j seeds keep draws independent. a·doc_id
    // stays far inside int64 for any realistic corpus (a ~ 1e6).
    Q(
      "q162_negative_sampling",
      (s, dir) => {
        val p = 2147483647L // 2^31 − 1
        val seeds = Seq((1, 1000003L, 12345L), (2, 999983L, 54321L),
          (3, 1000033L, 98765L), (4, 1000037L, 24680L))
        val docs = Tables.documents(s, dir)
        val local = Window.partitionBy("source").orderBy("doc_id")
        val offsetW = Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, -1)
        val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
          .withColumn("offset",
            coalesce(sum(col("cnt")).over(offsetW), lit(0L)))
          .select("source", "offset")
        val idx = docs
          .withColumn("local_rank", row_number().over(local))
          .join(broadcast(counts), Seq("source"))
          .select(col("doc_id"),
            (col("offset") + col("local_rank")).cast(LongType).as("gr"))
        val n = docs.agg(count(lit(1)).as("n"))
        val draws = idx.crossJoin(broadcast(n))
          .select(col("doc_id"), col("gr"), col("n"),
            explode(array(seeds.map { case (j, a, b) =>
              struct(lit(j).as("j"),
                (pmod(pmod(lit(a) * col("doc_id") + lit(b), lit(p)),
                  col("n") - 1) + 1).as("cand"))
            }: _*)).as("d"))
          .select(col("doc_id"), col("gr"),
            col("d.j").as("j"),
            when(col("d.cand") >= col("gr"), col("d.cand") + 1)
              .otherwise(col("d.cand")).as("neg_gr"))
        draws
          .join(idx.select(col("gr").as("neg_gr"),
            col("doc_id").as("neg_doc_id")), Seq("neg_gr"))
          .select(col("doc_id"), col("j"), col("neg_doc_id"))
          .orderBy("doc_id", "j")
      },
      Some("""
        WITH idx AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) AS BIGINT)
                   AS gr
          FROM documents
        ), nn AS (
          SELECT COUNT(*) AS n FROM documents
        ), draws AS (
          SELECT i.doc_id, i.gr, s.j,
            CASE WHEN ((s.a * i.doc_id + s.b) % 2147483647) % (nn.n - 1) + 1
                      >= i.gr
                 THEN ((s.a * i.doc_id + s.b) % 2147483647) % (nn.n - 1) + 2
                 ELSE ((s.a * i.doc_id + s.b) % 2147483647) % (nn.n - 1) + 1
            END AS neg_gr
          FROM idx i
          CROSS JOIN nn
          CROSS JOIN (VALUES (1, 1000003, 12345), (2, 999983, 54321),
                             (3, 1000033, 98765), (4, 1000037, 24680))
            AS s(j, a, b)
        )
        SELECT d.doc_id, d.j, i2.doc_id AS neg_doc_id
        FROM draws d JOIN idx i2 ON i2.gr = d.neg_gr
        ORDER BY d.doc_id, d.j
      """)),

    // ----------------------------------------------------------------
    // q165: benchmark contamination SCORE — per training document, the
    // fraction of its DISTINCT trigrams found anywhere in the eval set
    // (the GPT-3-appendix-style n-gram containment metric; q68 reports
    // pairwise hits, this is the per-doc keep/drop score a decon pass
    // actually thresholds on). Scale shape: the eval trigram vocabulary
    // is benchmark-sized, not corpus-sized — broadcast — so the probe
    // is a map-side left join + one keyed count per doc; the only big
    // shuffle is the per-doc trigram DISTINCT, keyed on (doc, tri).
    // The fraction is one fixed-order IEEE division on exact integers,
    // quantized at 1e6 (the registry's float-gate discipline).
    Q(
      "q165_contamination_score",
      (s, dir) => {
        val tris = Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
        val evalTris = tris.where(col("doc_id") % 97 === 0)
          .select("tri").distinct().withColumn("hit", lit(1L))
        tris.where(col("doc_id") % 97 =!= 0)
          .join(broadcast(evalTris), Seq("tri"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tris"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("contamination_q",
            floor(col("n_hits").cast("double") / col("n_tris").cast("double")
              * lit(1000000.0) + lit(0.5)).cast("bigint"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri FROM t),
        ev AS (
          SELECT DISTINCT tri FROM e0 WHERE doc_id % 97 = 0),
        scored AS (
          SELECT e0.doc_id,
                 COUNT(*) AS n_tris,
                 SUM(CASE WHEN ev.tri IS NULL THEN 0 ELSE 1 END) AS n_hits
          FROM e0 LEFT JOIN ev ON e0.tri = ev.tri
          WHERE e0.doc_id % 97 <> 0
          GROUP BY e0.doc_id)
        SELECT doc_id, n_tris, CAST(n_hits AS BIGINT) AS n_hits,
               CAST(FLOOR(CAST(n_hits AS DOUBLE) / CAST(n_tris AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT) AS contamination_q
        FROM scored ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q166: fractional EPOCH UPSAMPLING materialization — q90 picks a
    // per-source KEEP rate (downsampling); this materializes the dual:
    // a per-source repeat factor w (epochs, e.g. 2.5) expands every doc
    // into floor(w) copies plus one more iff its md5 bucket draw falls
    // under frac(w)·10000 — q90's exact draw, so down- and up-sampling
    // passes agree on which docs are "lucky". Deterministic (a task
    // retry emits identical copies — no rand()), output-linear (Σ n·w
    // rows via explode(sequence), no join at all: the rates table is a
    // broadcast), and the copy index rides along so a packing stage
    // downstream can shuffle copies independently.
    Q(
      "q166_epoch_upsampling",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_tok", size(expr(toksExpr)).cast("long"))
        // target: equalize source token mass toward the largest source —
        // w = t_max / t_src capped at 4 epochs, in 1e4 fixed-point
        val rates = docs.groupBy("source")
          .agg(sum(col("n_tok")).as("t_tokens"))
          .withColumn("t_max", max(col("t_tokens")).over(Window.partitionBy()))
          .withColumn("w4",
            least(lit(40000L),
              floor(lit(10000.0) * col("t_max").cast("double")
                / col("t_tokens").cast("double") + lit(0.5)).cast("long")))
          .select("source", "w4")
        val bucket = expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 10000")
        docs.join(broadcast(rates), Seq("source"))
          .withColumn("n_copies",
            expr("w4 div 10000") +
              when(bucket < col("w4") % 10000L, 1L).otherwise(0L))
          .where(col("n_copies") > 0)
          .select(col("doc_id"), col("source"), col("n_copies"),
            explode(expr("sequence(1, n_copies)")).as("copy_idx"))
          .orderBy("doc_id", "copy_idx")
      },
      Some(s"""
        WITH d AS (
          SELECT source, doc_id,
                 CAST(LEN($toksSql) AS BIGINT) AS n_tok
          FROM documents),
        r AS (
          SELECT source,
                 LEAST(40000,
                   CAST(FLOOR(10000.0 *
                     CAST(MAX(SUM(n_tok)) OVER () AS DOUBLE)
                     / CAST(SUM(n_tok) AS DOUBLE) + 0.5) AS BIGINT)) AS w4
          FROM d GROUP BY source),
        c AS (
          SELECT d.doc_id, d.source,
                 (r.w4 // 10000) + (CASE WHEN
                   CAST('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 10000 < r.w4 % 10000
                   THEN 1 ELSE 0 END) AS n_copies
          FROM d JOIN r ON d.source = r.source)
        SELECT doc_id, source, n_copies, CAST(UNNEST(GENERATE_SERIES(1, n_copies)) AS BIGINT) AS copy_idx
        FROM c WHERE n_copies > 0
        ORDER BY doc_id, copy_idx
      """)),

    // ----------------------------------------------------------------
    // q167: CURRICULUM buckets from an EXACT global sort-rank, without
    // a global window — the scale-killer spelling is ROW_NUMBER() OVER
    // (ORDER BY score): one task sees the corpus. Here the global rank
    // is assembled from (1) a range repartition on the (score, doc_id)
    // total order, (2) sortWithinPartitions + monotonically_increasing_id,
    // whose upper bits ARE the range-partition id and lower bits the
    // 0-based in-partition position (zero extra exchange for the local
    // rank), and (3) per-partition counts (≤ #partitions rows — pure
    // metadata) cumulated in a tiny window and broadcast back. AQE may
    // coalesce range partitions; adjacency-preserving merges keep the
    // partition-id order aligned with the score order, so offset +
    // local position is the exact global rank regardless of where the
    // sampled boundaries fell. Buckets are then integer arithmetic:
    // bucket = (rank-1)·K/n — pandas qcut's equal-count binning, exact.
    Q(
      "q167_curriculum_buckets",
      (s, dir) => {
        val k = 8
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars").as("score"))
        // explicit partition count → REPARTITION_BY_NUM shuffle origin,
        // which AQE never re-coalesces: BOTH consumers of the reused
        // range exchange (the rank branch and the count branch) see the
        // identical pid layout, so offsets line up by construction
        val parted = scored
          .repartitionByRange(s.conf.get("spark.sql.shuffle.partitions").toInt,
            col("score"), col("doc_id"))
          .sortWithinPartitions("score", "doc_id")
          .withColumn("mid", monotonically_increasing_id())
          .withColumn("pid", shiftright(col("mid"), 33))
          .withColumn("lpos", col("mid").bitwiseAND(lit((1L << 33) - 1)))
        val offsets = parted.groupBy("pid").agg(count(lit(1)).as("cnt"))
          .withColumn("offset",
            coalesce(sum(col("cnt")).over(Window.orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("pid", "offset")
        val n = scored.agg(count(lit(1)).as("n"))
        parted.join(broadcast(offsets), Seq("pid"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("score"),
            (col("offset") + col("lpos") + 1L).as("global_rank"),
            expr(s"cast(((offset + lpos) * $k) div n as int)").as("bucket"))
          .orderBy("doc_id")
      },
      Some("""
        WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        ranked AS (
          SELECT doc_id, n_chars AS score,
                 CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS global_rank
          FROM documents)
        SELECT doc_id, score, global_rank,
               CAST((global_rank - 1) * 8 // nn.n AS INT) AS bucket
        FROM ranked, nn
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q170: STREAMING decontamination gate ACROSS A CHECKPOINT RESUME —
    // q165's containment score deployed at the INGESTION edge, where a
    // production pipeline actually runs it (score once on arrival, not
    // over the accumulated corpus every time). The benchmark trigram
    // vocabulary is STATIC and broadcast into every micro-batch; the
    // per-doc score is row-local given that broadcast (a doc's
    // trigrams never leave its batch), so the union of per-batch kept
    // sets equals the one-shot batch gate — which is why this entry is
    // held to q165's oracle WITH the keep threshold applied, verbatim
    // semantics. The input lands in TWO waves and the stream STARTS
    // TWICE on one checkpoint: a re-processed wave would double rows
    // and fail the gate, so the resume path itself is under the oracle
    // (the q152 protocol). Docs at or above 5% containment are dropped.
    Q(
      "q170_stream_decontamination",
      (s, dir) => {
        val out = Q.fresh(s, "q170_streamdecon", dir)
        val docs = Tables.documents(s, dir)
        val evalTris = docs.where(col("doc_id") % 97 === 0)
          .withColumn("toks", expr(toksExpr))
          .select(explode(expr(trisExpr)).as("tri"))
          .distinct().withColumn("hit", lit(1L))
        val train = docs.where(col("doc_id") % 97 =!= 0)
          .select("doc_id", "text")
        graft.streaming.Replay.stream(s, out,
            Seq(train.where(col("doc_id") % 2 === 0),
              train.where(col("doc_id") % 2 === 1)),
            parts = 2, perFile = true) { (b, id) =>
          graft.streaming.Replay.writeBatch(b.withColumn("toks", expr(toksExpr))
            .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
            .join(broadcast(evalTris), Seq("tri"), "left")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_tris"),
              sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
            .withColumn("contamination_q",
              floor(col("n_hits").cast("double") / col("n_tris").cast("double")
                * lit(1000000.0) + lit(0.5)).cast("bigint"))
            .where(col("contamination_q") < 50000), s"$out/kept", id)
        }
        s.read.parquet(s"$out/kept")
          .select("doc_id", "n_tris", "n_hits", "contamination_q")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri FROM t),
        ev AS (
          SELECT DISTINCT tri FROM e0 WHERE doc_id % 97 = 0),
        scored AS (
          SELECT e0.doc_id,
                 COUNT(*) AS n_tris,
                 SUM(CASE WHEN ev.tri IS NULL THEN 0 ELSE 1 END) AS n_hits
          FROM e0 LEFT JOIN ev ON e0.tri = ev.tri
          WHERE e0.doc_id % 97 <> 0
          GROUP BY e0.doc_id)
        SELECT doc_id, n_tris, CAST(n_hits AS BIGINT) AS n_hits,
               CAST(FLOOR(CAST(n_hits AS DOUBLE) / CAST(n_tris AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT) AS contamination_q
        FROM scored
        WHERE CAST(FLOOR(CAST(n_hits AS DOUBLE) / CAST(n_tris AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT) < 50000
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q172: the END-TO-END CURATION PIPELINE — the composition a user
    // of this engine actually ships: exact dedup (q32's keeper rule) →
    // per-source quality gate (q168's integer rank arithmetic, kept
    // top 70% here — a curation pass prunes the tail, not the body) →
    // benchmark decontamination (q165's containment < 5%), with a
    // per-source funnel report (docs surviving each stage + the final
    // token budget). Every stage's predicate is an already-gated
    // operator; the value of this entry is the COMPOSITION: stage
    // flags are computed per doc and folded in ONE final aggregate, so
    // the whole funnel costs the union of its stages' shuffles (md5
    // dedup groupBy, one keyed window, trigram explode + broadcast
    // probe) and never materializes an intermediate corpus.
    Q(
      "q172_curation_pipeline",
      (s, dir) => {
        import org.apache.spark.sql.types.DoubleType
        val stops = Seq("the", "a", "and", "of", "el", "la", "de", "y",
          "der", "die", "und", "das", "le", "et")
        val inList = stops.map(x => s"'$x'").mkString("(", ", ", ")")
        val docs = Tables.documents(s, dir).where(col("doc_id") % 97 =!= 0)
        // stage 1: exact dedup — keeper = lowest doc_id per content hash
        val keepers = docs.groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), lit(1).as("is_keeper"))
        // stage 2: q30's quality score over the KEEPER set, top 70% per source
        val nToks = expr(s"size($toksExpr)").cast(DoubleType)
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
          length(col("text"))
        val stopRatio = expr(s"size(filter($toksExpr, t -> t IN $inList))")
          .cast(DoubleType) / nToks
        val awl = length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) / nToks
        val scoreQ = floor((lit(0.4) * alpha +
          lit(0.3) * (lit(1.0) - abs(awl - lit(5.0)) / lit(10.0)) +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0))) * lit(1e9) + lit(0.5))
          .cast("bigint")
        val w = Window.partitionBy("source")
          .orderBy(col("score_q").desc, col("doc_id").asc)
        val quality = docs.join(keepers.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("source"), scoreQ.as("score_q"))
          .withColumn("src_rank", row_number().over(w))
          .withColumn("n_src", count(lit(1)).over(
            Window.partitionBy("source").orderBy(col("score_q").desc, col("doc_id").asc)
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("doc_id"),
            (col("src_rank") * 10 <= col("n_src") * 7).cast("int").as("passes_quality"))
        // stage 3: decontamination vs the eval benchmark (q165's rule)
        val evalTris = Tables.documents(s, dir).where(col("doc_id") % 97 === 0)
          .withColumn("toks", expr(toksExpr))
          .select(explode(expr(trisExpr)).as("tri"))
          .distinct().withColumn("hit", lit(1L))
        val decon = docs
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
          .join(broadcast(evalTris), Seq("tri"), "left")
          .groupBy("doc_id")
          .agg((floor(sum(coalesce(col("hit"), lit(0L))).cast(DoubleType)
            / count(lit(1)).cast(DoubleType) * lit(1000000.0) + lit(0.5))
            .cast("bigint") < 50000).cast("int").as("passes_decon"))
        // the funnel: flags folded in ONE aggregate per source
        docs.select(col("doc_id"), col("source"),
            expr(s"size($toksExpr)").cast("long").as("n_tok"))
          .join(keepers, Seq("doc_id"), "left")
          .join(quality, Seq("doc_id"), "left")
          .join(decon, Seq("doc_id"), "left")
          .select(col("source"), col("n_tok"),
            coalesce(col("is_keeper"), lit(0)).as("s1"),
            coalesce(col("passes_quality"), lit(0)).as("s2"),
            coalesce(col("passes_decon"), lit(1)).as("s3"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("s1").cast("long")).as("n_dedup"),
            sum((col("s1") * col("s2")).cast("long")).as("n_quality"),
            sum((col("s1") * col("s2") * col("s3")).cast("long")).as("n_kept"),
            sum((col("s1") * col("s2") * col("s3")).cast("long") * col("n_tok"))
              .as("kept_tokens"))
          .orderBy("source")
      },
      Some(s"""
        WITH corpus AS (
          SELECT * FROM documents WHERE doc_id % 97 <> 0),
        keepers AS (
          SELECT MIN(doc_id) AS doc_id, 1 AS is_keeper
          FROM corpus GROUP BY MD5(text)),
        scored AS (
          SELECT c.doc_id, c.source,
                 CAST(FLOOR((
                   0.4 * (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))
                   + 0.3 * (1.0 - ABS((CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE)
                       / CAST(LEN($toksSql) AS DOUBLE)) - 5.0) / 10.0)
                   + 0.3 * LEAST((CAST(LEN(LIST_FILTER($toksSql,
                       t -> t IN ('the', 'a', 'and', 'of', 'el', 'la', 'de', 'y',
                                  'der', 'die', 'und', 'das', 'le', 'et'))) AS DOUBLE)
                       / CAST(LEN($toksSql) AS DOUBLE)) * 5.0, 1.0)
                 ) * 1e9 + 0.5) AS BIGINT) AS score_q
          FROM corpus c JOIN keepers k ON c.doc_id = k.doc_id),
        quality AS (
          SELECT doc_id,
                 CASE WHEN ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY score_q DESC, doc_id ASC) * 10
                      <= COUNT(*) OVER (PARTITION BY source) * 7
                      THEN 1 ELSE 0 END AS passes_quality
          FROM scored),
        t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri FROM t),
        ev AS (
          SELECT DISTINCT tri FROM e0 WHERE doc_id % 97 = 0),
        decon AS (
          SELECT e0.doc_id,
                 CASE WHEN CAST(FLOOR(
                     CAST(SUM(CASE WHEN ev.tri IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) < 50000
                   THEN 1 ELSE 0 END AS passes_decon
          FROM e0 LEFT JOIN ev ON e0.tri = ev.tri
          WHERE e0.doc_id % 97 <> 0
          GROUP BY e0.doc_id),
        flags AS (
          SELECT c.source,
                 CAST(LEN(STRING_SPLIT_REGEX(TRIM(c.text), ' +')) AS BIGINT) AS n_tok,
                 COALESCE(k.is_keeper, 0) AS s1,
                 COALESCE(q.passes_quality, 0) AS s2,
                 COALESCE(d.passes_decon, 1) AS s3
          FROM corpus c
          LEFT JOIN keepers k ON c.doc_id = k.doc_id
          LEFT JOIN quality q ON c.doc_id = q.doc_id
          LEFT JOIN decon d ON c.doc_id = d.doc_id)
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(s1) AS BIGINT) AS n_dedup,
               CAST(SUM(s1 * s2) AS BIGINT) AS n_quality,
               CAST(SUM(s1 * s2 * s3) AS BIGINT) AS n_kept,
               CAST(SUM(s1 * s2 * s3 * n_tok) AS BIGINT) AS kept_tokens
        FROM flags
        GROUP BY source ORDER BY source
      """)),

    // ----------------------------------------------------------------
    // q176: HIVE-PARTITIONED layout + PARTITION-PRUNED scan — the
    // storage-layout move every language-filtered corpus read depends
    // on: the corpus is written `partitionBy(lang)` (directory-encoded
    // partition values) and the per-language read must touch ONLY that
    // language's files — at 100 TB the difference between scanning
    // one language and scanning the corpus. The gate certifies the
    // round-trip values (write → pruned read → aggregate ≡ a plain
    // filtered aggregate over the original); LayoutSpec pins the PLAN
    // (PartitionFilters carries the lang predicate; the pruned scan
    // reads a strict subset of the partition directories).
    Q(
      "q176_partition_pruned_scan",
      (s, dir) => {
        val out = Q.fresh(s, "q176_part", dir)
        Tables.documents(s, dir)
          .write.partitionBy("lang").parquet(out)
        s.read.parquet(out)
          .where(col("lang") === "en")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE lang = 'en'
        GROUP BY source ORDER BY source
      """))
  )

  /** q100's point-lookup key set: literal orderkeys in [0, 1499], so
    * every key exists at every TESTDATA scale (orderkeys are dense from
    * 0 at all of them). Kept SMALL on purpose: each orderkey's ~4
    * lineitems land in ~4 of the 64 files, so the Bloom side admits a
    * sparse scattered file set and the intersection with the box is
    * strictly smaller than either index alone (measured at sf0.01:
    * 64 files total, box 24, keys 23, intersection 8 — PLANS.md). */
  private val q100Keys: Seq[String] = Seq(
    "3", "240", "618", "901", "1202", "1480")
}
