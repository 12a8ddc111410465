package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis suite over the `documents` table — the LLM-training-data
  * operators the driver's north star requires (SURVEY.md §7 phase H):
  * token statistics, language-ID heuristic, quality scoring, content
  * fingerprinting, exact dedup. All pure column algebra / higher-order
  * array functions — zero UDFs, fully codegen-friendly.
  *
  * Scale notes: these are embarrassingly parallel per-row maps except the
  * dedup groupBy (one shuffle on the fingerprint — at 100 TB that's the
  * canonical hash-dedup shuffle and is unavoidable by definition).
  */
object TextQueries {

  /** Tokenizer shared by all text queries: whitespace split after trim. */
  private val toksExpr = "split(trim(text), ' +')"
  private val toksSql = "STRING_SPLIT_REGEX(TRIM(text), ' +')"

  private def stop(lang: String): Seq[String] = lang match {
    case "en" => Seq("the", "a", "and", "of")
    case "es" => Seq("el", "la", "de", "y")
    case "de" => Seq("der", "die", "und", "das")
    case "fr" => Seq("le", "la", "et", "de")
    case "zh" => Seq("de", "le", "he", "shi")
    case _    => Seq()
  }
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** q169/q171's bigram OCCURRENCE stream: one row per adjacent token
    * pair, `bi` = "w1 w2" (tokens cannot contain spaces — the split is
    * on spaces — so the concat key is unambiguous), `w1` = the prefix. */
  private def docBigrams(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val bisExpr = "transform(sequence(1, size(toks) - 1), " +
      "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .where(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr(bisExpr)).as("bi"))
      .withColumn("w1", split(col("bi"), " ").getItem(0))
  }

  /** q169/q171's scoring tail: join the bigram stream to the model
    * counts, quantize each P(w2|w1) at 1e9, integer-sum per doc. */
  private def scoreFluency(docBi: org.apache.spark.sql.DataFrame,
                           biCounts: org.apache.spark.sql.DataFrame,
                           uniCounts: org.apache.spark.sql.DataFrame) =
    docBi
      .join(biCounts, Seq("bi"))
      .join(uniCounts, Seq("w1"))
      .withColumn("p_q",
        floor(col("c_bi").cast(DoubleType) / col("c_uni").cast(DoubleType)
          * lit(1e9) + lit(0.5)).cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_q")).as("sum_p_q"))
      .withColumn("fluency_q", expr("sum_p_q div n_bigrams"))
      .orderBy("doc_id")

  val defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q28: token counting — whitespace tokens, distinct tokens, average
    // token length (BPE-ish regex tokenization per the north star; the
    // reference's only "text ops" are plot-label string mangling, so this
    // is engine-added surface).
    Q(
      "q28_token_counts",
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .select(
            col("doc_id"),
            length(col("text")).as("n_chars_actual"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_distinct_tokens"),
            (length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) /
              size(col("toks"))).as("avg_token_len"))
      },
      Some(s"""
        SELECT doc_id,
               CAST(LENGTH(text) AS INT) AS n_chars_actual,
               CAST(LEN($toksSql) AS INT) AS n_tokens,
               CAST(LEN(LIST_DISTINCT($toksSql)) AS INT) AS n_distinct_tokens,
               CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE)
                 / LEN($toksSql) AS avg_token_len
        FROM documents
      """)),

    // ----------------------------------------------------------------
    // q94: BPE-ish regex tokenization — the GPT-2 pretokenizer pattern
    // restricted to its RE2-safe subset (contraction suffixes, optional-
    // leading-space letter runs, digit runs, symbol runs; the original's
    // \s+(?!\S) lookahead is dropped because RE2 in DuckDB has no
    // lookahead and cross-engine identity matters more than trailing-
    // whitespace tokens). The md5 over the CHR(1)-joined token list
    // proves both engines produce the IDENTICAL token sequence, not just
    // the same count — the property a tokenizer-parity check actually
    // needs. Per-row projection, zero shuffles (q82's regex family
    // rules: group 0 explicit everywhere).
    Q(
      "q94_bpe_regex_tokens",
      (s, dir) => {
        val re = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
        val toks = regexp_extract_all(col("text"), lit(re), lit(0))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(expr(toksExpr)).as("n_ws_tokens"),
            size(toks).as("n_bpe_tokens"),
            size(array_distinct(toks)).as("n_bpe_distinct"),
            md5(concat_ws("\u0001", toks)).as("bpe_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
               CAST(LEN($toksSql) AS INT) AS n_ws_tokens,
               CAST(LEN(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0))
                 AS INT) AS n_bpe_tokens,
               CAST(LEN(LIST_DISTINCT(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0)))
                 AS INT) AS n_bpe_distinct,
               MD5(ARRAY_TO_STRING(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0),
                 CHR(1))) AS bpe_md5
        FROM documents
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q29: language-ID via stopword-set scoring — n-gram-heuristic
    // classifier shape: per-language marker hits over the token list,
    // argmax with a fixed tie order.
    Q(
      "q29_language_id",
      (s, dir) => {
        def score(lang: String) =
          expr(s"size(filter($toksExpr, t -> t IN ${inList(stop(lang))}))")
        val (en, es, de, fr, zh) = (score("en"), score("es"), score("de"), score("fr"), score("zh"))
        Tables.documents(s, dir).select(
          col("doc_id"), col("lang").as("labeled_lang"),
          en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"), zh.as("s_zh"),
          when(en >= es && en >= de && en >= fr && en >= zh, "en")
            .when(es >= de && es >= fr && es >= zh, "es")
            .when(de >= fr && de >= zh, "de")
            .when(fr >= zh, "fr")
            .otherwise("zh").as("predicted_lang"))
      },
      Some {
        def sc(lang: String, xs: Seq[String]) =
          s"CAST(LEN(LIST_FILTER($toksSql, t -> t IN ${inList(xs)})) AS INT)"
        val (en, es, de, fr, zh) =
          (sc("en", stop("en")), sc("es", stop("es")), sc("de", stop("de")),
            sc("fr", stop("fr")), sc("zh", stop("zh")))
        Some(s"""
        SELECT doc_id, lang AS labeled_lang,
               $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr, $zh AS s_zh,
               CASE WHEN $en >= $es AND $en >= $de AND $en >= $fr AND $en >= $zh THEN 'en'
                    WHEN $es >= $de AND $es >= $fr AND $es >= $zh THEN 'es'
                    WHEN $de >= $fr AND $de >= $zh THEN 'de'
                    WHEN $fr >= $zh THEN 'fr'
                    ELSE 'zh' END AS predicted_lang
        FROM documents
      """)
      }.get),

    // ----------------------------------------------------------------
    // q30: document quality scoring — alpha ratio, stopword ratio,
    // average word length band, composite score. Fixed-order double
    // arithmetic; regexp_replace is global in Spark, 'g'-flagged in the
    // oracle.
    Q(
      "q30_quality_score",
      (s, dir) => {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = expr(s"size($toksExpr)").cast(DoubleType)
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
          length(col("text"))
        val stopRatio = expr(s"size(filter($toksExpr, t -> t IN ${inList(allStops)}))")
          .cast(DoubleType) / nToks
        val awl = length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) / nToks
        val score = lit(0.4) * alpha +
          lit(0.3) * (lit(1.0) - abs(awl - lit(5.0)) / lit(10.0)) +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0))
        Tables.documents(s, dir).select(
          col("doc_id"), alpha.as("alpha_ratio"), stopRatio.as("stopword_ratio"),
          awl.as("avg_word_len"), score.as("quality_score"))
      },
      Some {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = s"CAST(LEN($toksSql) AS DOUBLE)"
        val alpha = s"(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))"
        val stopR = s"(CAST(LEN(LIST_FILTER($toksSql, t -> t IN ${inList(allStops)})) AS DOUBLE) / $nToks)"
        val awl = s"(CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE) / $nToks)"
        s"""
        SELECT doc_id,
               $alpha AS alpha_ratio,
               $stopR AS stopword_ratio,
               $awl AS avg_word_len,
               0.4 * $alpha + 0.3 * (1.0 - ABS($awl - 5.0) / 10.0)
                 + 0.3 * LEAST($stopR * 5.0, 1.0) AS quality_score
        FROM documents
      """
      }),

    // ----------------------------------------------------------------
    // q31: content fingerprinting — exact md5 plus an order-insensitive
    // bag fingerprint (sorted distinct tokens re-joined then hashed) and
    // a min-token-hash (1-seed minhash), the building block of the LSH
    // dedup family.
    Q(
      "q31_fingerprints",
      (s, dir) => {
        Tables.documents(s, dir).select(
          col("doc_id"),
          md5(col("text")).as("fp_exact"),
          md5(expr(s"array_join(array_sort(array_distinct($toksExpr)), ' ')")).as("fp_bag"),
          expr(s"array_min(transform($toksExpr, t -> md5(t)))").as("fp_minhash1"))
      },
      Some(s"""
        SELECT doc_id,
               MD5(text) AS fp_exact,
               MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT($toksSql)), ' ')) AS fp_bag,
               LIST_MIN(LIST_TRANSFORM($toksSql, t -> MD5(t))) AS fp_minhash1
        FROM documents
      """)),

    // ----------------------------------------------------------------
    // q32: exact deduplication — hash-groupBy on the content fingerprint,
    // keep the lowest doc_id per group (the canonical 100 TB exact-dedup
    // shuffle; north-star requirement).
    Q(
      "q32_exact_dedup",
      (s, dir) => {
        Tables.documents(s, dir)
          .groupBy(md5(col("text")).as("fp"))
          .agg(
            min(col("doc_id")).as("keeper_doc_id"),
            count(lit(1)).as("n_copies"))
          .orderBy("keeper_doc_id")
      },
      Some("""
        SELECT MD5(text) AS fp,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY 2
      """)),

    // ----------------------------------------------------------------
    // q60: term salience (tf-idf family, SURVEY §7-H) — per-document
    // top-3 terms by tf weighted against document frequency. The idf
    // factor is the RATIONAL surrogate 1/df rather than log(N/df):
    // log() is libm-dependent and not bit-identical across engines,
    // while tf/df is a single IEEE division on identical integers —
    // deterministic by construction, same ranking monotonicity in df.
    // Shuffle shape: tf groupBy on (doc, term), df groupBy on term
    // joined back on the term key, rank window per doc — all keyed,
    // nothing quadratic.
    Q(
      "q60_term_salience",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("salience").desc, col("term").asc)
        tf.join(df, Seq("term"))
          .withColumn("salience", col("tf").cast(DoubleType) / col("df"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"),
            col("df"), col("salience"))
          .orderBy("doc_id", "rank")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, UNNEST($toksSql) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
          SELECT term, COUNT(*) AS df
          FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
               CAST(tf AS DOUBLE) / df AS salience
        FROM (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 CAST(tf.tf AS DOUBLE) / df.df AS sal,
                 ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                    ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC,
                                             tf.term ASC) AS rank
          FROM tf JOIN df USING (term)
        ) WHERE rank <= 3
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q72: quality filter cascade — the curation step that consumes
    // q30's composite score: rank every document into per-language
    // deciles (ntile with a doc_id tiebreak for total order) and keep
    // the top four. Thresholding WITHIN the stratum rather than
    // globally is the point: a global score cutoff would empty the
    // low-resource languages. One Exchange on lang; the score itself
    // is per-row projection (q30's exact spelling, whose doubles are
    // proven hash-identical cross-engine).
    Q(
      "q72_quality_filter",
      (s, dir) => {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = expr(s"size($toksExpr)").cast(DoubleType)
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
          length(col("text"))
        val stopRatio = expr(s"size(filter($toksExpr, t -> t IN ${inList(allStops)}))")
          .cast(DoubleType) / nToks
        val awl = length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) / nToks
        val score = lit(0.4) * alpha +
          lit(0.3) * (lit(1.0) - abs(awl - lit(5.0)) / lit(10.0)) +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), score.as("quality_score"))
          .withColumn("decile", ntile(10).over(w))
          .where(col("decile") <= 4)
          .select(col("doc_id"), col("lang"), col("decile"), col("quality_score"))
          .orderBy("doc_id")
      },
      Some {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = s"CAST(LEN($toksSql) AS DOUBLE)"
        val alpha = s"(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))"
        val stopR = s"(CAST(LEN(LIST_FILTER($toksSql, t -> t IN ${inList(allStops)})) AS DOUBLE) / $nToks)"
        val awl = s"(CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE) / $nToks)"
        s"""
        WITH scored AS (
          SELECT doc_id, lang,
                 0.4 * $alpha + 0.3 * (1.0 - ABS($awl - 5.0) / 10.0)
                   + 0.3 * LEAST($stopR * 5.0, 1.0) AS quality_score
          FROM documents),
        ranked AS (
          SELECT doc_id, lang, quality_score,
                 CAST(NTILE(10) OVER (PARTITION BY lang
                   ORDER BY quality_score DESC, doc_id ASC) AS INT) AS decile
          FROM scored)
        SELECT doc_id, lang, decile, quality_score
        FROM ranked
        WHERE decile <= 4
        ORDER BY doc_id
      """
      }),

    // ----------------------------------------------------------------
    // q83: sliding-window token chunking — split every document into
    // overlapping 32-token windows with stride 24 (8-token overlap),
    // the pre-tokenization chunking pass of a context-length-bounded
    // training pipeline. Pure per-row generate+slice work: the explode
    // multiplies rows but never shuffles (the output orderBy is the
    // only exchange), so the pass is embarrassingly parallel at any
    // corpus size. Chunk content is pinned by md5 over the
    // space-joined window, so the oracle checks the exact token spans,
    // not just counts; last chunks are short (clamped slice), and a
    // doc shorter than one stride yields exactly one chunk.
    Q(
      "q83_token_chunking",
      (s, dir) => {
        Tables.documents(s, dir)
          .withColumn("toks", expr(toksExpr))
          .withColumn("chunk_idx",
            explode(expr("sequence(0, (size(toks) - 1) div 24)")))
          .select(
            col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
            expr("slice(toks, chunk_idx * 24 + 1, 32)").as("chunk"))
          .select(
            col("doc_id"), col("chunk_idx"),
            size(col("chunk")).as("chunk_len"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        c AS (
          SELECT doc_id, toks,
                 UNNEST(GENERATE_SERIES(0, CAST((LEN(toks) - 1) // 24 AS INT))) AS chunk_idx
          FROM t),
        w AS (
          SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                 toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32] AS chunk
          FROM c)
        SELECT doc_id, chunk_idx,
               CAST(LEN(chunk) AS INT) AS chunk_len,
               MD5(ARRAY_TO_STRING(chunk, ' ')) AS chunk_md5
        FROM w
        ORDER BY doc_id, chunk_idx
      """)),

    // ----------------------------------------------------------------
    // q143: BM25 document scoring — the IR-standard relevance function
    // over the documents table for a fixed 4-term query, with the
    // Lucene-style non-negative idf ln(1 + (N−df+0.5)/(df+0.5)), k1=1.2,
    // b=0.75. Per-doc term frequencies come from size(filter(toks,…))
    // projections (no explode, no shuffle for the tf side); the corpus
    // statistics (N, Σdl, per-term df) are ONE map-side aggregate row
    // broadcast back; the top-k plans as TakeOrderedAndProject
    // (per-partition heaps, one k-row merge) — so the whole query is
    // two scans and no data-sized shuffle (only the k=20 survivors
    // ever leave their partitions), the shape that survives a 100 TB
    // corpus.
    //
    // Determinism note: natural log is NOT bit-identical across
    // engines in general — Spark's `log` evaluates StrictMath.log
    // (fdlibm; verified in the shipped spark-catalyst bytecode) while
    // DuckDB's ln is platform libm, and the two differ by 1 ulp on a
    // measurable fraction of idf-shaped inputs (e.g. the term 'join'
    // at every TESTDATA scale). BM25 is gated anyway because idf
    // depends only on the FOUR (df, N) pairs of the fixed query, and
    // the chosen terms' pairs are verified StrictMath↔libm bit-equal
    // at all three TESTDATA scales; every other op in the score is a
    // single correctly-rounded IEEE step in mirrored order. A query
    // layer generalizing this would quantize the score (the q101
    // micro-unit precedent) rather than assume ln portability.
    //
    // Second portability trap pinned here: DuckDB parses `2.2` as
    // DECIMAL, so `tf * 2.2` is EXACT decimal 6.6 converted to double
    // once — a different operand than Spark's double-times-double
    // 6.6000000000000005. Every non-binary-exact literal that
    // multiplies an integer in the oracle is CAST(… AS DOUBLE) so both
    // engines run the identical IEEE op sequence (binary-exact
    // literals like 0.75/0.25/0.5 need no cast).
    Q(
      "q143_bm25_scoring",
      (s, dir) => {
        val terms = Seq("dup", "spark", "scan", "merge")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksExpr).as("toks"))
          .withColumn("dl", size(col("toks")))
        val withTf = terms.foldLeft(docs) { (df, t) =>
          df.withColumn(s"tf_$t", expr(s"size(filter(toks, x -> x = '$t'))"))
        }.drop("toks")
        val statAggs = sum(col("dl").cast("long")).as("sum_dl") ::
          terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
            .as(s"df_$t")).toList
        val stats = withTf
          .agg(count(lit(1)).as("n_docs"), statAggs: _*)
        val scored = withTf.crossJoin(broadcast(stats))
          .withColumn("avgdl",
            col("sum_dl").cast("double") / col("n_docs"))
        val score = terms.map { t =>
          val idf = log(lit(1.0) +
            (col("n_docs") - col(s"df_$t") + lit(0.5)) /
              (col(s"df_$t") + lit(0.5)))
          idf * (col(s"tf_$t") * lit(2.2)) /
            (col(s"tf_$t") +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        }.reduceLeft(_ + _)
        // Global top-k as orderBy+limit → TakeOrderedAndProject
        // (per-partition heaps + ONE k-row merge), NEVER a full
        // un-partitioned rank window (that would exchange every scored
        // document to a single task). The rank window below runs over
        // the k=20 SURVIVORS only — bounded by k, not by corpus size.
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)
        scored.withColumn("score", score)
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
          .withColumn("rank", row_number().over(w))
          .select(Seq(col("doc_id"), col("dl")) ++
            terms.map(t => col(s"tf_$t")) ++
            Seq(col("score"), col("rank")): _*)
          .orderBy("rank")
      },
      Some(s"""
        WITH f AS (
          SELECT doc_id,
            CAST(LEN($toksSql) AS INT) AS dl,
            CAST(LEN(LIST_FILTER($toksSql, x -> x = 'dup')) AS INT) AS tf_dup,
            CAST(LEN(LIST_FILTER($toksSql, x -> x = 'spark')) AS INT) AS tf_spark,
            CAST(LEN(LIST_FILTER($toksSql, x -> x = 'scan')) AS INT) AS tf_scan,
            CAST(LEN(LIST_FILTER($toksSql, x -> x = 'merge')) AS INT) AS tf_merge
          FROM documents
        ), stats AS (
          SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS sum_dl,
            SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS df_dup,
            SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
            SUM(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS df_scan,
            SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
          FROM f
        ), scored AS (
          SELECT f.doc_id, f.dl, f.tf_dup, f.tf_spark, f.tf_scan, f.tf_merge,
            ln(1.0 + (n_docs - df_dup + 0.5) / (df_dup + 0.5))
              * (tf_dup * CAST(2.2 AS DOUBLE)) / (tf_dup + 1.2 * (0.25 + 0.75 * dl /
                  (CAST(sum_dl AS DOUBLE) / n_docs)))
            + ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5))
              * (tf_spark * CAST(2.2 AS DOUBLE)) / (tf_spark + 1.2 * (0.25 + 0.75 * dl /
                  (CAST(sum_dl AS DOUBLE) / n_docs)))
            + ln(1.0 + (n_docs - df_scan + 0.5) / (df_scan + 0.5))
              * (tf_scan * CAST(2.2 AS DOUBLE)) / (tf_scan + 1.2 * (0.25 + 0.75 * dl /
                  (CAST(sum_dl AS DOUBLE) / n_docs)))
            + ln(1.0 + (n_docs - df_merge + 0.5) / (df_merge + 0.5))
              * (tf_merge * CAST(2.2 AS DOUBLE)) / (tf_merge + 1.2 * (0.25 + 0.75 * dl /
                  (CAST(sum_dl AS DOUBLE) / n_docs)))
            AS score
          FROM f, stats
        )
        SELECT doc_id, dl, tf_dup, tf_spark, tf_scan, tf_merge, score,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
      """)),

    // ----------------------------------------------------------------
    // q144: inverted-index build + conjunctive search — the posting
    // lists (term → (doc_id, tf)) are ONE explode + hash aggregate
    // (the index build's only shuffle, keyed on term so each term's
    // postings land together), and an AND-query over fixed terms is an
    // intersection of just those terms' postings: Catalyst pushes the
    // term filter BELOW the aggregate (term is a grouping key), so the
    // search prunes to the query terms before the exchange instead of
    // building postings for the whole vocabulary. At 100 TB the build
    // is the batch-indexing job and the search touches only the probed
    // terms' slices — the inverted-file analogue of q49's IVF cells.
    Q(
      "q144_inverted_index_search",
      (s, dir) => {
        val terms = Seq("dup", "vector")
        val postings = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        postings.where(col("term").isin(terms: _*))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_matched"),
            sum(when(col("term") === "dup", col("tf")).otherwise(0L))
              .as("tf_dup"),
            sum(when(col("term") === "vector", col("tf")).otherwise(0L))
              .as("tf_vector"))
          .where(col("n_matched") === terms.size)
          .select("doc_id", "tf_dup", "tf_vector")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, UNNEST($toksSql) AS term FROM documents
        ), postings AS (
          SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        )
        SELECT doc_id,
          CAST(SUM(CASE WHEN term = 'dup' THEN tf ELSE 0 END) AS BIGINT) AS tf_dup,
          CAST(SUM(CASE WHEN term = 'vector' THEN tf ELSE 0 END) AS BIGINT) AS tf_vector
        FROM postings
        WHERE term IN ('dup', 'vector')
        GROUP BY 1 HAVING COUNT(*) = 2
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q168: per-SOURCE quality-quantile gate — the CCNet move: the
    // keep/drop threshold is RELATIVE to each domain's own score
    // distribution (an absolute cutoff drowns clean-but-different
    // domains). Recomputes q30's exact score, quantizes it to a 1e9
    // integer (bit-portable ordering), and keeps the top 30% of each
    // source: keep iff rank·10 <= n·3, pure integer rank arithmetic —
    // never an interpolated quantile. Scale shape: ONE keyed window
    // (partition by source — rank and the source count share the
    // partitioning, one exchange + sort); no global ordering anywhere.
    Q(
      "q168_source_quality_gate",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = expr(s"size($toksExpr)").cast(DoubleType)
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
          length(col("text"))
        val stopRatio = expr(s"size(filter($toksExpr, t -> t IN ${inList(allStops)}))")
          .cast(DoubleType) / nToks
        val awl = length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) / nToks
        val score = lit(0.4) * alpha +
          lit(0.3) * (lit(1.0) - abs(awl - lit(5.0)) / lit(10.0)) +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0))
        val scoreQ = floor(score * lit(1e9) + lit(0.5)).cast("bigint")
        val w = Window.partitionBy("source")
          .orderBy(col("score_q").desc, col("doc_id").asc)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), scoreQ.as("score_q"))
          .withColumn("src_rank", row_number().over(w))
          .withColumn("n_src", count(lit(1)).over(
            Window.partitionBy("source").orderBy(col("score_q").desc, col("doc_id").asc)
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .where(col("src_rank") * 10 <= col("n_src") * 3)
          .select(col("doc_id"), col("source"), col("score_q"),
            col("src_rank").cast("bigint").as("src_rank"), col("n_src"))
          .orderBy("doc_id")
      },
      Some {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = s"CAST(LEN($toksSql) AS DOUBLE)"
        val alpha = s"(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))"
        val stopR = s"(CAST(LEN(LIST_FILTER($toksSql, t -> t IN ${inList(allStops)})) AS DOUBLE) / $nToks)"
        val awl = s"(CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE) / $nToks)"
        s"""
        WITH scored AS (
          SELECT doc_id, source,
                 CAST(FLOOR((0.4 * $alpha + 0.3 * (1.0 - ABS($awl - 5.0) / 10.0)
                   + 0.3 * LEAST($stopR * 5.0, 1.0)) * 1e9 + 0.5) AS BIGINT) AS score_q
          FROM documents),
        ranked AS (
          SELECT doc_id, source, score_q,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS src_rank,
                 COUNT(*) OVER (PARTITION BY source) AS n_src
          FROM scored)
        SELECT doc_id, source, score_q, src_rank, CAST(n_src AS BIGINT) AS n_src
        FROM ranked WHERE src_rank * 10 <= n_src * 3
        ORDER BY doc_id
      """
      }),

    // ----------------------------------------------------------------
    // q169: bigram-LM FLUENCY scoring — the CCNet/KenLM perplexity
    // filter made engine-portable: no log() (libm-dependent, the q60
    // lesson). The score is the mean bigram conditional probability
    // P(w2|w1) = c(w1 w2)/c(w1·), each ratio one IEEE division of
    // exact integers, quantized at 1e9 and INTEGER-summed per doc, so
    // shuffle/aggregation order cannot leak into the result. Corpus
    // model = two keyed counts over the bigram stream; scoring = one
    // join keyed on the bigram string. That join's hot keys (frequent
    // bigrams) are an SMJ AQE CAN skew-split at runtime — unlike the
    // custom exec tier — and the count tables grow with the
    // VOCABULARY (~cbrt of corpus, per ScaleGen's df invariant),
    // not the corpus.
    Q(
      "q169_bigram_fluency",
      (s, dir) => {
        // derived ONCE (the q221 move): both count aggregations and the
        // scoring probe consume the tokenize + bigram explode
        val docBi = docBigrams(s, dir).localCheckpoint()
        val biCounts = docBi.groupBy("bi").agg(count(lit(1)).as("c_bi"))
        val uniCounts = docBi.groupBy("w1").agg(count(lit(1)).as("c_uni"))
        scoreFluency(docBi, biCounts, uniCounts)
      },
      Some(fluencyOracleSql)),

    // ----------------------------------------------------------------
    // q171: INCREMENTAL bigram-LM maintenance — q169's model counts
    // maintained the way a corpus actually grows: four doc_id % 4
    // ingest batches each contribute their bigram/prefix counts ONCE
    // (a batch-local aggregate, O(batch) — the write path never reads
    // stored state), committed as ONE grouped atomic delta holding
    // BOTH tables (numerator and denominator can never be at
    // different batch horizons); the policy's fold before batch 2
    // proves counts survive the additive sum-by-key fold. Scoring then
    // serves from the MAINTAINED model — the corpus is never
    // re-counted. Counts are additive, so maintained ≡ one-shot
    // recompute EXACTLY and q169's oracle gates this entry VERBATIM
    // (the q109/q114 move).
    Q(
      "q171_incremental_lm_counts",
      (s, dir) => {
        import graft.operators.LmIndex
        val out = graft.Q.fresh(s, "q171_lmidx", dir)
        // derived ONCE (the q221 move): the tokenize + bigram explode
        // ran FIVE times per run (4 batch filters + the scoring probe)
        // — materialize it once and filter blocks
        val docBi = docBigrams(s, dir).localCheckpoint()
        val idx = LmIndex(out)
        (0 to 3).foreach { k =>
          idx.compactBefore(s, k, maxDeltas = 1)
          idx.appendBatch(s, docBi.where(col("doc_id") % 4 === k), k)
        }
        scoreFluency(docBi,
          idx.counts(s, "bi")
            .select(col("k").as("bi"), col("c").as("c_bi")),
          idx.counts(s, "uni")
            .select(col("k").as("w1"), col("c").as("c_uni")))
      },
      Some(fluencyOracleSql)),

    // ----------------------------------------------------------------
    // q179: VOCABULARY induction + OOV coverage — the tokenizer-sizing
    // question: fix the vocabulary at the corpus's top-16 tokens by
    // occurrence count (deterministic tie-break on the token string)
    // and report every document's out-of-vocabulary token fraction.
    // The top-K is orderBy+limit — TakeOrderedAndProject, parallel
    // per-partition heaps + one K-row merge (the q143 lesson: never a
    // global rank window); the vocabulary is K rows — broadcast — so
    // the per-doc probe is map-side. OOV fraction is one quantized
    // IEEE division of exact integer counts.
    Q(
      "q179_vocab_oov",
      (s, dir) => {
        val k = 16
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc)
          .limit(k)
          .select(col("tok"), lit(1L).as("in_vocab"))
        toks
          .join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_q",
            floor(col("n_oov").cast(DoubleType) / col("n_toks").cast(DoubleType)
              * lit(1000000.0) + lit(0.5)).cast("bigint"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, UNNEST($toksSql) AS tok FROM documents),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
          ORDER BY cnt DESC, tok ASC LIMIT 16)
        SELECT t.doc_id, COUNT(*) AS n_toks,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               CAST(FLOOR(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)
                 AS BIGINT) AS oov_q
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """)),

    // ----------------------------------------------------------------
    // q182: STREAMING quality gate against a FROZEN per-source
    // threshold — q168's relative quantile gate in its DEPLOYABLE
    // form: the rank-based slice needs the whole corpus, so at the
    // ingestion edge the thresholds are FROZEN from a profile pass
    // (here: the cut score of q168's top-30% rank per source) and
    // every arriving doc is an O(1) point decision against the
    // broadcast table — no window at serve time, which also means
    // score-TIED docs at the cut are all kept (the documented
    // train/serve skew of threshold freezing; the oracle applies the
    // identical >= rule). Runs through Replay.stream, so the resume
    // path is under the gate.
    Q(
      "q182_stream_quality_gate",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val out = Q.fresh(s, "q182_streamgate", dir)
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = expr(s"size($toksExpr)").cast(DoubleType)
        val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) /
          length(col("text"))
        val stopRatio = expr(s"size(filter($toksExpr, t -> t IN ${inList(allStops)}))")
          .cast(DoubleType) / nToks
        val awl = length(expr("replace(trim(text), ' ', '')")).cast(DoubleType) / nToks
        val scoreQ = floor((lit(0.4) * alpha +
          lit(0.3) * (lit(1.0) - abs(awl - lit(5.0)) / lit(10.0)) +
          lit(0.3) * least(stopRatio * 5.0, lit(1.0))) * lit(1e9) + lit(0.5))
          .cast("bigint")
        val docs = Tables.documents(s, dir)
        // the frozen profile: cut = the top-30% rank's score per source
        val w = Window.partitionBy("source")
          .orderBy(col("score_q").desc, col("doc_id").asc)
        val cuts = docs.select(col("doc_id"), col("source"), scoreQ.as("score_q"))
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy("source").orderBy(col("score_q").desc, col("doc_id").asc)
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .where(col("rk") === greatest(expr("(n * 3) div 10"), lit(1L)))
          .select(col("source"), col("score_q").as("cut_q"))
        val in = docs.select("doc_id", "source", "text")
        graft.streaming.Replay.stream(s, out,
            Seq(in.where(col("doc_id") % 2 === 0),
              in.where(col("doc_id") % 2 === 1)),
            parts = 2, perFile = true) { (b, id) =>
          graft.streaming.Replay.writeBatch(
            b.select(col("doc_id"), col("source"), scoreQ.as("score_q"))
              .join(broadcast(cuts), Seq("source"))
              .where(col("score_q") >= col("cut_q")), s"$out/kept", id)
        }
        s.read.parquet(s"$out/kept")
          .select("doc_id", "source", "score_q", "cut_q")
          .orderBy("doc_id")
      },
      Some {
        val allStops = (stop("en") ++ stop("es") ++ stop("de") ++ stop("fr")).distinct
        val nToks = s"CAST(LEN($toksSql) AS DOUBLE)"
        val alpha = s"(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))"
        val stopR = s"(CAST(LEN(LIST_FILTER($toksSql, t -> t IN ${inList(allStops)})) AS DOUBLE) / $nToks)"
        val awl = s"(CAST(LENGTH(REPLACE(TRIM(text), ' ', '')) AS DOUBLE) / $nToks)"
        s"""
        WITH scored AS (
          SELECT doc_id, source,
                 CAST(FLOOR((0.4 * $alpha + 0.3 * (1.0 - ABS($awl - 5.0) / 10.0)
                   + 0.3 * LEAST($stopR * 5.0, 1.0)) * 1e9 + 0.5) AS BIGINT) AS score_q
          FROM documents),
        cuts AS (
          SELECT source, score_q AS cut_q FROM (
            SELECT source, score_q,
                   ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY score_q DESC, doc_id ASC) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM scored)
          WHERE rk = GREATEST((n * 3) // 10, 1))
        SELECT s.doc_id, s.source, s.score_q, c.cut_q
        FROM scored s JOIN cuts c USING (source)
        WHERE s.score_q >= c.cut_q
        ORDER BY s.doc_id
      """
      })
  )

  /** q169/q171's shared oracle: the one-shot corpus LM spelled in
    * DuckDB — q171's maintained counts must reproduce it exactly.
    * (lazy: referenced from `defs`, which initializes first) */
  private lazy val fluencyOracleSql = s"""
        WITH t AS (
          SELECT doc_id, $toksSql AS toks FROM documents),
        b AS (
          SELECT doc_id,
                 UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                   i -> CONCAT(toks[i], ' ', toks[i + 1]))) AS bi
          FROM t WHERE LEN(toks) >= 2),
        b2 AS (
          SELECT doc_id, bi, STRING_SPLIT(bi, ' ')[1] AS w1 FROM b),
        cb AS (SELECT bi, COUNT(*) AS c_bi FROM b2 GROUP BY 1),
        cu AS (SELECT w1, COUNT(*) AS c_uni FROM b2 GROUP BY 1),
        scored AS (
          SELECT b2.doc_id,
                 CAST(FLOOR(CAST(cb.c_bi AS DOUBLE) / CAST(cu.c_uni AS DOUBLE)
                   * 1e9 + 0.5) AS BIGINT) AS p_q
          FROM b2 JOIN cb USING (bi) JOIN cu USING (w1))
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(p_q) AS BIGINT) AS sum_p_q,
               CAST(SUM(p_q) // COUNT(*) AS BIGINT) AS fluency_q
        FROM scored GROUP BY doc_id
        ORDER BY doc_id
      """
}
