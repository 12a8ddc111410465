package graft.queries

import graft.{Q, Tables}
import graft.functions.DotProductF
import graft.operators.{CcIndex, ConnectedComponents}
import graft.streaming.Replay
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-dup detection and similarity search — the north-star LLM-pipeline
  * operators (SURVEY.md §7 phase H): n-gram Jaccard, MinHash+LSH banding,
  * SimHash + Hamming banding, brute-force cosine top-k, and a
  * hyperplane-LSH bucketed ANN variant.
  *
  * Determinism strategy: all base hashes are md5 (identical across
  * engines); MinHash folds 15 md5 hex chars into Z_(2^31-1) and applies
  * integer affine permutations (see [[mhP]]) — pure int64 arithmetic both
  * engines agree on; SimHash converts 15 md5 hex chars to a 60-bit
  * int; cosine similarities are computed as sequential fold dot products
  * (bit-identical in Spark `aggregate` and DuckDB `list_reduce`) and
  * quantized to 1e-6 before ranking.
  *
  * Scale notes: every pipeline here is shuffle-shaped like its 100 TB
  * production form — shingle explode -> hash-partition on shingle/band/
  * bucket key -> per-key joins. Nothing does an unbucketed cross join
  * except the brute-force baseline, which restricts the query side (the
  * point of the ANN variant is exactly to kill that cross join).
  */
object SimilarityQueries {

  private[graft] val toksExpr = "split(trim(text), ' +')"
  private val toksSql = "STRING_SPLIT_REGEX(TRIM(text), ' +')"

  /** Word-trigram set, Spark and oracle spellings. */
  private[graft] val trisExpr =
    s"array_distinct(transform(sequence(1, size(toks) - 2), " +
      "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))"
  private val trisSql =
    "LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2), " +
      "i -> CONCAT(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))"

  /** documents scan with the token array materialized BEFORE a
    * repartition boundary. Two reasons: (a) documents.parquet arrives as
    * a single input split, so without the exchange every per-row
    * shingle/md5 pipeline runs on one core; (b) the exchange stops
    * CollapseProject from inlining the split() into every element_at of
    * the trigram lambda — inlined, the regex split re-executes ~3x per
    * shingle position (~300x per row, measured via thread dump). */
  private def docsParallel(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .repartition(col("doc_id"))

  /** Sequential-fold dot product of two double-cast float vectors. */
  private[queries] def dotExpr(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0.0 as double), (acc, v) -> acc + v)"
  private[queries] def dotSql(a: String, b: String) =
    s"LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), " +
      "(x, y) -> x + y)"

  /** Document-frequency cap for shingles. A shingle appearing in more than
    * `dfCap` documents carries no near-dup signal (it is corpus boilerplate)
    * but makes every join keyed on it quadratic in df — the one way a
    * shingle-keyed pipeline can blow up at 100 TB. All three Jaccard-family
    * queries (q33/q34/q35) drop hot shingles before any self-join, which
    * bounds per-key join work at dfCap² regardless of corpus size. The
    * oracle SQL applies the identical cap so results stay hash-exact. */
  private val dfCap = 20

  /** (doc_id, tri) word-trigram shingle pairs with hot shingles removed.
    * The df filter is a keyed equi-join on the shingle (the shingle
    * vocabulary is unbounded at scale, so no broadcast) — the same key the
    * downstream self-join shuffles on, so the exchange is reusable. */
  private def cappedShingles(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ex = docsParallel(s, dir)
      .select(col("doc_id"), explode(expr(trisExpr)).as("tri"))
    // tris is array_distinct per doc, so count(*) per shingle == document frequency
    val keep = ex.groupBy("tri").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .select("tri")
    ex.join(keep, Seq("tri"))
  }

  // Monotonic per-session ids: unlike System.identityHashCode these are
  // never reused after a session is GC'd, and the weak keys don't pin
  // stopped sessions in memory.
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong()
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Long]())
  private def sessionId(s: org.apache.spark.sql.SparkSession): Long =
    sessionIds.computeIfAbsent(s, _ => sessionSeq.incrementAndGet())

  /** Per-(session, dir) embeddings-count memo — the one table statistic
    * the adaptive sign keys need at plan time. The count itself is a
    * parquet-footer metadata job, but it is still a Spark job per query
    * CONSTRUCTION; real engines cache table stats rather than re-derive
    * them per query, and so does this. Assumes a dir's contents are
    * immutable within a session — true by construction today: no
    * registry query writes into a scanned embeddings dir (writers go to
    * per-query scratch dirs; the testdata and ScaleGen corpora are
    * written once, before any query runs). If a future query ever
    * rewrites an embeddings dir it must evict that dir's entries here —
    * this map is the enforcement point. Keyed on [[sessionId]] plus
    * the dir: stopped-session entries go on access, and a same-dir
    * entry owned by a different live session on the SAME context (an
    * abandoned `newSession` clone — its strong session reference would
    * otherwise pin the clone until the shared context stops) is
    * dropped and replaced by the caller's. The count runs
    * OUTSIDE any map lock (get-then-putIfAbsent): a rare duplicate
    * footer count is cheaper than holding a ConcurrentHashMap bin lock
    * through a Spark job. */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.SparkSession, Long)]()
  private[graft] def embCount(
      s: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val key = sessionId(s) + "|" + dir
    countCache.entrySet().removeIf(
      (e: java.util.Map.Entry[String, (org.apache.spark.sql.SparkSession, Long)]) => {
        val sess = e.getValue._1
        val stopped = sess.sparkContext.isStopped
        // exact dir equality after the first '|' (session ids contain no
        // '|'): endsWith would also match a DIFFERENT dir whose path
        // merely ends with this one's suffix ("/a/x/tbl" vs "/x/tbl")
        val abandonedClone = !stopped && e.getKey != key &&
          e.getKey.substring(e.getKey.indexOf('|') + 1) == dir &&
          (sess.sparkContext eq s.sparkContext)
        stopped || abandonedClone
      })
    val cached = countCache.get(key)
    if (cached != null) cached._2
    else {
      // a maintained stats profile ([[graft.operators.IncrementalStats]]
      // at the `<dir>/_stats` convention location) is the authoritative
      // row count when present — O(profiled columns) to read, kept
      // current per ingest batch, exactly what ANALYZE maintenance is
      // for; the parquet footer count is the fallback for dirs nobody
      // profiles (the committed testdata corpora)
      val n = statsCount(s, dir).getOrElse(Tables.embeddings(s, dir).count())
      val prev = countCache.putIfAbsent(key, (s, n))
      if (prev != null) prev._2 else n
    }
  }

  /** `vec_id`'s maintained count from `<dir>/_stats`, if that profile
    * store exists. Same dir-immutability assumption as [[countCache]]. */
  private[graft] def statsCount(
      s: org.apache.spark.sql.SparkSession, dir: String): Option[Long] = {
    val sd = new java.io.File(dir, "_stats")
    if (!sd.isDirectory) None
    else graft.operators.IncrementalStats(graft.operators.DeltaStore(sd.getPath))
      .profile(s)
      .where(col("col_name") === "vec_id")
      .select("cnt").collect().headOption.map(_.getLong(0))
  }

  /** Band-bucket occupancy cap — [[dfCap]] one level up. Band keys are
    * md5 digests of 4-minhash tuples, so bucket mass tracks TRUE
    * similarity structure in the corpus: a large cluster of
    * moderately-similar docs lands whole in one bucket, and pair
    * emission from that bucket is quadratic in cluster size (measured
    * 36x time for 100x data on the round-7 audit — the engine's one
    * super-linear trend before this cap). Capping membership at
    * `bucketCap` docs per (band, bkey) — deterministic first-N by
    * doc_id, mirrored exactly in the oracle — bounds per-bucket pairs
    * at bucketCap² regardless of corpus size. Recall cost is confined
    * to clusters larger than the cap, whose pairs transitively
    * reconnect through the kept members' OTHER bands (and, in the q84
    * consumer, through connected components). */
  private val bucketCap = 20

  /** Block-occupancy cap for the levenshtein name-pair family
    * (q58/q62/q63/q73) — [[dfCap]]'s move on the entity-resolution
    * blocking key. The block key (the name's second token) has
    * vocabulary-bound cardinality, so block sizes grow with corpus
    * size over vocabulary and per-block levenshtein pairing is
    * quadratic in them — measured n^(5/3) pair volume on the 100x
    * audit corpus (127k pairs at 1x → 13.05M at 100x). Deterministic
    * first-N-by-name membership per block, mirrored exactly in every
    * consumer's oracle, bounds per-block work at cap²/2; capped-out
    * names simply produce no pairs (they never reach the edge list,
    * in either engine). A no-op at every committed-corpus scale (max
    * block size 8 in the TESTDATA dirs, 64 at the 1x audit corpus). */
  private val blockCap = 64

  /** Distinct part names with the blocking key, block-capped (see
    * [[blockCap]]); the shared pair source of q58/q62/q63/q73. */
  private def blockedNames(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.part(s, dir).select(col("p_name")).distinct()
      .withColumn("blk", expr("element_at(split(p_name, ' '), 2)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("blk").orderBy("p_name")))
      .where(col("rk") <= blockCap)
      .drop("rk")

  /** Oracle CTEs mirroring [[blockedNames]]: `n` distinct names, `blk`
    * the capped blocked names. */
  private def blkCappedSql =
    s"""n AS (SELECT DISTINCT p_name FROM part),
        blk AS (
          SELECT p_name, SPLIT_PART(p_name, ' ', 2) AS blk FROM n
          QUALIFY ROW_NUMBER() OVER (PARTITION BY SPLIT_PART(p_name, ' ', 2)
                                     ORDER BY p_name) <= $blockCap)"""

  /** Near-dup name pairs: same block, edit distance <= 2. The edge list
    * of q62/q63 and of q219/q221's maintained components. */
  private def nearDupPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val names = blockedNames(s, dir)
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name") &&
          levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
  }

  /** q62's recursive-closure oracle, shared verbatim by q63 and the
    * maintained deployments q219/q221. */
  private val dedupComponentsOracleSql = """
        WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        blk AS (
          SELECT p_name, SPLIT_PART(p_name, ' ', 2) AS blk FROM n
          QUALIFY ROW_NUMBER() OVER (PARTITION BY SPLIT_PART(p_name, ' ', 2)
                                     ORDER BY p_name) <= 64),
        p AS (
          SELECT a.p_name AS x, b.p_name AS y
          FROM blk a JOIN blk b ON a.blk = b.blk AND a.p_name < b.p_name
                              AND LEVENSHTEIN(a.p_name, b.p_name) <= 2
        ),
        e AS (SELECT x AS a, y AS b FROM p UNION SELECT y, x FROM p),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM e
          UNION
          SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
        )
        SELECT id AS name, MIN(r) AS component
        FROM reach GROUP BY id ORDER BY name
      """

  /** The q35 pipeline as a reusable stage: MinHash band LSH candidates,
    * then exact capped-shingle Jaccard on candidates only. Returns
    * (doc_a, doc_b, shingle_jaccard) unsorted — q35 reports it, q84
    * feeds it into connected components for end-to-end dedup.
    *
    * Plan-shape note (the round-9 100x finding): this pipeline has
    * THREE consumers of the capped shingle table — the minhash bands
    * and both verify sides — and its first form fed each straight from
    * [[cappedShingles]]. Different column pruning per consumer defeats
    * ReuseExchange, so the explode+md5+df-join pipeline (the dominant
    * cost: ~20 s alone on the 100x corpus) planned and EXECUTED once
    * per consumer — measured 143 s at 100x with candidate volume a
    * non-factor (max bucket occupancy 11, 230k candidate pairs).
    * Now everything derives from the single `sets` aggregation: all
    * three consumers sit above one identical exchange subplan with one
    * pruned schema, ReuseExchange dedups it, and the shingle pipeline
    * runs once. Exploding `ts` back out for the minhash is the same
    * (doc_id, tri) multiset (tris are array_distinct per doc and min()
    * is order-free), so band keys — and the oracle — are unchanged. */
  private def lshVerifiedPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val sets = cappedShingles(s, dir)
      .groupBy("doc_id").agg(collect_list(col("tri")).as("ts"))
    // All 12 minhashes as aggregate COLUMNS of one groupBy (see
    // [[affineAtExpr]] — no 12x seed explode, no second (doc, band)
    // aggregation: band keys are plain projections over the 12 columns,
    // unpivoted to (doc_id, band, bkey) rows by a narrow stack()).
    val mhCols = (0 to 11).map(i => min(expr(affineAtExpr(i))).as(s"mh$i"))
    val bands0 = sets
      .select(col("doc_id"), explode(col("ts")).as("tri"))
      .withColumn("h", expr(shingleHashExpr))
      .groupBy("doc_id")
      .agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id"), expr(
        "stack(3, " +
          "0, md5(concat_ws(',', mh0, mh1, mh2, mh3)), " +
          "1, md5(concat_ws(',', mh4, mh5, mh6, mh7)), " +
          "2, md5(concat_ws(',', mh8, mh9, mh10, mh11))) as (band, bkey)"))
    // Occupancy cap BEFORE pair emission (see [[bucketCap]]). The window
    // partitions on the same (band, bkey) key the self-join below
    // shuffles on, so the cap adds no new exchange.
    val bands = bands0
      .withColumn("rk", row_number().over(
        Window.partitionBy("band", "bkey").orderBy("doc_id")))
      .where(col("rk") <= bucketCap)
      .drop("rk")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Exact verify over the SAME capped sets the candidates came from
    // (capped Jaccard, consistent with q33).
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ts").as("ta")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ts").as("tb")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ta"), col("tb"))) /
          (size(col("ta")) + size(col("tb")) - size(array_intersect(col("ta"), col("tb")))))
          .as("shingle_jaccard"))
  }

  /** Oracle CTE chain mirroring [[lshVerifiedPairs]] (through `pairsv`);
    * shared by the q35 and q84 oracles. */
  private def lshPairsSqlCtes =
    s"""$cappedSql, t AS (
          SELECT doc_id, $shingleHashSql AS h FROM e
        ), s AS (
          SELECT doc_id, seed, MIN($affineExpr) AS mh
          FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 11)) AS seed)
          GROUP BY 1, 2
        ), b0 AS (
          SELECT doc_id, seed // 4 AS band,
                 MD5(STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bkey
          FROM s GROUP BY 1, 2
        ), b AS (
          SELECT doc_id, band, bkey FROM b0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= $bucketCap
        ), cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
                           AND x.doc_id < y.doc_id
        ), sets AS (
          SELECT doc_id, LIST(tri) AS ts FROM e GROUP BY 1
        ), pairsv AS (
          SELECT doc_a, doc_b,
                 LEN(LIST_INTERSECT(sa.ts, sb.ts))
                   / (LEN(sa.ts) + LEN(sb.ts) - LEN(LIST_INTERSECT(sa.ts, sb.ts))) AS shingle_jaccard
          FROM cand
          JOIN sets sa ON sa.doc_id = doc_a
          JOIN sets sb ON sb.doc_id = doc_b
        )"""

  /** Oracle CTE fragments mirroring [[cappedShingles]]: `e0` is the raw
    * shingle explode, `dfc` the kept shingles, `e` the capped explode. */
  private val cappedSql =
    s"""e0 AS (
          SELECT doc_id, UNNEST($trisSql) AS tri
          FROM (SELECT doc_id, $toksSql AS toks FROM documents)
        ), dfc AS (
          SELECT tri FROM e0 GROUP BY tri HAVING COUNT(*) <= $dfCap
        ), e AS (
          SELECT doc_id, tri FROM e0 JOIN dfc USING (tri)
        )"""

  /** MinHash permutation family: ONE md5 per shingle (60 bits, folded into
    * Z_p, p = 2^31-1), then each of the 12 "permutations" is an affine
    * transform (a_i*h + b_i) mod p with seed-derived integer coefficients.
    * vs the seeded-md5-per-permutation form this does 1/12th the hashing
    * work — the dominant cost of the MinHash family at any scale — while
    * every intermediate product stays below 2^63 (a, h < p), so the DuckDB
    * oracle reproduces it bit-exactly in int64 arithmetic. Folding to 31
    * bits admits rare shingle-hash collisions at billion-shingle
    * vocabularies; MinHash tolerates them (they bias Jaccard estimates by
    * O(1/p), far below the banding noise floor). */
  private val mhP = 2147483647L // 2^31 - 1, prime
  private[graft] val shingleHashExpr =
    s"cast(conv(substring(md5(tri), 1, 15), 16, 10) as bigint) % $mhP"
  private val shingleHashSql =
    s"CAST('0x' || SUBSTR(MD5(tri), 1, 15) AS BIGINT) % $mhP"
  // a_i nonzero for all seeds 0..11 (a_0 = 12345); h, a, b < p keeps a*h < 2^63.
  // seed is int32 in Spark (sequence(0,11)) — cast before multiplying or ANSI
  // mode raises ARITHMETIC_OVERFLOW; the cast is a no-op for DuckDB's int64.
  private val affineExpr =
    s"(((cast(seed as bigint) * 1103515245 + 12345) % $mhP) * h" +
      s" + (cast(seed as bigint) * 69069 + 1) % $mhP) % $mhP"

  /** [[affineExpr]] with the seed folded to Scala-side constants — the
    * per-seed form that lets all 12 minhashes compute as 12 aggregate
    * COLUMNS of one groupBy instead of exploding every shingle row 12x
    * before the aggregation (the explode multiplied the shuffled
    * minhash stream to 12·|shingles| rows — ~263M at the 100x audit
    * corpus; the column form shuffles |docs| rows of 12 longs). Same
    * a_i, b_i, same values, bit-identical to the oracle's exploded
    * spelling. */
  private[graft] def affineAtExpr(seed: Int): String = {
    val a = (seed.toLong * 1103515245L + 12345L) % mhP
    val b = (seed.toLong * 69069L + 1L) % mhP
    s"(($a * h) + $b) % $mhP"
  }

  // ------------------------------------------------------------------
  // Adaptive sign-key machinery, shared by q38 (bucketed ANN), q49
  // (IVF cells, ExtraQueries) and q55 (banded near-dup pairs): the key
  // width ADAPTS to the corpus so expected bucket occupancy stays at a
  // CONSTANT `occ` at any scale — the round-6 scale audit caught q55's
  // fixed-16-bucket predecessor at 16.4x time for 10x data (pairs per
  // bucket square in n). `r` is the smallest width in [4, 20] with
  // occ * 2^r >= n, an integer CASE chain over a broadcast 1-row COUNT
  // that both engines evaluate exactly (no log2 ulps). Planes are the
  // DECORRELATED [[planeWeights]] rows — adaptive width only delivers
  // constant occupancy when plane signs are independent (see the
  // planeWeights scaladoc for the measured lattice failure).

  /** Smallest r in [4, 20] with occ * 2^r >= n (column `n` in scope). */
  private[queries] def adaptiveWidthExpr(occ: Long): String = "case " +
    (4 to 19).map(r => s"when n <= ${occ * (1L << r)}L then $r").mkString(" ") +
    " else 20 end"
  private[queries] def adaptiveWidthSql(occ: Long): String = "CASE " +
    (4 to 19).map(r => s"WHEN n <= ${occ * (1L << r)} THEN $r").mkString(" ") +
    " ELSE 20 END"

  /** Plan-time adaptive width: same formula as [[adaptiveWidthExpr]] but
    * resolved in Scala from a driver-side `count()` (a parquet-footer
    * metadata job, same class as the other sanctioned driver collects).
    * Baking the width as a LITERAL lets the optimizer constant-fold the
    * per-plane `j < width` guards — dead planes vanish from codegen and
    * the corpus-count subquery (which the old column form re-ran per
    * join branch, two scans + BroadcastNestedLoopJoin each) disappears
    * from the plan. The DuckDB oracle keeps the explicit CASE over
    * COUNT(*); both resolve the identical integer for the same corpus. */
  private[queries] def adaptiveWidthLit(n: Long, occ: Long): Int =
    (4 to 19).find(r => n <= occ * (1L << r)).getOrElse(20)

  /** DECORRELATED pseudo-random plane weights — SplitMix64 from seed 0,
    * 40 planes x 64 dims, values in [-9, 9] — generated HERE and baked
    * into both dialects as per-plane literal arrays. This replaces the
    * ((j*67 + d*31) % 101) - 50 lattice the r6 adaptive rewrite used:
    * lattice rows are cyclic value-shifts of one another, so plane
    * signs correlate strongly and band ENTROPY stops growing with r —
    * measured at 200k vectors (r=13, gen100x corpus) the lattice
    * occupied only 2,458 of 8,192 hi-band buckets with a 13,333-vector
    * hot bucket = 5.2e8 candidate pairs in that band alone (the 100x
    * audit filled 79 GB of shuffle spill before dying). The SplitMix64
    * weights occupy 8,190 buckets with max 154 = 3.4e6 pairs — the
    * occupancy-32 design point the adaptive width promises. */
  private[queries] val planeWeights: Array[Array[Long]] = {
    var state = 0L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      (z & 0x7FFFFFFFL) % 19L - 9L
    }
    Array.fill(40, 64)(next())
  }

  /** Plane-j dot as the EXACT `aggregate(zip_with(a, b, (x, y) ->
    * (double)x * (double)y), 0.0d, (acc, v) -> acc + v)` shape that
    * [[graft.plans.RewriteDotProduct]] collapses into the codegen'd
    * [[graft.functions.DotProductF]]. The weight row is baked as an
    * `array<float>` literal (values in [-9, 9] — exact in float), so the
    * rule's float-array guard matches and each plane dot runs as a tight
    * 64-iteration primitive loop inside whole-stage codegen instead of
    * the per-element lambda dispatch the previous `aggregate(sequence…)`
    * form paid (the r7-measured 1.8-2.8x constant-factor regression on
    * q38/q49/q55). Fold order (sequential from index 0, 0.0 seed) and
    * values are bit-identical to the old form and to the DuckDB oracle. */
  private def planeDotExprAt(j: Int): String = {
    val row = planeWeights(j)
      .map(w => s"cast($w as float)").mkString("array(", ", ", ")")
    s"aggregate(zip_with(embedding, $row, " +
      "(x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0.0 as double), (acc, v) -> acc + v)"
  }
  private def planeDotSqlAt(j: Int): String = {
    val row = planeWeights(j).mkString("[", ", ", "]")
    "LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(0, 63), d -> " +
      "CAST(embedding[d + 1] AS DOUBLE) * " +
      s"CAST(($row)[d + 1] AS DOUBLE)), (x, y) -> x + y)"
  }

  /** Sign key over planes [0, width-1] (`width` a column name): bit j
    * set when plane j's dot is positive. Terms are STATIC per plane —
    * each inlines its own 64-weight literal row — with a lazy `j <
    * width` guard first in the conjunction, so unused planes' dots are
    * never evaluated (both engines short-circuit AND). */
  private[graft] def signKeyLowExpr(width: String): String =
    (0 to 19).map { j =>
      s"(case when $j < $width and ${planeDotExprAt(j)} > 0 " +
        s"then cast(${1L << j} as bigint) else cast(0 as bigint) end)"
    }.mkString("(", " + ", ")")
  private[queries] def signKeyLowSql(width: String): String =
    (0 to 19).map { j =>
      s"(CASE WHEN $j < $width AND ${planeDotSqlAt(j)} > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** Second band: planes [width, 2*width-1], bit j - width. */
  private[graft] def signKeyHighExpr(width: String): String =
    (4 to 39).map { j =>
      s"(case when $j >= $width and $j < 2 * $width and ${planeDotExprAt(j)} > 0 " +
        s"then shiftleft(cast(1 as bigint), $j - $width) else cast(0 as bigint) end)"
    }.mkString("(", " + ", ")")
  private[queries] def signKeyHighSql(width: String): String =
    (4 to 39).map { j =>
      s"(CASE WHEN $j >= $width AND $j < 2 * $width AND ${planeDotSqlAt(j)} > 0 " +
        s"THEN CAST(POWER(2, $j - $width) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** ADC search over a PQ code table — the q98/q109 scoring half,
    * shared so the one-shot pipeline (codes computed inline) and the
    * incrementally-maintained index (codes from
    * [[graft.operators.CodeIndex]]) serve the same queries through the
    * same plan. Quantized query components (FIXED scale-invariant
    * query set — see q37: with queries ∝ corpus size the codes ⨝ adc
    * join emitted 8·n·(n/100) rows, the 63.9x @100x trend the round-9
    * audit caught; workload-constant queries make the ADC scan O(n) by
    * design) feed a per-query 8x256 lookup table, BROADCAST to the
    * code scan; one keyed agg, rank window top-5, integer micro-unit
    * arithmetic throughout. */
  private def pqAdcSearch(s: org.apache.spark.sql.SparkSession,
                          emb: org.apache.spark.sql.DataFrame,
                          codes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val qdims = emb.where(pmod(col("vec_id"), lit(100)) === 0 &&
        col("vec_id") <= 2000)
      .select(col("vec_id").as("query_id"),
        explode(expr("sequence(1, 64)")).as("d"), col("embedding"))
      .withColumn("qq",
        floor(expr("cast(element_at(embedding, d) as double)") * lit(1000000.0)
          + lit(0.5)).cast("long"))
      .select("query_id", "d", "qq")
    val grid = s.range(8).select(col("id").cast("int").as("sub"))
      .crossJoin(s.range(256).select(col("id").cast("int").as("code")))
      .crossJoin(s.range(8).select(col("id").cast("int").as("j")))
      .withColumn("p", expr("cast(pow(2, j) as bigint)"))
      .withColumn("d", col("sub") * 8 + col("j") + 1)
    val adc = grid.join(qdims, Seq("d"))
      .withColumn("term",
        when(expr("(code div p) % 2") === 1, col("qq")).otherwise(-col("qq")))
      .groupBy("query_id", "sub", "code")
      .agg(sum(col("term")).as("partial"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_score").desc, col("cand_id").asc)
    codes.join(broadcast(adc), Seq("sub", "code"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("partial")).as("approx_score"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("cand_id").as("neighbor_id"), col("approx_score"))
      .orderBy("query_id", "rank")
  }

  /** The q98 oracle, verbatim — q109's maintained codes are
    * bit-identical to q98's inline codes (sign patterns are per-row
    * deterministic), so BOTH entries hash against this one query. */
  private val pqAdcOracleSql: String = """
        WITH qdims AS (
          SELECT vec_id AS query_id, d,
                 CAST(FLOOR(CAST(embedding[d] AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS qq
          FROM embeddings, UNNEST(GENERATE_SERIES(1, 64)) AS g(d)
          WHERE vec_id % 100 = 0 AND vec_id <= 2000),
        grid AS (
          SELECT s.sub, c.code, j.j,
                 CAST(POWER(2, j.j) AS BIGINT) AS p,
                 s.sub * 8 + j.j + 1 AS d
          FROM UNNEST(GENERATE_SERIES(0, 7)) AS s(sub),
               UNNEST(GENERATE_SERIES(0, 255)) AS c(code),
               UNNEST(GENERATE_SERIES(0, 7)) AS j(j)),
        adc AS (
          SELECT q.query_id, g.sub, g.code,
                 CAST(SUM(CASE WHEN (g.code // g.p) % 2 = 1 THEN q.qq ELSE -q.qq END)
                      AS BIGINT) AS partial
          FROM grid g JOIN qdims q ON q.d = g.d
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id AS cand_id, s.sub,
                 CAST((CASE WHEN embedding[s.sub*8+1] > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+2] > 0 THEN 2 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+3] > 0 THEN 4 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+4] > 0 THEN 8 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+5] > 0 THEN 16 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+6] > 0 THEN 32 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+7] > 0 THEN 64 ELSE 0 END)
                    + (CASE WHEN embedding[s.sub*8+8] > 0 THEN 128 ELSE 0 END)
                   AS BIGINT) AS code
          FROM embeddings, UNNEST(GENERATE_SERIES(0, 7)) AS s(sub)),
        scored AS (
          SELECT a.query_id, c.cand_id,
                 CAST(SUM(a.partial) AS BIGINT) AS approx_score
          FROM codes c JOIN adc a ON a.sub = c.sub AND a.code = c.code
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, cand_id, approx_score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY approx_score DESC, cand_id) AS rank
          FROM scored WHERE query_id <> cand_id)
        SELECT query_id, CAST(rank AS INT) AS rank,
               cand_id AS neighbor_id, approx_score
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
      """

  val defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q33: n-gram Jaccard near-dup pairs — df-capped shingle explode, hash
    // join on the shingle, per-pair intersection counts,
    // |A∩B|/(|A|+|B|-|A∩B|) over the capped sets. The df cap (see
    // [[cappedShingles]]) is what keeps this self-join linear at scale:
    // without it one corpus-wide boilerplate shingle makes the pair count
    // quadratic in corpus size.
    Q(
      "q33_ngram_jaccard_pairs",
      (s, dir) => {
        // Join carries only (doc_id, tri); the per-doc capped-set sizes
        // come back via two broadcast joins AFTER the pair aggregation —
        // at scale that keeps the wide shuffle to the minimum bytes/row.
        val ex = cappedShingles(s, dir)
        val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val pairs = ex.as("a")
          .join(ex.as("b"), col("a.tri") === col("b.tri") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza"))), Seq("doc_a"))
          .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb"))), Seq("doc_b"))
          .select(
            col("doc_a"), col("doc_b"), col("inter"),
            (col("inter") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
          .where(col("jaccard") >= 0.01)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH $cappedSql, sizes AS (
          SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY 1
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM e a JOIN e b ON a.tri = b.tri AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, inter,
               inter / (sa.sz + sb.sz - inter) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.01
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q34: MinHash signatures + LSH band keys — 12 affine-permutation min
    // hashes per doc over word-TRIGRAM shingles (see the [[mhP]] family
    // note: one md5 per shingle, 12 integer transforms), banded 4-wide
    // into 3 bucket keys. Shingles, not unigrams: the corpus vocabulary is
    // tiny, so unigram token sets collide massively (hundreds of docs
    // share one set at sf0.1) and band buckets degenerate into quadratic
    // cliques; trigram sets are order-sensitive and nearly unique, which
    // is also the textbook-correct MinHash input.
    Q(
      "q34_minhash_bands",
      (s, dir) => {
        // one aggregation, 12 minhash COLUMNS (see [[affineAtExpr]]):
        // the former explode(seed)+groupBy+pivot shuffled 12x the
        // shingle stream and then pivoted it back — three shuffles of
        // inflated rows doing the work of one
        val mhCols = (0 to 11).map(i => min(expr(affineAtExpr(i))).as(s"mh$i"))
        cappedShingles(s, dir).withColumn("h", expr(shingleHashExpr))
          .groupBy("doc_id")
          .agg(mhCols.head, mhCols.tail: _*)
          .select(
            col("doc_id"),
            md5(concat_ws(",", col("mh0"), col("mh1"), col("mh2"), col("mh3"))).as("band0"),
            md5(concat_ws(",", col("mh4"), col("mh5"), col("mh6"), col("mh7"))).as("band1"),
            md5(concat_ws(",", col("mh8"), col("mh9"), col("mh10"), col("mh11"))).as("band2"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $cappedSql, t AS (
          SELECT doc_id, $shingleHashSql AS h FROM e
        ), s AS (
          SELECT doc_id, seed, MIN($affineExpr) AS mh
          FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 11)) AS seed)
          GROUP BY 1, 2
        ), p AS (
          SELECT doc_id,
                 ${(0 to 11).map(i => s"MIN(CASE WHEN seed = $i THEN mh END) AS m$i").mkString(", ")}
          FROM s GROUP BY 1
        )
        SELECT doc_id,
               MD5(CONCAT_WS(',', m0, m1, m2, m3)) AS band0,
               MD5(CONCAT_WS(',', m4, m5, m6, m7)) AS band1,
               MD5(CONCAT_WS(',', m8, m9, m10, m11)) AS band2
        FROM p ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q35: MinHash-LSH candidate pairs verified with true shingle Jaccard
    // — docs sharing any band bucket become candidates (per-band hash
    // joins on the bucket key, the scalable alternative to all-pairs),
    // then the exact set-intersection check. Trigram shingles throughout
    // (see q34 — unigram sets degenerate on this corpus).
    Q(
      "q35_lsh_dedup_candidates",
      (s, dir) => lshVerifiedPairs(s, dir).orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH $lshPairsSqlCtes
        SELECT doc_a, doc_b, shingle_jaccard
        FROM pairsv
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q36: SimHash near-dup pairs — 16-bit simhash from 60-bit md5-derived
    // trigram-shingle hashes (unigrams degenerate on this corpus, see
    // q34), candidate generation by two ADAPTIVE r-bit half-fingerprint
    // bands (Hamming LSH; occupancy-constant like q55/q38), Hamming
    // distance <= 4 filter. Banding keeps the join keyed at scale; like
    // all LSH it trades recall for never doing all-pairs.
    Q(
      "q36_simhash_pairs",
      (s, dir) => {
        // ADAPTIVE fingerprint width 2r bits, two r-bit bands (smallest
        // r with 32*2^r >= nDocs): the fixed 16-bit/8-bit-band version
        // was the q55 disease in SimHash form — 256 buckets per band at
        // ANY corpus size piles ~n/256 docs per bucket (measured 89x
        // time for 100x data before this; pairs per bucket square in
        // n). At sf0.01 r resolves to 8, reproducing the old 16-bit
        // shape exactly. md5's 15-hex prefix gives 60 bits, so 2r <= 40
        // sign sums always have source bits.
        val nDf = Tables.documents(s, dir)
          .agg(count(lit(1)).cast("bigint").as("n"))
        val rDf = nDf.select(expr(adaptiveWidthExpr(32)).as("r"))
        val toks = docsParallel(s, dir)
          .select(col("doc_id"), explode(expr(trisExpr)).as("tok"))
          .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
        val bits = toks
          .crossJoin(broadcast(rDf))
          .withColumn("b", explode(expr("sequence(0, 2 * r - 1)")))
          .withColumn("sign", expr("2 * cast(shiftright(h, b) & 1 as int) - 1"))
          .groupBy("doc_id", "b")
          .agg(sum(col("sign")).as("ss"))
          .withColumn("bitval",
            when(col("ss") > 0, expr("shiftleft(cast(1 as bigint), b)")).otherwise(lit(0L)))
        val sh = bits.groupBy("doc_id").agg(sum(col("bitval")).as("simhash"))
          .crossJoin(broadcast(rDf))
          .withColumn("hi", expr("shiftright(simhash, r)"))
          .withColumn("lo", expr("simhash & (shiftleft(cast(1 as bigint), r) - 1)"))
        val byHi = sh.as("x").join(sh.as("y"),
          col("x.hi") === col("y.hi") && col("x.doc_id") < col("y.doc_id"))
        val byLo = sh.as("x").join(sh.as("y"),
          col("x.lo") === col("y.lo") && col("x.doc_id") < col("y.doc_id"))
        def proj(df: org.apache.spark.sql.DataFrame) = df.select(
          col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          expr("cast(bit_count(x.simhash ^ y.simhash) as bigint)").as("hamming"))
        proj(byHi).unionByName(proj(byLo)).distinct()
          .where(col("hamming") <= 4)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        rr AS (SELECT ${adaptiveWidthSql(32)} AS r FROM nn),
        t AS (
          SELECT doc_id, UNNEST($trisSql) AS tok
          FROM (SELECT doc_id, $toksSql AS toks FROM documents)
        ), th AS (
          SELECT doc_id, CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) AS h FROM t
        ), bits AS (
          SELECT doc_id, b, SUM(2 * CAST((h >> b) & 1 AS INT) - 1) AS ss
          FROM th CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 2 * r - 1)) AS b FROM rr)
          GROUP BY 1, 2
        ), sh AS (
          SELECT doc_id,
                 SUM(CASE WHEN ss > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
          FROM bits GROUP BY 1
        ), keyed AS (
          SELECT doc_id, simhash, simhash >> r AS hi,
                 simhash & ((CAST(1 AS BIGINT) << r) - 1) AS lo
          FROM sh, rr
        ), cand AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 BIT_COUNT(XOR(x.simhash, y.simhash)) AS hamming
          FROM keyed x JOIN keyed y ON x.hi = y.hi AND x.doc_id < y.doc_id
          UNION
          SELECT x.doc_id, y.doc_id, BIT_COUNT(XOR(x.simhash, y.simhash))
          FROM keyed x JOIN keyed y ON x.lo = y.lo AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        FROM cand WHERE hamming <= 4 ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q37: brute-force cosine top-k — the exactness baseline for ANN.
    // Query side is a FIXED, scale-invariant set (vec_id % 100 = 0 AND
    // vec_id <= 2000 — a workload constant, the way ANN benchmarks hold
    // their query file fixed while the corpus grows) and broadcast;
    // per-query cost is then a linear scan by contract, and the whole
    // query is O(n), not O(n^2/100) (the round-9 100x audit caught the
    // sibling q98 at 63.9x when the query set scaled with the corpus).
    // Similarity quantized to 1e-6 before ranking so fold-order ulps
    // can't flip ranks.
    Q(
      "q37_knn_bruteforce_cosine",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .withColumn("n2", DotProductF.dot(col("embedding"), col("embedding")))
        val qs = emb.where(pmod(col("vec_id"), lit(100)) === 0 &&
          col("vec_id") <= 2000)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
        val cs = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("n2").as("cn2"))
        val dot = DotProductF.dot(col("qe"), col("ce"))
        val cos = dot / (sqrt(col("qn2")) * sqrt(col("cn2")))
        val simq = floor(cos * lit(1000000.0) + lit(0.5)).cast("bigint")
        val scored = broadcast(qs).join(cs, col("query_id") =!= col("cand_id"))
          .select(col("query_id"), col("cand_id"), simq.as("sim_q"))
        val w = Window.partitionBy("query_id").orderBy(col("sim_q").desc, col("cand_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("cand_id").as("neighbor_id"),
            (col("sim_q").cast(DoubleType) / 1000000.0).as("cosine_sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 ${dotSql("embedding", "embedding")} AS n2
          FROM embeddings
        ), scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 CAST(FLOOR(${dotSql("q.embedding", "c.embedding")}
                   / (SQRT(q.n2) * SQRT(c.n2)) * 1000000.0 + 0.5) AS BIGINT) AS sim_q
          FROM e q JOIN e c ON q.vec_id % 100 = 0 AND q.vec_id <= 2000
                           AND q.vec_id <> c.vec_id
        )
        SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS neighbor_id,
               CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim_q DESC, cand_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5 ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q38: hyperplane-LSH bucketed ANN — an ADAPTIVE r-plane sign key
    // (see [[adaptiveWidthExpr]]; occupancy constant 32, decorrelated
    // [[planeWeights]]) buckets the corpus; search only same-bucket
    // candidates.
    // This is the scale path: the cross join of q37 becomes an
    // equi-join on the bucket key, and because 2^r grows with n the
    // candidates per bucket stay ~32 at ANY corpus size — emitted
    // pairs grow ~32·|Q|, linear, where the round-6 fixed-256-bucket
    // version was quadratic at 100x (the q55 audit lesson applied
    // here, round-6 verdict item 7). At sf0.01 (n=5000) r resolves to
    // 8, the same 256-bucket granularity the fixed key had.
    Q(
      "q38_ann_hyperplane_lsh",
      (s, dir) => {
        val r = adaptiveWidthLit(embCount(s, dir), 32)
        val emb = Tables.embeddings(s, dir)
          .withColumn("n2", DotProductF.dot(col("embedding"), col("embedding")))
          .withColumn("bucket", expr(signKeyLowExpr(r.toString)))
        val qs = emb.where(pmod(col("vec_id"), lit(100)) === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("n2").as("qn2"), col("bucket"))
        val cs = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          col("n2").as("cn2"), col("bucket"))
        val dot = DotProductF.dot(col("qe"), col("ce"))
        val cos = dot / (sqrt(col("qn2")) * sqrt(col("cn2")))
        val simq = floor(cos * lit(1000000.0) + lit(0.5)).cast("bigint")
        val scored = broadcast(qs).join(cs, Seq("bucket"))
          .where(col("query_id") =!= col("cand_id"))
          .select(col("query_id"), col("cand_id"), simq.as("sim_q"))
        val w = Window.partitionBy("query_id").orderBy(col("sim_q").desc, col("cand_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("cand_id").as("neighbor_id"),
            (col("sim_q").cast(DoubleType) / 1000000.0).as("cosine_sim"))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        e0 AS (
          SELECT vec_id, embedding,
                 ${dotSql("embedding", "embedding")} AS n2,
                 ${adaptiveWidthSql(32)} AS r
          FROM embeddings, nn
        ), e AS (
          SELECT vec_id, embedding, n2,
                 ${signKeyLowSql("r")} AS bucket
          FROM e0
        ), scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 CAST(FLOOR(${dotSql("q.embedding", "c.embedding")}
                   / (SQRT(q.n2) * SQRT(c.n2)) * 1000000.0 + 0.5) AS BIGINT) AS sim_q
          FROM e q JOIN e c ON q.bucket = c.bucket
                           AND q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
        )
        SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS neighbor_id,
               CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY sim_q DESC, cand_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 3 ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q55: embedding-cosine near-dup PAIRS — the dedup-flavored
    // counterpart of q38: two hyperplane sign-key bands (the q36
    // byte-band trick, on vectors); docs sharing either band become
    // candidates via keyed self-joins, then the exact cosine check
    // keeps pairs >= 0.35. Band WIDTH ADAPTS to the corpus: r planes
    // per band, the smallest r in [4, 20] with 32 * 2^r >= n (an
    // integer CASE chain both engines evaluate exactly — no log2
    // ulps), so expected bucket occupancy stays ~32 at ANY scale and
    // per-band candidate pairs grow ~16n, LINEARLY. The round-6 scale
    // audit caught the fixed-16-bucket predecessor at 16.4x time for
    // 10x data (pairs per bucket square in n); with adaptive r the
    // plan is the occupancy-constant LSH a billion-vector dedup
    // actually runs, and recall at a given threshold is tuned by
    // ADDING BANDS — the standard banding trade; the registry pins 2
    // bands. Planes are the decorrelated [[planeWeights]] rows (the r6
    // lattice family collapsed band entropy at deep scale — see the
    // planeWeights scaladoc for the 100x measurement). Cosine quantized
    // to 1e-6 (sequential-fold dot product) so the threshold cannot
    // flip on ulps across engines.
    Q(
      "q55_embedding_neardup_pairs",
      (s, dir) => {
        val r = adaptiveWidthLit(embCount(s, dir), 32)
        val emb = Tables.embeddings(s, dir)
          .withColumn("n2", DotProductF.dot(col("embedding"), col("embedding")))
          .withColumn("hi", expr(signKeyLowExpr(r.toString)))
          .withColumn("lo", expr(signKeyHighExpr(r.toString)))
        val keyed = emb.select(col("vec_id"), col("hi"), col("lo"))
        def byBand(b: String) = keyed.as("x").join(keyed.as("y"),
            col(s"x.$b") === col(s"y.$b") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        val cand = byBand("hi").unionByName(byBand("lo")).distinct()
        val sides = emb.select(col("vec_id"), col("embedding"), col("n2"))
        val dot = DotProductF.dot(col("ea"), col("eb"))
        val simq = floor(dot / (sqrt(col("na")) * sqrt(col("nb"))) * lit(1000000.0) + lit(0.5))
          .cast("bigint")
        cand
          .join(sides.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
            col("n2").as("na")), Seq("vec_a"))
          .join(sides.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
            col("n2").as("nb")), Seq("vec_b"))
          .select(col("vec_a"), col("vec_b"), simq.as("sim_q"))
          .where(col("sim_q") >= 350000)
          .select(col("vec_a"), col("vec_b"),
            (col("sim_q").cast(DoubleType) / 1000000.0).as("cosine_sim"))
          .orderBy("vec_a", "vec_b")
      },
      Some {
        s"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        e AS (
          SELECT vec_id, embedding,
                 ${dotSql("embedding", "embedding")} AS n2,
                 ${adaptiveWidthSql(32)} AS r
          FROM embeddings, nn
        ), keyed AS (
          SELECT vec_id, embedding, n2,
                 ${signKeyLowSql("r")} AS hi,
                 ${signKeyHighSql("r")} AS lo
          FROM e
        ), cand AS (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM keyed x JOIN keyed y ON x.hi = y.hi AND x.vec_id < y.vec_id
          UNION
          SELECT x.vec_id, y.vec_id
          FROM keyed x JOIN keyed y ON x.lo = y.lo AND x.vec_id < y.vec_id
        ), scored AS (
          SELECT vec_a, vec_b,
                 CAST(FLOOR(${dotSql("a.embedding", "b.embedding")}
                   / (SQRT(a.n2) * SQRT(b.n2)) * 1000000.0 + 0.5) AS BIGINT) AS sim_q
          FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
        )
        SELECT vec_a, vec_b, CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim
        FROM scored WHERE sim_q >= 350000
        ORDER BY 1, 2
      """
      }),

    // ----------------------------------------------------------------
    // q58: blocked fuzzy match — edit-distance pairing with a BLOCKING
    // key, the classic entity-resolution / fuzzy-dedup pattern: exact
    // dedup first (distinct names), block on a cheap key (the noun — the
    // name's second token) so the quadratic levenshtein comparison runs
    // only within blocks, never across the corpus. At 100 TB the block
    // key is the shuffle key and per-block work is bounded by
    // [[blockCap]] (see there — without the cap, block sizes track the
    // name vocabulary's growth and per-block pairing is quadratic in
    // them; the round-9 100x audit measured pair volume at n^(5/3)).
    Q(
      "q58_fuzzy_name_pairs",
      (s, dir) => {
        val names = blockedNames(s, dir)
        names.as("a").join(names.as("b"),
            col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name") &&
              levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
            levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"))
          .orderBy("name_a", "name_b")
      },
      Some(s"""
        WITH $blkCappedSql
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INT) AS edit_dist
        FROM blk a JOIN blk b ON a.blk = b.blk AND a.p_name < b.p_name
                         AND LEVENSHTEIN(a.p_name, b.p_name) <= 2
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q62: dedup components — the q58 fuzzy-pair graph resolved into
    // duplicate GROUPS by iterative min-label propagation
    // ([[graft.operators.ConnectedComponents]]): every name labeled with
    // the smallest name reachable through edit-distance edges. This is
    // the step that turns pairwise near-dup evidence into a dedup plan,
    // and the oracle is a genuinely independent algorithm: DuckDB
    // computes the transitive closure with a recursive CTE and takes
    // MIN over each reachability set — if the distributed propagation
    // over- or under-merges a single cluster, the hashes diverge.
    // Label propagation runs diameter rounds of keyed joins (no driver
    // graph, lineage checkpointed) — the 100 TB shape; the closure CTE
    // is the small-data cross-check, quadratic in cluster size.
    Q(
      "q62_dedup_components",
      (s, dir) => {
        val pairs = nearDupPairs(s, dir)
        ConnectedComponents.components(pairs)
          .select(col("id").as("name"), col("comp").as("component"))
          .orderBy("name")
      },
      Some(dedupComponentsOracleSql)),

    // ----------------------------------------------------------------
    // q219: INCREMENTAL connected components — q62's duplicate groups
    // maintained under APPENDED near-dup edges, the maintenance move
    // (q209/q214) applied to the dedup-grouping step a production
    // pipeline re-runs every ingest. Sound because component merging
    // is MONOTONE under appends (components only merge, never split)
    // and labels are min-reachable ids: each wave condenses its new
    // edges through the stored labels and runs label propagation on
    // the CONDENSED graph — batch-sized + touched components, never
    // the accumulated edge set, with per-batch iteration cost the
    // condensed diameter rather than the full graph's. Merging is
    // order-independent, so there is NO append-order contract (waves
    // split by a hash of the pair — deliberately arbitrary).
    //
    // STATE IO is as incremental as the compute (operators/CcIndex):
    // each wave commits ONE DeltaStore delta holding only the rows the
    // wave moved — members of old components whose label changed plus
    // brand-new nodes (touched + batch, NEVER all nodes; CcIndexSpec
    // asserts the bound row-for-row); the read side resolves
    // latest-wins per node, and a POLICY-driven mid-stream COMPACT
    // (compactBefore, threshold 1 — fires once, before wave 2) puts the
    // fold path itself under the gate. Held to q62's recursive-closure
    // oracle VERBATIM; the fold identity is
    // additionally property-pinned across random splits in
    // ConnectedComponentsPropertySpec.
    Q(
      "q219_dedup_components_incremental",
      (s, dir) => {
        val idx = CcIndex(Q.fresh(s, "q219_ccidx", dir))
        // pinned by the wave driver: each wave's fold evaluates its edge
        // frame several times (bucket collects + condense joins), and
        // without the cut every evaluation re-runs the levenshtein
        // blocking join — in production the edge waves ARE the input
        Replay.waves(nearDupPairs(s, dir), 3,
            col("name_a"), col("name_b")) { (w, i) =>
          idx.compactBefore(s, i, maxDeltas = 1)
          idx.appendWave(s, w, i)
        }
        idx.labels(s)
          .select(col("id").as("name"), col("comp").as("component"))
          .orderBy("name")
      },
      Some(dedupComponentsOracleSql)),

    // ----------------------------------------------------------------
    // q221: STREAMING connected components — q219's CcIndex fold driven
    // from a checkpointed stream (Replay.stream), closing the last
    // maintenance symmetry: q62's recursive-closure oracle now gates
    // the SAME dedup labels through
    // THREE consumers (the q192/q209/q216 move) — one-shot (q62),
    // batch-incremental (q219), and this stream. Each micro-batch of
    // near-dup edges folds through CcIndex.appendWave with wave id =
    // the STREAMING batch id: the prior-state read excludes the
    // batch's own delta, so a checkpoint replay recomputes
    // bit-identical rows and REPLACES its delta — exactly-once by
    // construction (CcIndexSpec pins the replay row-for-row). Edge
    // waves split by a hash of the pair — merging is order-
    // independent, so batching needs no contract (CcIndexSpec pins
    // 4-way random splits; here each drain folds its wave as ONE
    // micro-batch, since every CC fold pays an iterative label-
    // propagation chain and the multi-fold identity is already
    // gate-covered by q219's three waves). The stream is STARTED
    // TWICE on one checkpoint, putting the resume path itself under
    // the gate; per-wave commits stay bounded by moved rows (touched
    // components + batch — the q219 state-IO discipline).
    Q(
      "q221_stream_dedup_components",
      (s, dir) => {
        val out = Q.fresh(s, "q221_streamcc", dir)
        val idx = CcIndex(s"$out/store")
        // derived once, landed once (two wave writes filter it)
        Q.pinned(nearDupPairs(s, dir)) { pairs =>
          Replay.stream(s, out,
              Replay.split(pairs, 2, col("name_a"), col("name_b")),
              parts = 2) { (b, id) =>
            // threshold 0 so the policy fires under this two-batch gate
            idx.compactBefore(s, id, maxDeltas = 0)
            idx.appendWave(s, b, id)
          }
        }
        idx.labels(s)
          .select(col("id").as("name"), col("comp").as("component"))
          .orderBy("name")
      },
      Some(dedupComponentsOracleSql)),

    // ----------------------------------------------------------------
    // q63: the SAME dedup-component problem solved by alternating
    // large-star/small-star contraction
    // ([[graft.operators.ConnectedComponents.componentsStar]]) — O(log^2 n)
    // rounds on any graph vs diameter rounds for q62's label propagation.
    // Checked against the identical recursive-closure oracle, so both
    // distributed algorithms carry independent oracle-exact evidence.
    Q(
      "q63_dedup_components_star",
      (s, dir) => {
        val pairs = nearDupPairs(s, dir)
        ConnectedComponents.componentsStar(pairs)
          .select(col("id").as("name"), col("comp").as("component"))
          .orderBy("name")
      },
      Some(dedupComponentsOracleSql)),

    // ----------------------------------------------------------------
    // q73: dedup-cluster centrality — 5 rounds of PageRank over the
    // same fuzzy-pair graph, in INTEGER micro-unit arithmetic. Why:
    // after q62 groups duplicates, the keeper should be the most
    // CENTRAL variant, not the lexicographic minimum; PageRank on the
    // similarity graph is that choice. Why integers: float PageRank
    // sums neighbor contributions in nondeterministic order — integer
    // micro-units make the sum exact and associative, so a DuckDB
    // oracle can replay all 5 unrolled iterations bit-for-bit
    // (contribution = rank div degree, damping = *850000 div 1000000).
    // Each round is one keyed join + one keyed agg — diameter-free,
    // fixed depth, the iterative-graph shape that scales.
    Q(
      "q73_dedup_centrality",
      (s, dir) => {
        val names = blockedNames(s, dir)
        val pairs = names.as("a").join(names.as("b"),
            col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name") &&
              levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
          .select(col("a.p_name").as("src"), col("b.p_name").as("dst"))
        val edges = pairs
          .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        var rank = deg.select(col("src").as("node"), lit(1000000L).as("rank"))
        for (_ <- 1 to 5) {
          rank = edges
            .join(deg, Seq("src"))
            .join(rank, col("src") === col("node"))
            .select(col("dst"), expr("rank div deg").as("contrib"))
            .groupBy("dst")
            .agg(expr(
              "cast(150000 + (850000 * sum(contrib)) div 1000000 as bigint) as rank"))
            .select(col("dst").as("node"), col("rank"))
        }
        rank.select(col("node").as("name"), col("rank")).orderBy("name")
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (
          SELECT e.b AS node,
                 CAST(150000 + (850000 * SUM(r.rank // d.deg)) // 1000000
                      AS BIGINT) AS rank
          FROM e JOIN r${i - 1} r ON e.a = r.node
                 JOIN deg d ON e.a = d.node
          GROUP BY e.b)"""
        }.mkString(",\n        ")
        s"""
        WITH n AS (SELECT DISTINCT p_name FROM part),
        blk AS (
          SELECT p_name, SPLIT_PART(p_name, ' ', 2) AS blk FROM n
          QUALIFY ROW_NUMBER() OVER (PARTITION BY SPLIT_PART(p_name, ' ', 2)
                                     ORDER BY p_name) <= 64),
        p AS (
          SELECT a.p_name AS x, b.p_name AS y
          FROM blk a JOIN blk b ON a.blk = b.blk AND a.p_name < b.p_name
                              AND LEVENSHTEIN(a.p_name, b.p_name) <= 2
        ),
        e AS (SELECT x AS a, y AS b FROM p UNION SELECT y, x FROM p),
        deg AS (SELECT a AS node, COUNT(*) AS deg FROM e GROUP BY a),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM deg),
        $iters
        SELECT node AS name, rank FROM r5 ORDER BY name
      """
      }),

    // ----------------------------------------------------------------
    // q84: end-to-end near-dup DEDUP SURVIVORS — the full curation
    // outcome in one query: q35's LSH-verified pairs, thresholded at
    // Jaccard >= 0.5, resolved into duplicate groups by distributed
    // label propagation, canonical = smallest doc_id per group, every
    // document emitted with its canonical id and a keep flag. This is
    // the query a training pipeline actually runs; q35/q62 are its
    // stages. Scale shape: banded equi-joins (never all-pairs) +
    // diameter rounds of keyed joins; the survivors join is a broadcast
    // of the (tiny) component table. Oracle: the same pair SQL feeds a
    // recursive-CTE transitive closure — an independent algorithm, so
    // an over- or under-merge anywhere flips the hash.
    Q(
      "q84_dedup_survivors",
      (s, dir) => {
        val pairs = lshVerifiedPairs(s, dir)
          .where(col("shingle_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val comp = ConnectedComponents.components(pairs)
        Tables.documents(s, dir).select(col("doc_id"))
          .join(broadcast(comp), col("doc_id") === col("id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("comp"), col("doc_id")).cast("bigint").as("canonical_id"))
          .withColumn("is_kept",
            (col("doc_id") === col("canonical_id")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $lshPairsSqlCtes, pe AS (
          SELECT doc_a AS a, doc_b AS b FROM pairsv WHERE shingle_jaccard >= 0.5
          UNION
          SELECT doc_b, doc_a FROM pairsv WHERE shingle_jaccard >= 0.5
        ), reach(id, r) AS (
          SELECT DISTINCT a, a FROM pe
          UNION
          SELECT reach.id, pe.b FROM reach JOIN pe ON pe.a = reach.r
        ), comp AS (
          SELECT id, MIN(r) AS component FROM reach GROUP BY id
        )
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS canonical_id,
               CAST(CASE WHEN COALESCE(c.component, d.doc_id) = d.doc_id
                    THEN 1 ELSE 0 END AS INT) AS is_kept
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        ORDER BY d.doc_id
      """)),

    // ----------------------------------------------------------------
    // q89: per-cluster centroid outlier score — the "off-topic for its
    // cluster" filter of embedding-based curation (the scoring half of
    // SemDeDup-style pruning): every vector gets its cosine to its own
    // label's centroid, negatives flagged as outliers. NO collect, no
    // VectorAssembler round-trip: components quantize to integer
    // micro-units (floor(x*1e6+0.5) — exact in both engines), the
    // centroid is the per-(label,dim) INTEGER component sum (exact,
    // order-free; dividing by n cancels in cosine so it never happens),
    // and the centroid's squared norm accumulates in DECIMAL(38,0)
    // because at 2000+ vectors/label the long would overflow. Shape:
    // dim-explode → (label,dim) partial+final agg → tiny (10x64-row)
    // centroid table BROADCAST back onto the exploded stream →
    // per-vector agg. The only shuffles are keyed aggs; centroids never
    // hit the driver.
    Q(
      "q89_centroid_outliers",
      (s, dir) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val dec = DecimalType(38, 0)
        val v = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            explode(expr("sequence(1, 64)")).as("i"), col("embedding"))
          .withColumn("qv",
            floor(expr("cast(element_at(embedding, i) as double)") * lit(1000000.0)
              + lit(0.5)).cast("long"))
          .select("vec_id", "label", "i", "qv")
        val cent = v.groupBy("label", "i").agg(sum(col("qv")).as("s"))
        val cnorm = cent.groupBy("label")
          .agg(sum(col("s").cast(dec) * col("s").cast(dec)).as("s2"))
        val per = v.join(broadcast(cent), Seq("label", "i"))
          .groupBy("vec_id", "label")
          .agg(
            sum(col("qv") * col("s")).as("dot"),
            sum(col("qv") * col("qv")).as("n2"))
        val cosQ = floor(
          col("dot").cast(DoubleType)
            / (sqrt(col("n2").cast(DoubleType)) * sqrt(col("s2").cast(DoubleType)))
            * lit(1000000.0) + lit(0.5)).cast("long")
        per.join(broadcast(cnorm), Seq("label"))
          .select(col("vec_id"), col("label"), cosQ.as("cos_q"))
          .withColumn("cosine", col("cos_q").cast(DoubleType) / lit(1000000.0))
          .withColumn("is_outlier", (col("cos_q") < 0L).cast("int"))
          .orderBy("vec_id")
      },
      Some("""
        WITH v AS (
          SELECT vec_id, label, i,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS qv
          FROM embeddings, UNNEST(GENERATE_SERIES(1, 64)) AS g(i)),
        cent AS (
          SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s FROM v GROUP BY 1, 2),
        cnorm AS (
          SELECT label, SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS s2
          FROM cent GROUP BY 1),
        per AS (
          SELECT v.vec_id, v.label,
                 CAST(SUM(v.qv * c.s) AS BIGINT) AS dot,
                 CAST(SUM(v.qv * v.qv) AS BIGINT) AS n2
          FROM v JOIN cent c ON v.label = c.label AND v.i = c.i
          GROUP BY 1, 2)
        SELECT p.vec_id, p.label,
               CAST(FLOOR(CAST(p.dot AS DOUBLE)
                 / (SQRT(CAST(p.n2 AS DOUBLE)) * SQRT(CAST(n.s2 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) AS cos_q,
               CAST(FLOOR(CAST(p.dot AS DOUBLE)
                 / (SQRT(CAST(p.n2 AS DOUBLE)) * SQRT(CAST(n.s2 AS DOUBLE)))
                 * 1000000 + 0.5) AS DOUBLE) / 1000000 AS cosine,
               CAST(CASE WHEN CAST(FLOOR(CAST(p.dot AS DOUBLE)
                 / (SQRT(CAST(p.n2 AS DOUBLE)) * SQRT(CAST(n.s2 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) < 0 THEN 1 ELSE 0 END AS INT) AS is_outlier
        FROM per p JOIN cnorm n ON p.label = n.label
        ORDER BY p.vec_id
      """)),

    // ----------------------------------------------------------------
    // q95: near-dup-group-aware train/val/test split — the leakage
    // guard every LLM data pipeline needs and naive hash-splitting
    // breaks: if two near-duplicate documents land in train and test,
    // the eval is contaminated by construction. The split decision is
    // therefore keyed on the CANONICAL id of each doc's duplicate
    // group (q84's components), so every member of a group lands in
    // the same split by construction: md5(canonical) % 100 → 80/10/10.
    // Singletons (no near-dup) split on their own id — same rule,
    // because canonical(id) = id for them. Scale shape: q35's banded
    // pairs + bounded-round components, one broadcast of the tiny
    // component table onto the doc scan, md5 projection — the doc
    // stream itself never shuffles. Oracle: independent recursive-CTE
    // closure + the same md5 rule, so an over/under-merge OR a
    // split-rule mismatch flips the hash.
    Q(
      "q95_leakage_safe_split",
      (s, dir) => {
        val pairs = lshVerifiedPairs(s, dir)
          .where(col("shingle_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val comp = ConnectedComponents.components(pairs)
        val bucket = expr(
          "cast(conv(substring(md5(cast(canonical_id as string)), 1, 15), 16, 10) as bigint) % 100")
        Tables.documents(s, dir).select(col("doc_id"))
          .join(broadcast(comp), col("doc_id") === col("id"), "left")
          .select(
            col("doc_id"),
            coalesce(col("comp"), col("doc_id")).cast("bigint").as("canonical_id"))
          .withColumn("bucket", bucket)
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test"))
          .select("doc_id", "canonical_id", "split")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $lshPairsSqlCtes, pe AS (
          SELECT doc_a AS a, doc_b AS b FROM pairsv WHERE shingle_jaccard >= 0.5
          UNION
          SELECT doc_b, doc_a FROM pairsv WHERE shingle_jaccard >= 0.5
        ), reach(id, r) AS (
          SELECT DISTINCT a, a FROM pe
          UNION
          SELECT reach.id, pe.b FROM reach JOIN pe ON pe.a = reach.r
        ), comp AS (
          SELECT id, MIN(r) AS component FROM reach GROUP BY id
        ), canon AS (
          SELECT d.doc_id,
                 COALESCE(c.component, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        SELECT doc_id, canonical_id,
               CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(canonical_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST('0x' || SUBSTR(MD5(CAST(canonical_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM canon
        ORDER BY doc_id
      """)),

    // ----------------------------------------------------------------
    // q98: product-quantization ADC scoring — the FAISS-style ANN path
    // the q37/q38/q49 family doesn't cover: vectors compress to 8
    // one-byte CODES (sign pattern of each 8-dim subspace; a learned
    // PQ would use k-means codebooks, same machinery) and query-time
    // scoring touches ONLY codes + a per-query 8x256 lookup table
    // (asymmetric distance computation) — 8 bytes per candidate
    // instead of 256, which is the memory-bandwidth difference that
    // makes billion-vector scans feasible. Everything is integer
    // micro-unit arithmetic: the ADC table entries are exact signed
    // sums of quantized query components, the score is an integer sum
    // over 8 table hits, ranking ties break on cand_id. Shape: tiny
    // (queries x 2048)-row table built from exploded grids and
    // BROADCAST; candidates explode to 8 code rows, equi-join on
    // (subspace, code), one keyed agg, rank window top-5.
    Q(
      "q98_pq_adc_ann",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // candidate codes: 8 one-byte codes per vector (the persisted
        // index of a production deployment — scoring never rereads the
        // raw embedding; q109 maintains exactly this table
        // incrementally via operators/CodeIndex)
        val codes = emb
          .select(col("vec_id").as("cand_id"),
            explode(expr("sequence(0, 7)")).as("sub"), col("embedding"))
          .withColumn("code", expr(graft.operators.CodeIndex.codeExpr))
          .select("cand_id", "sub", "code")
        pqAdcSearch(s, emb, codes)
      },
      Some(pqAdcOracleSql)),

    // ----------------------------------------------------------------
    // q103: INCREMENTAL LSH dedup index replay — the maintenance story
    // of the q35 family. Four ingest batches (doc_id % 4) upsert into
    // graft.operators.LshIndex's bucketed state (df counts, frozen
    // capped sets, band buckets); each batch's near-dup pairs against
    // everything indexed so far are emitted ONCE, at the later member's
    // batch, verified with exact Jaccard over the FROZEN stored sets —
    // per-batch work is O(batch + touched state buckets), never a
    // corpus recompute. Incremental semantics differ from q35's batch
    // semantics BY DESIGN and the oracle models them exactly: a doc's
    // capped shingle set uses the df counts CUMULATIVE THROUGH ITS OWN
    // batch (index entries are immutable; later batches may heat a
    // shingle past the cap without rewriting old sets), and bucket
    // occupancy caps by ARRIVAL order (batch, doc_id), not global
    // doc_id order.
    Q(
      "q103_incremental_lsh_dedup",
      (s, dir) => {
        val out = Q.fresh(s, "q103_lshidx", dir)
        // scanned ONCE (the q221 move): four batch slices re-read the
        // text table otherwise
        Q.pinned(Tables.documents(s, dir)) { docs =>
          // each batch's emission is localCheckpoint-materialized by
          // upsertBatch, so the frames stay valid across later upserts —
          // union them directly (the emit-parquet round trip was 5 extra
          // jobs per replay for bytes nothing else read).
          // CROSS-BATCH PIPELINE (LshIndex.upsertBatchPipelined): the
          // only serial dependency between batches is the in-memory
          // state chain — batch K+1's prep (shingle explode + counts)
          // overlaps batch K's chain, K's exact-Jaccard verify and
          // ordered store commit overlap K+1's chain, and prior-state
          // reads come from the carried cache pieces instead of
          // re-scanning the store. Bit-identical to the serial
          // store-read replay (LshIndexSpec pins the equivalence).
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val batches = (0 to 3).map(k => docs.where(col("doc_id") % 4 === k))
          val idx = graft.operators.LshIndex(s"$out/index")
          var hist = Vector.empty[graft.operators.LshIndex.BatchState]
          var commit: Future[Unit] = Future.unit
          var prep = graft.operators.LshIndex.prepareBatch(s, batches(0))
          val pairFutures = (0 to 3).map { k =>
            val next =
              if (k < 3) Some(Future(graft.operators.LshIndex.prepareBatch(s, batches(k + 1))))
              else None
            val (pairsF, st, cf) = idx.upsertBatchPipelined(
              s, batches(k),
              batchId = k, dfCap = dfCap, bucketCap = bucketCap,
              prepared = Some(prep), history = Some(hist), prevCommit = commit)
            hist = hist :+ st; commit = cf
            next.foreach(f => prep = Await.result(f, Duration.Inf))
            pairsF
          }
          val result = pairFutures.map(Await.result(_, Duration.Inf))
            .reduce(_.unionByName(_)).orderBy("doc_a", "doc_b")
          graft.operators.LshIndex.release(hist)
          // every batch's pipeline (and its commit) has been awaited; the
          // returned union reads the per-batch pair checkpoints, not docs
          result
        }
      },
      Some(s"""
        WITH e0 AS (
          SELECT doc_id, CAST(doc_id % 4 AS INT) AS bt, UNNEST($trisSql) AS tri
          FROM (SELECT doc_id, $toksSql AS toks FROM documents)
        ), dfc AS (
          SELECT tri, bt, COUNT(*) AS c FROM e0 GROUP BY 1, 2
        ), dfcum AS (
          SELECT tri, bt, SUM(c) OVER (PARTITION BY tri ORDER BY bt) AS cum
          FROM dfc
        ), e AS (
          SELECT e0.doc_id, e0.bt, e0.tri
          FROM e0 JOIN dfcum ON e0.tri = dfcum.tri AND e0.bt = dfcum.bt
          WHERE dfcum.cum <= $dfCap
        ), t AS (
          SELECT doc_id, bt, $shingleHashSql AS h FROM e
        ), s AS (
          SELECT doc_id, bt, seed, MIN($affineExpr) AS mh
          FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 11)) AS seed)
          GROUP BY 1, 2, 3
        ), b0 AS (
          SELECT doc_id, bt, seed // 4 AS band,
                 MD5(STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bkey
          FROM s GROUP BY 1, 2, 3
        ), b AS (
          SELECT doc_id, bt, band, bkey FROM b0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY bt, doc_id)
                    <= $bucketCap
        ), cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 CAST(GREATEST(x.bt, y.bt) AS INT) AS emit_batch
          FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
                           AND x.doc_id < y.doc_id
        ), sets AS (
          SELECT doc_id, LIST(tri) AS ts FROM e GROUP BY 1
        )
        SELECT doc_a, doc_b, emit_batch,
               LEN(LIST_INTERSECT(sa.ts, sb.ts))
                 / (LEN(sa.ts) + LEN(sb.ts) - LEN(LIST_INTERSECT(sa.ts, sb.ts)))
                 AS shingle_jaccard
        FROM cand
        JOIN sets sa ON sa.doc_id = doc_a
        JOIN sets sb ON sb.doc_id = doc_b
        ORDER BY doc_a, doc_b
      """)),

    // ----------------------------------------------------------------
    // q104: INCREMENTAL embedding near-dup index replay — q103's move
    // applied to the q55 family. Sign keys depend only on a vector's
    // own embedding, so incremental keys equal batch keys exactly —
    // the one capacity decision is the band WIDTH, frozen at index
    // creation (stored keys are immutable; the registry provisions it
    // from the full table count, the number a deployment plans with,
    // and the oracle mirrors that with the same CASE over COUNT(*)).
    // Four vec_id % 4 batches upsert into graft.operators.EmbIndex;
    // pairs are emitted once, at the later member's batch, verified
    // with the q55-quantized cosine over the stored vectors.
    Q(
      "q104_incremental_embedding_neardup",
      (s, dir) => {
        val out = Q.fresh(s, "q104_embidx", dir)
        val r = adaptiveWidthLit(embCount(s, dir), 32)
        // derived ONCE (the q221 move): four batch filters consume the
        // embeddings scan
        val idx = graft.operators.EmbIndex(s"$out/index")
        val perBatch = Q.pinned(Tables.embeddings(s, dir)) { vecs =>
          (0 to 3).map { k =>
            idx.upsertBatch(
              s, vecs.where(col("vec_id") % 4 === k),
              batchId = k, width = r, bucketCap = 128)
          }
        }
        // every batch is committed and its pairs checkpoint-materialized;
        // the returned union reads those checkpoints, not vecs
        perBatch.reduce(_.unionByName(_)).orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        e AS (
          SELECT vec_id, CAST(vec_id % 4 AS INT) AS bt, embedding,
                 ${dotSql("embedding", "embedding")} AS n2,
                 ${adaptiveWidthSql(32)} AS r
          FROM embeddings, nn
        ), keyed0 AS (
          SELECT vec_id, bt, 0 AS band, ${signKeyLowSql("r")} AS bkey FROM e
          UNION ALL
          SELECT vec_id, bt, 1 AS band, ${signKeyHighSql("r")} AS bkey FROM e
        ), keyed AS (
          SELECT vec_id, bt, band, bkey FROM keyed0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY bt, vec_id)
                    <= 128
        ), cand AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
                 CAST(GREATEST(x.bt, y.bt) AS INT) AS emit_batch
          FROM keyed x JOIN keyed y ON x.band = y.band AND x.bkey = y.bkey
                                   AND x.vec_id < y.vec_id
        ), scored AS (
          SELECT vec_a, vec_b, emit_batch,
                 CAST(FLOOR(${dotSql("a.embedding", "b.embedding")}
                   / (SQRT(a.n2) * SQRT(b.n2)) * 1000000.0 + 0.5) AS BIGINT) AS sim_q
          FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
        )
        SELECT vec_a, vec_b, emit_batch,
               CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim
        FROM scored WHERE sim_q >= 350000
        ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q109: INCREMENTAL PQ code index — q98's maintenance story,
    // completing the incremental-index family (q103 shingle LSH, q104
    // embedding sign keys, and now the ADC code table). Four vec_id % 4
    // ingest batches each encode ONLY their own vectors and append the
    // codes to operators/CodeIndex's DeltaStore (O(batch) writes, one
    // commit per batch; the policy's fold before batch 2 proves codes
    // survive it); the ADC search then serves the fixed query workload
    // from the MAINTAINED store — the corpus is never re-encoded. Sign-
    // pattern codes are per-row deterministic, so the maintained table
    // is bit-identical to q98's inline one and the SAME oracle hashes
    // both: one green row certifies encode-once ingest, delta/base
    // covering, and the served search end-to-end.
    Q(
      "q109_incremental_pq_codes",
      (s, dir) => {
        val out = Q.fresh(s, "q109_codeidx", dir)
        // derived ONCE (the q221 move): four batch filters + the ADC
        // search consume the embeddings scan
        val emb = Tables.embeddings(s, dir).localCheckpoint()
        val idx = graft.operators.CodeIndex(out)
        (0 to 3).foreach { k =>
          idx.compactBefore(s, k, maxDeltas = 1)
          idx.appendBatch(s, emb.where(col("vec_id") % 4 === k), batchId = k)
        }
        pqAdcSearch(s, emb, idx.codes(s))
      },
      Some(pqAdcOracleSql)),

    // ----------------------------------------------------------------
    // q163: HARD-NEGATIVE MINING for contrastive training — for every
    // anchor vector, the most-similar in-bucket neighbor that is NOT a
    // near-duplicate (q55's dup threshold): near-dups are false
    // negatives that poison a contrastive loss, so they are EXCLUDED
    // and the exclusion count is reported per anchor. Scale shape: one
    // self-join keyed on the adaptive sign bucket (occupancy ~32 at ANY
    // corpus size — the q38/q55 knob), so candidate pairs total n·occ,
    // never all-pairs; the top-1 pick and the exclusion count share ONE
    // window partitioning (dups sort AFTER non-dups, so row 1 is the
    // best non-dup whenever one exists) — a single exchange + sort
    // serves both. Anchors whose bucket holds only near-dups (or
    // nothing) drop out, identically in the oracle.
    Q(
      "q163_hard_negative_mining",
      (s, dir) => {
        val r = adaptiveWidthLit(embCount(s, dir), 32)
        val emb = Tables.embeddings(s, dir)
          .withColumn("n2", DotProductF.dot(col("embedding"), col("embedding")))
          .withColumn("bucket", expr(signKeyLowExpr(r.toString)))
        val a = emb.select(col("vec_id").as("anchor_id"), col("embedding").as("ea"),
          col("n2").as("na"), col("bucket"))
        val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ec"),
          col("n2").as("nc"), col("bucket"))
        val dot = DotProductF.dot(col("ea"), col("ec"))
        val simq = floor(dot / (sqrt(col("na")) * sqrt(col("nc"))) * lit(1000000.0) + lit(0.5))
          .cast("bigint")
        val scored = a.join(c, Seq("bucket"))
          .where(col("anchor_id") =!= col("cand_id"))
          .select(col("anchor_id"), col("cand_id"), simq.as("sim_q"))
          .withColumn("is_dup", when(col("sim_q") >= 350000, 1L).otherwise(0L))
        val w = Window.partitionBy("anchor_id")
          .orderBy(col("is_dup").asc, col("sim_q").desc, col("cand_id").asc)
        scored
          .withColumn("rk", row_number().over(w))
          .withColumn("n_dups_excluded", sum(col("is_dup")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .where(col("rk") === 1 && col("is_dup") === 0)
          .select(col("anchor_id"), col("cand_id").as("hard_neg_id"),
            (col("sim_q").cast(DoubleType) / 1000000.0).as("cosine_sim"),
            col("n_dups_excluded"))
          .orderBy("anchor_id")
      },
      Some(s"""
        WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        e0 AS (
          SELECT vec_id, embedding,
                 ${dotSql("embedding", "embedding")} AS n2,
                 ${adaptiveWidthSql(32)} AS r
          FROM embeddings, nn
        ), e AS (
          SELECT vec_id, embedding, n2,
                 ${signKeyLowSql("r")} AS bucket
          FROM e0
        ), scored AS (
          SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
                 CAST(FLOOR(${dotSql("a.embedding", "c.embedding")}
                   / (SQRT(a.n2) * SQRT(c.n2)) * 1000000.0 + 0.5) AS BIGINT) AS sim_q
          FROM e a JOIN e c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
        ), flagged AS (
          SELECT *, CASE WHEN sim_q >= 350000 THEN 1 ELSE 0 END AS is_dup
          FROM scored
        )
        SELECT anchor_id, cand_id AS hard_neg_id,
               CAST(sim_q AS DOUBLE) / 1000000.0 AS cosine_sim,
               CAST(n_dups_excluded AS BIGINT) AS n_dups_excluded
        FROM (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY is_dup ASC, sim_q DESC, cand_id ASC) AS rk,
                 SUM(is_dup) OVER (PARTITION BY anchor_id) AS n_dups_excluded
          FROM flagged
        ) WHERE rk = 1 AND is_dup = 0 ORDER BY anchor_id
      """)),

    // ----------------------------------------------------------------
    // q164: INT8 embedding quantization (symmetric absmax — the
    // fp32→int8 storage step a 100 TB embedding store runs before
    // indexing: 4x smaller, and ADC scans read int8): per-vector
    // scale = absmax/127, codes = clamp(round-half-up(v/scale)),
    // reported as integer-exact checksums (sum, L1, saturation count)
    // plus a quantized reconstruction MSE. Everything is per-row
    // projection work — ZERO data shuffles at any corpus size (the
    // output orderBy is the only exchange). Bit-determinism: absmax is
    // an order-free max; the rounding is the floor(x+0.5) spelling;
    // the residual fold runs in element order with a +0.0 seed
    // (IEEE 0.0+x ≡ x for the non-negative squares), so DuckDB's
    // seedless LIST_REDUCE reconstructs every bit. Zero vectors are
    // excluded (scale undefined) identically on both sides.
    Q(
      "q164_int8_quantization",
      (s, dir) => {
        Tables.embeddings(s, dir)
          .withColumn("absmax", expr("aggregate(embedding, cast(0.0 as double), " +
            "(a, x) -> greatest(a, abs(cast(x as double))))"))
          .where(col("absmax") > 0.0)
          .withColumn("scale", col("absmax") / lit(127.0))
          .withColumn("codes", expr("transform(embedding, x -> " +
            "least(cast(127 as bigint), greatest(cast(-127 as bigint), " +
            "cast(floor(cast(x as double) / scale + 0.5d) as bigint))))"))
          .withColumn("code_sum",
            expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + c)"))
          .withColumn("code_l1",
            expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + abs(c))"))
          .withColumn("n_sat", expr("aggregate(codes, cast(0 as bigint), " +
            "(a, c) -> a + (case when c = 127 or c = -127 then 1 else 0 end))"))
          .withColumn("mse", expr("aggregate(zip_with(embedding, codes, " +
            "(x, c) -> (cast(x as double) - cast(c as double) * scale) * " +
            "(cast(x as double) - cast(c as double) * scale)), " +
            "cast(0.0 as double), (a, v) -> a + v)") /
            size(col("embedding")).cast(DoubleType))
          .select(col("vec_id"),
            floor(col("scale") * lit(1e9) + lit(0.5)).cast("bigint").as("scale_q"),
            col("code_sum"), col("code_l1"), col("n_sat"),
            floor(col("mse") * lit(1e12) + lit(0.5)).cast("bigint").as("mse_q"))
          .orderBy("vec_id")
      },
      Some("""
        WITH q0 AS (
          SELECT vec_id, embedding,
                 LIST_REDUCE(LIST_TRANSFORM(embedding,
                   x -> ABS(CAST(x AS DOUBLE))), (a, b) -> GREATEST(a, b)) AS absmax
          FROM embeddings
        ), q1 AS (
          SELECT vec_id, embedding, absmax / 127.0 AS scale
          FROM q0 WHERE absmax > 0.0
        ), q2 AS (
          SELECT vec_id, embedding, scale,
                 LIST_TRANSFORM(embedding, x ->
                   LEAST(CAST(127 AS BIGINT), GREATEST(CAST(-127 AS BIGINT),
                     CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) AS codes
          FROM q1
        )
        SELECT vec_id,
               CAST(FLOOR(scale * 1e9 + 0.5) AS BIGINT) AS scale_q,
               LIST_REDUCE(codes, (a, c) -> a + c) AS code_sum,
               LIST_REDUCE(LIST_TRANSFORM(codes, c -> ABS(c)),
                 (a, c) -> a + c) AS code_l1,
               LIST_REDUCE(LIST_TRANSFORM(codes, c -> CAST(CASE
                   WHEN c = 127 OR c = -127 THEN 1 ELSE 0 END AS BIGINT)),
                 (a, c) -> a + c) AS n_sat,
               CAST(FLOOR(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(embedding, codes),
                   s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) * scale) *
                        (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) * scale)),
                 (a, v) -> a + v) / LEN(embedding) * 1e12 + 0.5) AS BIGINT) AS mse_q
        FROM q2 ORDER BY vec_id
      """)),

    // ----------------------------------------------------------------
    // q180: MinHash estimator CALIBRATION — the index-quality report a
    // production dedup pipeline runs before trusting its LSH tier: for
    // every candidate pair, the signature-level similarity estimate
    // (matching components / 12, the textbook unbiased Jaccard
    // estimator) side by side with the TRUE capped-shingle Jaccard and
    // the absolute error, all in exact ppm integers (matches·1e6 div
    // 12 is pure integer arithmetic; the true ratio is one IEEE
    // division on exact set sizes, quantized). Scale shape: the q35
    // candidate machinery verbatim plus two keyed joins to the 12-wide
    // signature table — candidates are occupancy-capped, never
    // all-pairs, and the signature table is one row per doc.
    Q(
      "q180_minhash_calibration",
      (s, dir) => {
        val mhCols = (0 to 11).map(i => min(expr(affineAtExpr(i))).as(s"mh$i"))
        val sigs = cappedShingles(s, dir)
          .withColumn("h", expr(shingleHashExpr))
          .groupBy("doc_id")
          .agg(mhCols.head, mhCols.tail: _*)
        val aSig = sigs.select(col("doc_id").as("doc_a") +:
          (0 to 11).map(i => col(s"mh$i").as(s"a$i")): _*)
        val bSig = sigs.select(col("doc_id").as("doc_b") +:
          (0 to 11).map(i => col(s"mh$i").as(s"b$i")): _*)
        val matches = (0 to 11)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        lshVerifiedPairs(s, dir)
          .join(aSig, Seq("doc_a"))
          .join(bSig, Seq("doc_b"))
          .withColumn("matches", matches)
          .withColumn("est_ppm", expr("matches * 1000000 div 12"))
          .withColumn("true_ppm",
            floor(col("shingle_jaccard") * lit(1000000.0) + lit(0.5)).cast("bigint"))
          .select(col("doc_a"), col("doc_b"), col("matches"),
            col("est_ppm"), col("true_ppm"),
            abs(col("est_ppm") - col("true_ppm")).as("err_ppm"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH $lshPairsSqlCtes, m AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
                   AS matches
          FROM cand c
          JOIN s sa ON sa.doc_id = c.doc_a
          JOIN s sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
          GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b, m.matches,
               CAST(m.matches * 1000000 // 12 AS BIGINT) AS est_ppm,
               CAST(FLOOR(p.shingle_jaccard * 1000000.0 + 0.5) AS BIGINT)
                 AS true_ppm,
               ABS(CAST(m.matches * 1000000 // 12 AS BIGINT)
                 - CAST(FLOOR(p.shingle_jaccard * 1000000.0 + 0.5) AS BIGINT))
                 AS err_ppm
        FROM pairsv p
        JOIN m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b
        ORDER BY 1, 2
      """))
  )
}
