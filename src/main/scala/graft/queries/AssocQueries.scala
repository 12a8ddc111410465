package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.{BasketIndex, TriIndex}
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Association / decision analytics: market-basket rules, sweep-line
  * peak concurrency, Pareto skyline, leakage-safe target encoding,
  * multi-touch attribution, thresholded triangle counting, and
  * largest-remainder quota allocation.
  *
  * Engine-added (same rationale as EventQueries): the reference's
  * notebooks end at per-coin aggregates; these are the co-occurrence /
  * dominance / credit-assignment reports its schema would need at
  * warehouse scale, plus two training-data ops (target encoding feeds
  * the q26-class feature frames; quota allocation is q70's corpus
  * mixing with an EXACT integer budget).
  *
  * Determinism discipline (Q.scala): exact integer/decimal arithmetic
  * until at most a final double op spelled identically in both engines;
  * timestamps cross the gate as epoch-micros BIGINTs.
  */
object AssocQueries {

  def defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q198: MARKET-BASKET ASSOCIATION RULES at brand grain — for every
    // unordered brand pair sold together in at least one order:
    // support, confidence (a→b), and lift. The classic co-occurrence
    // report (Agrawal-style A-priori at the pair level).
    //
    // Plan shape: lineitem joins the 2-column brand dim broadcast (no
    // fact shuffle for the enrich), collapses to DISTINCT
    // (order, brand) — ONE hash exchange on the composite key, with
    // partial aggregation collapsing duplicate lines map-side — then
    // self-joins AT ORDER GRAIN on that one exchange (reused for both
    // sides), so candidate pairs are bounded by per-order basket
    // breadth squared (≤ |brands|² = 625), never corpus². Brand
    // marginals (≤ 25 rows) and the order-count scalar broadcast back
    // onto the ≤ 300-row pair table. Counts are exact BIGINTs; each
    // measure is at most two IEEE ops written identically in the
    // oracle (support/confidence: one division; lift: one multiply
    // then one divide on exactly-representable integers).
    Q(
      "q198_market_basket",
      (s, dir) => {
        val ob = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
          .join(
            broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
          .distinct()
        val pairs = ob.select(col("ok"), col("brand").as("brand_a"))
          .join(ob.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
          .where(col("brand_a") < col("brand_b"))
          .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
        basketReport(pairs,
          ob.groupBy("brand").agg(count(lit(1)).as("n")),
          ob.agg(countDistinct("ok").as("n_orders")))
      },
      Some(basketOracleSql)),

    // ----------------------------------------------------------------
    // q199: PEAK CONCURRENCY, sweep line over sessions — per day, the
    // maximum number of simultaneously-active 30-min-gap sessions and
    // the first minute that reaches it. The capacity-planning twin of
    // q54's sessionization.
    //
    // Plan shape: sessionize per user (two keyed window passes at
    // event grain — the q54 gaps-and-islands shape), emit ±1 deltas at
    // session start / end+1 MINUTES, and collapse them to minute grain
    // in one hash aggregate (map-side combine first). The running-sum
    // window that turns deltas into concurrency then runs at MINUTE
    // grain — calendar-bounded like q190's cohort window (~525k rows
    // per data-YEAR at ANY corpus size), never event grain, so the
    // unpartitioned window is metadata-sized by construction. Days
    // with NO delta row at all are all-plateau and (documented) absent
    // from the report; both engines apply the same rule. Days that DO
    // have deltas additionally get a synthetic ZERO delta at their
    // first minute (emitted from the same explode), so an overnight
    // CARRY-IN plateau competes for the day's peak — without the seed,
    // a day whose true maximum is the carried concurrency before its
    // first in-day delta (e.g. the first delta is a session end) would
    // report only the post-delta maxima. All arithmetic is exact
    // integer micros/minutes.
    Q(
      "q199_peak_concurrency",
      (s, dir) => {
        val gapUs = 30L * 60 * 1000000
        val ev = Tables.df(s, dir, "events")
          .selectExpr("user_id", s"${Tables.eventsTsMicrosSql(s, dir)} as us")
        val byUser = Window.partitionBy("user_id").orderBy("us")
        val sess = ev
          .withColumn("prev", lag("us", 1).over(byUser))
          .withColumn("new_s",
            when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("sid", sum("new_s").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(min("us").as("s_us"), max("us").as("e_us"))
        // one explode, not a union of two selects over `sess` — a union
        // would run the two-window sessionization subtree once PER BRANCH
        // (only exchanges are dedup-reused), doubling the dominant cost
        val deltas = sess.select(explode(array(
            struct(expr("s_us div 60000000").as("m"), lit(1L).as("d")),
            struct((expr("e_us div 60000000") + 1).as("m"),
              lit(-1L).as("d")),
            // carry-in seeds: a ZERO delta at the first minute of each
            // day a real delta touches, so the overnight plateau level
            // competes for that day's peak (same explode — no second
            // pass over the sessionization subtree)
            struct(expr("(s_us div 60000000) div 1440 * 1440").as("m"),
              lit(0L).as("d")),
            struct(expr("((e_us div 60000000) + 1) div 1440 * 1440").as("m"),
              lit(0L).as("d")))).as("x"))
          .select(col("x.m").as("m"), col("x.d").as("d"))
          .groupBy("m").agg(sum("d").as("d"))
        val run = deltas.withColumn("conc", sum("d").over(
            Window.orderBy("m")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("day", expr("m div 1440"))
        // day peak via a day-keyed window, NOT a run⋈peaks self-join —
        // a self-join would recompute the whole sessionization subtree
        // for the peaks side (plan-pinned: one events scan)
        run.withColumn("peak", max("conc").over(Window.partitionBy("day")))
          .where(col("conc") === col("peak"))
          .groupBy("day", "peak")
          .agg(min("m").as("first_peak_m"))
          .select("day", "peak", "first_peak_m")
          .orderBy("day")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        ), flagged AS (
          SELECT user_id, us,
                 CASE WHEN LAG(us) OVER w IS NULL
                        OR us - LAG(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), numbered AS (
          SELECT user_id, us,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        ), sess AS (
          SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us
          FROM numbered GROUP BY 1, 2
        ), d AS (
          SELECT s_us // 60000000 AS m, CAST(1 AS BIGINT) AS d FROM sess
          UNION ALL
          SELECT e_us // 60000000 + 1, CAST(-1 AS BIGINT) FROM sess
          UNION ALL
          SELECT (s_us // 60000000) // 1440 * 1440, CAST(0 AS BIGINT) FROM sess
          UNION ALL
          SELECT ((e_us // 60000000) + 1) // 1440 * 1440, CAST(0 AS BIGINT)
          FROM sess
        ), md AS (
          SELECT m, CAST(SUM(d) AS BIGINT) AS d FROM d GROUP BY 1
        ), run AS (
          SELECT m, m // 1440 AS day,
                 CAST(SUM(d) OVER (ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS conc
          FROM md
        ), pk AS (
          SELECT day, MAX(conc) AS peak FROM run GROUP BY 1
        )
        SELECT r.day, p.peak, MIN(r.m) AS first_peak_m
        FROM run r JOIN pk p ON r.day = p.day AND r.conc = p.peak
        GROUP BY 1, 2
        ORDER BY r.day
      """)),

    // ----------------------------------------------------------------
    // q200: PARETO SKYLINE of parts — minimize p_retailprice, maximize
    // p_size; a part survives iff no other part is ≤ price AND ≥ size
    // with at least one strict. Equal (price, size) twins don't
    // dominate each other, so both survive.
    //
    // Plan shape (the scale path — dominance is quadratic if naive):
    // (1) PRUNE: bucket price into cells whose width the operator
    //     picks ITSELF from a bounded deterministic sample of the
    //     price range (~1024 occupied cells at any domain — no caller
    //     knob to get wrong), take per-bucket max size (one
    //     map-combined aggregate to the bounded cell table), run
    //     the strictly-earlier-bucket running max over that bounded
    //     table, and broadcast it back as a filter — any part at or
    //     under its threshold has a strictly cheaper, no-smaller
    //     dominator and is eliminated at the scan. Survivors ≈
    //     skyline + one bucket of boundary noise.
    // (2) EXACT: on the pruned candidate set (skyline-sized, not
    //     corpus-sized) keep per-price max-size ties, then require
    //     size strictly above the running max over STRICTLY cheaper
    //     candidate prices (a ROWS window at distinct-price grain, so
    //     "strictly cheaper" needs no range-frame trick).
    // Dominance is transitive, so pruning by any dominator is safe and
    // the exact pass over survivors returns the true skyline. The
    // oracle is the direct NOT EXISTS dominance spelling — a different
    // formulation entirely, which is the point of the gate.
    Q(
      "q200_pareto_skyline",
      (s, dir) => {
        graft.operators.Skyline.skyline2d(
          Tables.part(s, dir).select("p_partkey", "p_retailprice", "p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
          .select("p_partkey", "p_retailprice", "p_size")
          .orderBy("p_partkey")
      },
      Some("""
        SELECT p_partkey, p_retailprice, p_size
        FROM part p
        WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
          AND NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice
            AND q.p_size >= p.p_size
            AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        ORDER BY p_partkey
      """)),

    // ----------------------------------------------------------------
    // q201: LEAVE-ONE-OUT TARGET ENCODING — encode o_orderpriority by
    // the mean o_totalprice of OTHER orders in the category:
    // enc_i = (Σ_cat − x_i) / (n_cat − 1). The standard leakage-safe
    // categorical encoder (each row's own target never feeds its
    // encoding — the q95 train/test-hygiene discipline applied to a
    // feature transform).
    //
    // Plan shape: one 5-row category aggregate (decimal-exact sum +
    // count) broadcast back onto the scan — NO window partitioned by a
    // 5-value key (that shape puts a fifth of the corpus in one window
    // partition; the broadcast join keeps the fact scan pipelined).
    // Σ and x are DECIMAL(·,2), the subtraction is exact, and the one
    // double op is the final division; n_cat = 1 yields NULL in both
    // engines rather than a 0/0.
    Q(
      "q201_target_encoding_loo",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
            col("o_totalprice"))
        val cat = o.groupBy("prio")
          .agg(sum(Q.dec2(col("o_totalprice"))).as("cat_sum"),
            count(lit(1)).as("n_cat"))
        o.join(broadcast(cat), Seq("prio"))
          .select(col("o_orderkey"), col("prio"), col("n_cat"),
            when(col("n_cat") > 1,
              (col("cat_sum") - Q.dec2(col("o_totalprice"))).cast("double") /
                (col("n_cat") - 1)).as("enc_loo"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH cat AS (
          SELECT o_orderpriority AS prio,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS cat_sum,
                 COUNT(*) AS n_cat
          FROM orders GROUP BY 1
        )
        SELECT o_orderkey, prio, n_cat,
               CASE WHEN n_cat > 1 THEN
                 CAST(cat_sum - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                   / (n_cat - 1)
               END AS enc_loo
        FROM orders JOIN cat ON o_orderpriority = cat.prio
        ORDER BY o_orderkey
      """)),

    // ----------------------------------------------------------------
    // q202: MULTI-TOUCH ATTRIBUTION with an EXACT integer budget —
    // every purchase splits 1,000,000 credit-ppm across its view/click
    // touches in the strictly-prior 7 days: each touch gets ⌊1e6/n⌋
    // and the LATEST touch absorbs the remainder, so per-conversion
    // credit sums to exactly 1e6 by construction (no float weights to
    // drift); touchless purchases credit a "(none)" channel. Reported
    // at channel grain.
    //
    // Plan shape: the q153 LEFT OUTER native band join (purchases ←
    // touches, band [−7d, −1µs] on integer micros — one exchange+sort
    // per side, merge memory bounded by band occupancy), then ONE
    // window pass per conversion (count + latest-touch row_number,
    // partition = conversion id, bounded by per-user 7-day activity)
    // and a channel-grain aggregate. Ties on touch time break on the
    // unique event id, so the remainder assignment is deterministic.
    Q(
      "q202_multitouch_attribution",
      (s, dir) => {
        import graft.operators.BandJoin
        val W = 7L * 24 * 3600 * 1000000L
        val ev = Tables.df(s, dir, "events")
          .selectExpr("event_id", "user_id",
            s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            col("t_us").as("c_us"))
        val touches = ev.where(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("t_us"),
            col("event_id").as("touch_id"),
            col("event_type").as("channel0"))
        val joined = BandJoin.bandJoin(
          purch, touches,
          "user_id", "user_id", "c_us", "t_us",
          lo = -W - 1, hi = -1,
          payload = Seq("touch_id", "channel0", "t_us"), leftOuter = true)
        val byConv = Window.partitionBy("conv_id")
        val credited = joined
          .withColumn("n", count("touch_id").over(byConv))
          .withColumn("rk", row_number().over(
            byConv.orderBy(col("t_us").desc_nulls_last,
              col("touch_id").desc_nulls_last)))
          .select(col("conv_id"),
            coalesce(col("channel0"), lit("(none)")).as("channel"),
            col("touch_id"),
            when(col("touch_id").isNull, lit(1000000L))
              .otherwise(expr("1000000 div n") +
                when(col("rk") === 1, expr("1000000 % n")).otherwise(0L))
              .as("credit_ppm"))
        credited.groupBy("channel")
          .agg(countDistinct("conv_id").as("n_conversions"),
            count("touch_id").as("n_touches"),
            sum("credit_ppm").as("credit_ppm"))
          .orderBy("channel")
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                 event_type
          FROM events
        ), p AS (
          SELECT event_id AS conv_id, user_id, t_us AS c_us
          FROM e WHERE event_type = 'purchase'
        ), t AS (
          SELECT event_id AS touch_id, user_id, t_us, event_type AS channel0
          FROM e WHERE event_type IN ('view', 'click')
        ), j AS (
          SELECT p.conv_id, t.touch_id, t.channel0, t.t_us
          FROM p LEFT JOIN t ON t.user_id = p.user_id
                            AND t.t_us >= p.c_us - 604800000000
                            AND t.t_us < p.c_us
        ), w AS (
          SELECT conv_id, touch_id, channel0,
                 COUNT(touch_id) OVER (PARTITION BY conv_id) AS n,
                 ROW_NUMBER() OVER (PARTITION BY conv_id
                   ORDER BY t_us DESC NULLS LAST,
                            touch_id DESC NULLS LAST) AS rk
          FROM j
        ), credited AS (
          SELECT conv_id,
                 COALESCE(channel0, '(none)') AS channel,
                 touch_id,
                 CASE WHEN touch_id IS NULL THEN 1000000
                      ELSE 1000000 // n
                           + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END
                 END AS credit_ppm
          FROM w
        )
        SELECT channel,
               COUNT(DISTINCT conv_id) AS n_conversions,
               COUNT(touch_id) AS n_touches,
               CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm
        FROM credited
        GROUP BY 1
        ORDER BY channel
      """)),

    // ----------------------------------------------------------------
    // q203: TRIANGLE COUNT of the thresholded co-supply graph —
    // suppliers are nodes, an edge joins two suppliers filling ≥ 5
    // common orders. The support threshold is part of the semantics
    // AND the scale contract: raw co-occurrence density rises with
    // corpus size, but the ≥5 filter keeps only stable relationships,
    // so the graph stays sparse as facts grow.
    //
    // Plan shape: (order, supplier) distinct → per-order pairs (basket-
    // bounded) → thresholded distinct edges; then DEGREE-ORIENTED
    // wedge counting (the Schank–Wagner / Latapy bound): orient every
    // edge from the (degree, id)-smaller endpoint, build wedges by
    // joining out-edges AT THE APEX KEY with the (degree, id) order
    // canonicalizing each wedge once, and close them with one more
    // equi-join. Out-degrees are bounded by √(2·|E|), so wedge volume
    // is O(|E|^{3/2}) instead of Σ deg² — the standard distributed-
    // triangle shape; every join is keyed, nothing is all-pairs. The
    // oracle counts the same triangles by the naive ordered 3-way
    // self-join (a < b < c) — a fully different derivation.
    Q(
      "q203_triangle_count",
      (s, dir) => {
        graft.operators.Triangles.count(triEdges(s, dir))
      },
      Some(triangleOracleSql)),

    // ----------------------------------------------------------------
    // q224: INCREMENTAL TRIANGLE maintenance — q203's count kept up to
    // date under APPENDED edges, the maintenance move applied to the
    // graph-statistics tier: each wave counts ONLY triangles with ≥1
    // new edge (Triangles.countDelta — classification is by EDGE AGE,
    // so the total folds additively under any orientation drift), with
    // wedge volume per wave batch-scaled (|Δ|·√(2|E|)), never the full
    // O(|E|^1.5) recount. STATE has a keyed access path
    // (operators/TriIndex): adjacency bucketed by node + additively-
    // maintained degrees, so each fold READS only the batch endpoints'
    // buckets — never the accumulated edge list — and the report
    // aggregates the dim-sized degree table, not the edges (TriIndex's
    // Scaladoc carries the incidence argument; TriIndexSpec asserts
    // the pruned reads and the fold identity across random splits).
    // Edge waves split by hash — disjoint by construction (countDelta's
    // precondition) and order-free (triangle membership is
    // append-order-independent). Held to q203's naive 3-way-self-join
    // oracle VERBATIM.
    Q(
      "q224_triangle_count_incremental",
      (s, dir) => {
        val idx = TriIndex(s"${Q.fresh(s, "q224_triidx", dir)}/store")
        // (no mid-stream compact here: the fold-through-compact path is
        // exercised by q225's policy and TriIndexSpec; an identity
        // rewrite of the whole adjacency would only re-pay state IO)
        var total = 0L
        Replay.waves(triEdges(s, dir), 3, col("u"), col("v")) { (w, i) =>
          total += idx.foldWave(s, w, i)
        }
        idx.stats(s)
          .select(col("n_nodes"), col("n_edges"), lit(total).as("n_triangles"))
      },
      Some(triangleOracleSql)),

    // ----------------------------------------------------------------
    // q225: STREAMING triangle maintenance — q224's TriIndex fold
    // deployed at the ingestion edge through Replay.stream, making
    // q203's oracle gate the SAME count through three consumers (the
    // q62/q219/q221 move): one-shot
    // (q203), batch-incremental (q224), and this stream. Per
    // micro-batch the state IO is O(batch) on BOTH sides: foldWave
    // appends only the batch's adjacency/degree rows and reads only
    // the batch endpoints' buckets (TriIndex), and the running total
    // is VERSIONED by batch id — newest total below the batch's id
    // plus the fold's delta, with foldWave's reads excluding the
    // batch's own delta — so a checkpoint replay recomputes from the
    // same predecessors and rewrites its versions identically. The
    // report aggregates the maintained degree table, never the
    // accumulated edge list.
    Q(
      "q225_stream_triangles",
      (s, dir) => {
        val out = Q.fresh(s, "q225_streamtri", dir)
        val idx = TriIndex(s"$out/store")
        // derived ONCE, landed twice: without the pin each wave write
        // re-runs the distinct + self-join + threshold aggregate — the
        // query's single heaviest chain — from scratch
        def latestTotalBelow(id: Long): Long =
          Replay.latestBelow(s"$out/total", id).map { k =>
            s.read.parquet(s"$out/total/state=$k").head().getLong(0)
          }.getOrElse(0L)
        Q.pinned(triEdges(s, dir)) { edges =>
          Replay.stream(s, out, Replay.split(edges, 2, col("u"), col("v")),
              parts = 2) { (b, id) =>
            // threshold 0 so the policy fires under this two-batch gate
            idx.compactBefore(s, id, maxDeltas = 0)
            val total = latestTotalBelow(id) + idx.foldWave(s, b, id)
            s.createDataFrame(
                java.util.List.of(org.apache.spark.sql.Row(total)),
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("total",
                    org.apache.spark.sql.types.LongType))))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$out/total/state=$id")
          }
        }
        idx.stats(s)
          .select(col("n_nodes"), col("n_edges"),
            lit(latestTotalBelow(Long.MaxValue)).as("n_triangles"))
      },
      Some(triangleOracleSql)),

    // ----------------------------------------------------------------
    // q220: STREAMING skyline maintenance — q214's fold deployed at
    // the ingestion edge through Replay.stream, making q200's oracle
    // gate the SAME frontier through three consumers (the
    // q192/q209/q216 move): one-shot (q200),
    // batch-incremental (q214), and this stream. Each micro-batch
    // folds frontier ∪ batch through the skyline operator (the
    // skyline(A∪B) = skyline(skyline(A)∪B) identity — frontier-sized
    // + batch-sized, never the accumulated corpus) and writes a
    // VERSIONED state dir keyed by the STREAMING batch id; a batch
    // reads the newest state BELOW its own id, so a checkpoint replay
    // recomputes from the same predecessor and overwrites its own
    // version — deterministic under the replay contract. Three waves,
    // so the version-GC policy below has a superseded version to
    // collect; the report reads the final version. AUTO-GC policy (the
    // snapshot-state analog of delta auto-compaction): at batch start,
    // versions below the batch's replay predecessor can never be read
    // again — neither by this batch nor by a replay of it — and are
    // deleted, bounding live state at two versions.
    Q(
      "q220_stream_skyline",
      (s, dir) => {
        val out = graft.Q.fresh(s, "q220_streamsky", dir)
        val parts = Tables.part(s, dir)
          .select("p_partkey", "p_retailprice", "p_size")
        def latestBelow(id: Long): Option[Long] =
          graft.streaming.Replay.latestBelow(s"$out/sky", id)
        graft.streaming.Replay.stream(s, out,
            (0 until 3).map(i => parts.where(col("p_partkey") % 3 === i)),
            parts = 2) { (b, id) =>
          // version-GC policy: everything below the replay
          // predecessor is unreachable — delete, then assert the
          // bound (predecessor + at most this batch's own stale
          // version from a crashed attempt)
          latestBelow(id).foreach { keep =>
            Option(new java.io.File(s"$out/sky").listFiles())
              .toSeq.flatten
              .filter(f => f.getName.startsWith("state=") &&
                f.getName.stripPrefix("state=").toLong < keep)
              .foreach(graft.Q.rmrf)
            require(Option(new java.io.File(s"$out/sky").listFiles())
              .toSeq.flatten.count(_.getName.startsWith("state=")) <= 2,
              "q220: version GC did not bound live state")
          }
          val prev = latestBelow(id)
            .map(k => s.read.parquet(s"$out/sky/state=$k"))
            .getOrElse(b.limit(0))
          graft.operators.Skyline
            .skyline2d(prev.unionByName(b), "p_retailprice", "p_size")
            .write.mode("overwrite").parquet(s"$out/sky/state=$id")
        }
        s.read.parquet(s"$out/sky/state=${latestBelow(Long.MaxValue).get}")
          .select("p_partkey", "p_retailprice", "p_size")
          .orderBy("p_partkey")
      },
      Some("""
        SELECT p_partkey, p_retailprice, p_size
        FROM part p
        WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
          AND NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice
            AND q.p_size >= p.p_size
            AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        ORDER BY p_partkey
      """)),

    // ----------------------------------------------------------------
    // q217: LOCAL CLUSTERING COEFFICIENTS over q203's thresholded
    // co-supply graph — per supplier node, its triangle count and
    // c(v) = 2·t(v)/(d(v)·(d(v)−1)), the node-grain cohesion report
    // behind community detection and broker detection (low clustering
    // at high degree = a bridge between clusters).
    //
    // Plan shape: the same degree-oriented wedge pipeline as q203
    // (O(|E|^1.5) wedge volume, stats-routed degree joins) with the
    // wedge APEX carried through the closing semi-join; each closed
    // triangle explodes to its three corners (3 rows per triangle —
    // output-bounded), one node-grain aggregate, one left join onto
    // the degree table so triangle-free nodes report 0. The oracle
    // derives the same counts from the naive ordered 3-way self-join
    // with all three corners kept — an independent derivation. The
    // one double expression is spelled identically (the 2.0 literal
    // CAST to DOUBLE against DuckDB's parse-as-DECIMAL, the q207
    // lesson); degree-1 nodes are NULL in both engines.
    Q(
      "q217_clustering_coefficients",
      (s, dir) => {
        val minSupport = 5L
        val os = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
          .distinct()
        val edges = os.select(col("ok"), col("sk").as("u"))
          .join(os.select(col("ok"), col("sk").as("v")), Seq("ok"))
          .where(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("w"))
          .where(col("w") >= minSupport)
          .select("u", "v")
        graft.operators.Triangles.perNode(edges).orderBy("node")
      },
      Some("""
        WITH os AS (
          SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        ), e AS (
          SELECT a.sk AS u, b.sk AS v
          FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
          GROUP BY 1, 2
          HAVING COUNT(*) >= 5
        ), deg AS (
          SELECT node, COUNT(*) AS degree
          FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
          GROUP BY 1
        ), tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1 JOIN e e2 ON e2.u = e1.v
                    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ), corners AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        ), cnt AS (
          SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY 1
        )
        SELECT d.node, d.degree,
               COALESCE(cnt.n_triangles, 0) AS n_triangles,
               CASE WHEN d.degree > 1 THEN
                 CAST(2.0 AS DOUBLE) * COALESCE(cnt.n_triangles, 0)
                   / (CAST(d.degree AS DOUBLE) * (d.degree - 1))
               END AS clustering
        FROM deg d LEFT JOIN cnt USING (node)
        ORDER BY node
      """)),

    // ----------------------------------------------------------------
    // q204: LARGEST-REMAINDER QUOTA ALLOCATION — split a 100,000-slot
    // sampling budget across document sources proportionally to corpus
    // share, with the Hamilton/Hare rounding rule: every source gets
    // ⌊budget·n_s/N⌋, and the sources with the largest remainders
    // (ties → source name) absorb the leftover slots one each, so the
    // grand total is EXACTLY the budget. q70's corpus mixing computes
    // float rates; this is the integer-exact quota layer a sampler
    // actually executes against.
    //
    // Plan shape: one map-combined count to source grain (the only
    // data-sized exchange), then pure integer window arithmetic over
    // the ≤ |sources| quota table. budget·n_s stays in BIGINT (1e5 ×
    // count — overflows only past 9e13 docs; the oracle's arithmetic
    // is identical).
    Q(
      "q204_quota_allocation",
      (s, dir) => {
        val budget = 100000L
        val src = Tables.df(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        val tot = src.agg(sum("n_docs").as("n_total"))
        val based = src.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($budget * n_docs) div n_total"))
          .withColumn("rem", expr(s"($budget * n_docs) % n_total"))
        val leftover = based.agg((lit(budget) - sum("base")).as("spare"))
        based.crossJoin(broadcast(leftover))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("rem").desc, col("source"))))
          .select(col("source"), col("n_docs"), col("n_total"), col("base"),
            (col("base") + when(col("rk") <= col("spare"), 1L).otherwise(0L))
              .as("alloc"))
          .orderBy("source")
      },
      Some("""
        WITH src AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
        ), tot AS (
          SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM src
        ), based AS (
          SELECT source, n_docs, n_total,
                 (100000 * n_docs) // n_total AS base,
                 (100000 * n_docs) % n_total AS rem
          FROM src CROSS JOIN tot
        ), spare AS (
          SELECT 100000 - CAST(SUM(base) AS BIGINT) AS spare FROM based
        )
        SELECT source, n_docs, n_total, CAST(base AS BIGINT) AS base,
               CAST(base + CASE WHEN ROW_NUMBER() OVER
                 (ORDER BY rem DESC, source) <= spare THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc
        FROM based CROSS JOIN spare
        ORDER BY source
      """)),

    // ----------------------------------------------------------------
    // q205: REVENUE CONCENTRATION — exact Gini coefficient and
    // top-decile revenue share over per-customer revenue. The
    // inequality report every marketplace runs; Gini needs an EXACT
    // global rank of every customer by revenue.
    //
    // Plan shape: customer revenue is one map-combined aggregate of
    // per-order integer cents; the global rank reuses q167's machinery (range
    // repartition on the (rev, key) total order + in-partition
    // position from monotonically_increasing_id + per-partition counts
    // cumulated in a metadata window) — NO corpus-sized global window.
    // n comes from the SAME metadata table (sum of partition counts),
    // not a second scan. Arithmetic: revenue in integer cents,
    // Σ i·rev_c accumulated as DECIMAL(18,0)×DECIMAL(18,0) products
    // (37-digit products — a BIGINT product wraps at corpus scale, the
    // q189/q197 lesson); Gini and shares are fixed-order double
    // expressions spelled identically in the oracle.
    concentration.oneShot,

    // ----------------------------------------------------------------
    // q206: A/B TEST two-proportion z — users deterministically
    // assigned by user_id parity; conversion = "heavy buyer" (≥ 14
    // purchases — a flag that actually splits this corpus; ≥ 1 purchase
    // saturates to p̂ = 1, and under ANSI the degenerate √0 denominator
    // is a DIVIDE_BY_ZERO error, so the z is additionally CASE-guarded
    // to NULL when p̂ ∈ {0, 1} or an arm is empty, in both engines).
    // z = (p_t − p_c)/√(p̂(1−p̂)(1/n_t + 1/n_c)) — the experiment
    // readout every growth team runs daily.
    //
    // Plan shape: ONE hash aggregate to user grain (the purchase count
    // is a conditional sum, scan stays pipelined), then a 4-way
    // conditional count to a single row. The z expression is a fixed
    // tree of correctly-rounded IEEE ops (divisions, one sqrt) spelled
    // identically in the oracle — every operand pair is identical in
    // both engines, so every intermediate is bit-equal.
    ab.oneShot,

    // ----------------------------------------------------------------
    // q207: BENFORD first-digit audit of order totals — the
    // fraud/data-quality screen. The first significant digit comes
    // from EXACT integer cents (decimal cast, ×100, BIGINT) rendered
    // to a string — never floor(log10(x)), whose libm rounding at
    // digit boundaries diverges between engines (the q143 lesson);
    // integer→string is identical everywhere. Expected Benford mass
    // is a literal table; the oracle CASTs each literal to DOUBLE
    // because DuckDB parses bare decimal literals as DECIMAL and
    // would otherwise compute the deviation in exact decimal (the
    // q143 trap, again).
    //
    // Plan shape: one map-combined aggregate to ≤9 digit rows; the
    // total broadcasts back. Shares/deviations are single IEEE ops.
    benford.oneShot,

    // ----------------------------------------------------------------
    // q211: CHI-SQUARE k×2 CONTINGENCY test — independence of
    // event_type (k = the 5 known types) and value band (low/high at
    // the fixed $50 split), extending the q206 decision-stats family.
    // χ² = Σ_cells (O−E)²/E with E = R·C/N; for a k×2 table the two
    // cells of row t share one exact numerator D_t = O_t,low·N −
    // R_t·C_low (the high cell's numerator is −D_t), and the row
    // contribution collapses algebraically to D_t² / (R_t·C_low·C_high)
    // — so the statistic needs NO expected-count division per cell.
    //
    // Determinism (the q189 TVD recipe): D_t is exact
    // DECIMAL(18,0)-product arithmetic (counts×counts reach 1e24 at
    // corpus scale — a BIGINT product wraps in Spark and ERRORS in
    // DuckDB; decimal is exact and identical in both); each row term
    // is then a FIXED left-associated IEEE tree d/R·d/C_low/C_high on
    // correctly-rounded operands, and χ² sums the five terms in one
    // literal expression (click+error+purchase+signup+view) — a pinned
    // evaluation order, never a SUM() whose accumulation order the
    // engine picks. Degenerate margins are CASE-guarded in BOTH
    // engines: an absent type contributes 0 (its D is 0 but 0/0 would
    // NaN), and an empty value band NULLs the statistic outright.
    //
    // Plan shape: one map-combined conditional aggregate to a single
    // row (the scan stays pipelined; the only exchange carries one
    // row); the χ² tree is scalar arithmetic on that row.
    chi2.oneShot,

    // ----------------------------------------------------------------
    // q213: MANN-WHITNEY U rank-sum test — do urgent-priority orders
    // (o_orderpriority 1-URGENT/2-HIGH) draw from the same totalprice
    // distribution as the rest? The non-parametric A/B companion to
    // q206's proportion z: no normality assumption, driven entirely by
    // ranks.
    //
    // Exactness without per-row ranks: at DOLLAR grain (exact decimal
    // floor — domain-bounded like q199's minutes, so the value table
    // is metadata-sized at any corpus), tied observations share the
    // midrank (cum_before + (t+1)/2). Midranks are half-integers, so
    // everything carries DOUBLED: 2·S_A = Σ cntA(v)·(2·cum + t + 1) is
    // a pure integer accumulated in DECIMAL(18,0)×DECIMAL(18,0)
    // products (36 digits — inside both engines' multiply ceiling).
    // The tie correction Σ(t³−t) cubes through DECIMAL(12,0) (t ≤
    // 1e12−1; 12+12+12 = 36-digit products — the q208 width-capping
    // discipline). z = (U − μ)/σ with σ² = nA·nB/12·((n+1) −
    // Σ(t³−t)/(n(n−1))) is one fixed tree of IEEE ops on
    // correctly-rounded casts, spelled identically in the oracle, and
    // CASE-guarded when a group is empty or every value ties (σ = 0).
    //
    // Plan shape: one map-combined aggregate to value grain, one
    // running-sum window over the domain-bounded value table, one
    // 1-row reduce. Nothing event-grain crosses a second exchange.
    mwu.oneShot,

    // ----------------------------------------------------------------
    // q215: KOLMOGOROV-SMIRNOV two-sample D — the distribution-shape
    // companion to q213's location test: the maximum ECDF gap between
    // urgent-priority order totals and the rest, with the first value
    // attaining it and the asymptotic statistic λ = D·√(nA·nB/(nA+nB)).
    //
    // Exactness (the q189 recipe again): at each pooled dollar-grain
    // value, |ECDF_A − ECDF_B| = |cumA·nB − cumB·nA| / (nA·nB) — the
    // NUMERATOR is exact DECIMAL(18,0) cross-multiplication (cum×n
    // reaches 1e24 at corpus scale, past BIGINT), and the MAX over
    // values is taken on that exact numerator, never on per-value
    // float divisions whose rounding could reorder near-ties between
    // engines. D and λ are then a fixed IEEE tree on the one max
    // numerator. The argmax value is the MIN v attaining the max —
    // total order, both engines agree exactly.
    //
    // Plan shape: one map-combined aggregate to dollar grain (domain-
    // bounded, the q199/q213 class), one running-sum window over that
    // bounded table, a 1-row max reduce broadcast back for the argmax,
    // and a scalar finale.
    ks.oneShot,

    // ----------------------------------------------------------------
    // q218: SPEARMAN rank correlation between lineitem quantity and
    // dollar-grain extended price — Pearson over midranks, completing
    // the correlation family (q208 is Pearson on values, q213/q215 the
    // rank tests). Monotone-but-nonlinear association that value
    // Pearson understates is exactly what a feature-selection pass
    // wants here.
    //
    // Exactness: both variables rank at DOMAIN-BOUNDED grain (quantity
    // is integral 1..50; price floors to exact-decimal dollars), ties
    // take the midrank, and every rank carries DOUBLED so 2·midrank =
    // 2·cum_before + t + 1 is a pure integer. The doubled ranks join
    // back onto the fact scan through two BROADCAST value tables
    // (domain-bounded — never a corpus-sized window), and ONE
    // map-combined aggregate accumulates n and the five power sums,
    // each term weighted by its cell count (1 per row here): rank sums
    // in DECIMAL(19,0) products, squares and cross products in
    // DECIMAL(12,0)³ (38 digits — both engines' multiply ceiling, the
    // q208 discipline). The ×2 scaling cancels
    // in ρ, whose finale is a fixed IEEE tree on correctly-rounded
    // decimal→double casts, CASE-guarded when either variable is
    // constant (zero variance).
    spearman.oneShot,

    // ----------------------------------------------------------------
    // q223: KENDALL TAU-B — completes the rank-correlation family
    // (q208 Pearson matrix, q218 Spearman): concordant/discordant pair
    // counts with the tie correction, over quantity × price-in-whole-
    // thousands. The BOUNDED-DOMAIN recipe (q213/q218): both variables
    // quantize to small value domains (quantity ≤ 50 values, price
    // thousands ~100), so the (x, y) CELL table — one count per
    // observed value pair — is dim-sized and FIXED as the corpus
    // grows; C and D are cell-PAIR sums over a broadcast nested-loop
    // join of the cell table with itself (≤ |cells|² predicate
    // evaluations, O(1) w.r.t. corpus scale), never a row-pair join
    // (n² row pairs is the textbook formula and a non-starter at any
    // scale). Arithmetic is exact end-to-end: counts as DECIMAL(18,0),
    // cell products DECIMAL(37,0) (a BIGINT product wraps at corpus
    // scale — the q189/q205 lesson), and the tie-corrected identity is
    // used in its 2×-scaled integer form
    //   tau_b = 2(C−D) / sqrt((n(n−1) − Σtx(tx−1)) (n(n−1) − Σty(ty−1)))
    // so no exact value is ever halved; the one double op per output
    // is the final cast/sqrt, spelled identically in the oracle.
    // Degenerate (all-tied) margins yield NULL via the same CASE in
    // both engines.
    kendall.oneShot,

    // ----------------------------------------------------------------
    // q226-q242: the batch-incremental and stream consumers of the cell
    // statistics above, generated from one CellStat value per statistic
    // (see the family definitions at the end of this object). Each
    // statistic reduces to a bounded-domain table of additive cells
    // (operators/StatCellIndex), so the maintained cells sum to the
    // one-shot's exactly and the one-shot's DuckDB oracle gates all
    // three consumers verbatim.
    chi2.waves,
    chi2.stream,
    kendall.waves,
    kendall.stream,
    ks.waves,
    ks.stream,
    mwu.waves,
    mwu.stream,
    spearman.waves,
    spearman.stream,
    benford.waves,
    benford.stream,
    ab.waves,
    ab.stream,
    concentration.waves,
    concentration.stream,

    // ----------------------------------------------------------------
    // q245/q246: INCREMENTAL + STREAMING MARKET BASKET — q198's
    // association rules through operators/BasketIndex. The DISTINCT at
    // order grain blocks a plain additive fold (an order's lines
    // straddle batches; re-purchased brands must not recount), so the
    // index keeps the MEMBERSHIP set bucketed by order key, derives
    // each wave's truly-new memberships with one bucket-pruned
    // anti-join, and counts the pair instances the wave COMPLETES
    // (fresh x stored + fresh x fresh — disjoint and exact). Pair /
    // brand / order counts are then additive. q198's oracle VERBATIM,
    // three consumers.
    Q(
      "q245_basket_incremental",
      (s, dir) => {
        val idx = BasketIndex(Q.fresh(s, "q245_basket", dir))
        // pinned by the wave driver: without the cut every wave re-runs
        // the lineitem scan + brand broadcast join
        Replay.waves(basketLines(s, dir), 3, col("ok"), col("ln")) { (w, i) =>
          idx.compactBefore(s, i, maxDeltas = 1)
          idx.appendWave(s, w.select("ok", "brand"), i)
        }
        basketReport(idx.pairs(s), idx.brands(s), idx.orderCount(s))
      },
      Some(basketOracleSql)),

    Q(
      "q246_stream_basket",
      (s, dir) => {
        val out = Q.fresh(s, "q246_streambasket", dir)
        val idx = BasketIndex(s"$out/store")
        // derived ONCE: both wave writes filter this frame instead of
        // re-running the scan + brand join
        Q.pinned(basketLines(s, dir)) { lines =>
          Replay.stream(s, out,
              Replay.split(lines, 2, col("ok"), col("ln")).map(_.select("ok", "brand")),
              parts = 8) { (b, id) =>
            idx.compactBefore(s, id, maxDeltas = 0)
            idx.appendWave(s, b, id)
          }
        }
        basketReport(idx.pairs(s), idx.brands(s), idx.orderCount(s))
      },
      Some(basketOracleSql)),

    // ----------------------------------------------------------------
    // q214: INCREMENTAL SKYLINE maintenance — q200's Pareto frontier
    // kept up to date under APPENDED parts, the q209/q181 maintenance
    // discipline applied to a non-additive report. The identity that
    // makes it exact: skyline(A ∪ B) = skyline(skyline(A) ∪ B) —
    // dominance is transitive, and every dominated row has a dominator
    // ON the frontier (follow its dominator chain up; the finite chain
    // ends at an undominated element), so pruning A to its frontier
    // loses no dominator. Each wave therefore folds
    // frontier ∪ batch — skyline-sized + batch-sized, NEVER the
    // accumulated corpus — through the q200 operator (auto bucket
    // width re-sampled per fold, since the frontier's domain drifts),
    // and the state parquet rewritten per wave is frontier-sized.
    // Equal-point twins survive folding: ties don't dominate, so both
    // ride the frontier into the next fold. Held to q200's DuckDB
    // oracle VERBATIM over the full corpus (the q192→q209 move);
    // AssocPropertySpec pins maintained == one-shot across random
    // splits where later waves dominate earlier frontier rows.
    Q(
      "q214_skyline_incremental",
      (s, dir) => {
        val root = graft.Q.fresh(s, "q214_skyidx", dir)
        val parts = Tables.part(s, dir)
          .select("p_partkey", "p_retailprice", "p_size")
        // waves by key parity — NOT time/value-ordered: the fold
        // identity needs no append-order contract (unlike q209)
        val waves = Seq(parts.where(col("p_partkey") % 2 === 0),
          parts.where(col("p_partkey") % 2 === 1))
        waves.zipWithIndex.foreach { case (w, i) =>
          val prev =
            if (i == 0) w.limit(0)
            else s.read.parquet(s"$root/state=${i - 1}")
          graft.operators.Skyline
            .skyline2d(prev.unionByName(w), "p_retailprice", "p_size")
            .write.parquet(s"$root/state=$i")
        }
        s.read.parquet(s"$root/state=${waves.length - 1}")
          .select("p_partkey", "p_retailprice", "p_size")
          .orderBy("p_partkey")
      },
      Some("""
        SELECT p_partkey, p_retailprice, p_size
        FROM part p
        WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
          AND NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice
            AND q.p_size >= p.p_size
            AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        ORDER BY p_partkey
      """))
  )

  /** Supplier pairs sharing at least five orders: q203's edge list, and
    * the input of its maintained deployments q224/q225. */
  private def triEdges(s: SparkSession, dir: String): DataFrame = {
    val minSupport = 5L
    val os = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    os.select(col("ok"), col("sk").as("u"))
      .join(os.select(col("ok"), col("sk").as("v")), Seq("ok"))
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .where(col("w") >= minSupport)
      .select("u", "v")
  }

  /** q203's naive 3-way-self-join oracle, shared verbatim by q224/q225. */
  private val triangleOracleSql = """
        WITH os AS (
          SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        ), e AS (
          SELECT a.sk AS u, b.sk AS v
          FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
          GROUP BY 1, 2
          HAVING COUNT(*) >= 5
        ), nodes AS (
          SELECT u AS node FROM e UNION SELECT v FROM e
        )
        SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*)
                FROM e e1 JOIN e e2 ON e2.u = e1.v
                          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
                 AS n_triangles
      """

  /** Order lines with their brand, keyed by (ok, ln): q245/q246's waves. */
  private def basketLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey")
      .join(
        broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("p_brand").as("brand"))

  // ------------------------------------------------------------------
  // Shared distribution-statistic machinery: the SAME statistic tail
  // serves the one-shot queries and their StatCellIndex-maintained
  // deployments (q211 = q226/q227, q223 = q228/q229), and the oracle
  // constants make "gated by the one-shot oracle VERBATIM" literal.

  private[queries] val chi2Types =
    Seq("click", "error", "purchase", "signup", "view")

  private[queries] val chi2CellSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("hi",
      org.apache.spark.sql.types.BooleanType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.LongType)))

  private[queries] val kendallCellSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("x",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("y",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.LongType)))

  // Sources of the cell statistics: the row key the waves split on
  // plus the columns the cells are projected from.

  private def chi2Events(s: SparkSession, dir: String): DataFrame =
    Tables.df(s, dir, "events")
      .where(col("event_type").isin(chi2Types: _*))
      .select(col("event_id"), col("event_type"),
        (col("value") >= 50.0).as("hi"))

  /** (quantity, price in whole thousands) per line: q228/q229. */
  private def kendallLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        Q.dec2(col("l_quantity")).cast("long").as("x"),
        (Q.dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .selectExpr("l_orderkey", "l_linenumber", "x", "cents div 100000 AS y")

  /** (quantity, whole-dollar price) per line: q235/q236. */
  private def spearmanLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      Q.dec2(col("l_quantity")).cast("long").as("x"),
      floor(Q.dec2(col("l_extendedprice"))).cast("long").as("y"))

  /** (urgent?, whole-dollar total) per order: KS and MWU, q231–q234. */
  private def priorityOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("is_a"),
      floor(Q.dec2(col("o_totalprice"))).cast("long").as("v"))

  /** First digit of each order's total in cents: q237/q238. */
  private def benfordOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      substring(
        (Q.dec2(col("o_totalprice")) * 100).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))

  /** (user, purchase?) per event: q239/q240. */
  private def abEvents(s: SparkSession, dir: String): DataFrame =
    Tables.df(s, dir, "events").select(
      col("event_id"), col("user_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))

  /** (customer, revenue cents) per order: q241/q242. */
  private def revOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey").as("ck"),
      (Q.dec2(col("o_totalprice")) * 100).cast("long").as("rev_c"))

  // Reports over additive cells: row-grain on the one-shot path,
  // folded on the maintained ones. Kendall, Benford and concentration
  // need one row per key, so each starts with its group-by on the keys.

  private def kendallReport(cells: DataFrame): DataFrame =
    kendallFromCells(cells.groupBy("x", "y").agg(
      sum("c").cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("t")))

  private def ksReport(cells: DataFrame): DataFrame =
    ksFromByV(cells.groupBy("v")
      .agg(sum(when(col("is_a") === 1L, col("c")).otherwise(0L)).as("a"),
        sum(when(col("is_a") === 0L, col("c")).otherwise(0L)).as("b")))

  private def mwuReport(cells: DataFrame): DataFrame =
    mwuFromByV(cells.groupBy("v")
      .agg(sum(when(col("is_a") === 1L, col("c")).otherwise(0L)).as("cnt_a"),
        sum("c").as("t")))

  private def benfordReport(cells: DataFrame): DataFrame =
    benfordFromCounts(cells.groupBy("digit").agg(sum("c").as("n")))

  private def concentrationReport(rev: DataFrame): DataFrame =
    concentrationFromRev(rev.groupBy("ck").agg(sum("rev_c").as("rev_c")))

  private def abReport(cells: DataFrame): DataFrame =
    abTestFromUsers(cells.groupBy("user_id")
      .agg(sum(when(col("is_p") === 1L, col("c")).otherwise(0L)).as("n_purch")))

  /** q211's k x 2 chi-square from (event_type, hi, c) CELLS: exact
    * decimal row numerators and a fixed left-associated IEEE term tree,
    * with counts weighted by the cell's c (1 per row on the one-shot
    * path: identical integers, so identical doubles). */
  private[queries] def chi2FromCells(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val types = chi2Types
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val aggs = types.flatMap { t =>
      Seq(
        sum(when(col("event_type") === t && !col("hi"), col("c"))
          .otherwise(0L)).as(s"o_lo_$t"),
        sum(when(col("event_type") === t, col("c")).otherwise(0L))
          .as(s"r_$t"))
    } ++ Seq(
      sum(when(!col("hi"), col("c")).otherwise(0L)).as("c_low"),
      sum(when(col("hi"), col("c")).otherwise(0L)).as("c_high"),
      sum(col("c")).as("n_total"))
    val row = cells.agg(aggs.head, aggs.tail: _*)
    def d(t: String) =
      (col(s"o_lo_$t").cast(d18) * col("n_total").cast(d18) -
        col(s"r_$t").cast(d18) * col("c_low").cast(d18)).cast("double")
    def term(t: String) = when(col(s"r_$t") > 0,
      d(t) / col(s"r_$t") * d(t) / col("c_low") / col("c_high"))
      .otherwise(lit(0.0))
    val kPresent = types.map(t =>
      when(col(s"r_$t") > 0, 1).otherwise(0)).reduce(_ + _)
    row.select(col("n_total"), col("c_low"), col("c_high"),
      kPresent.as("k_present"), (kPresent - 1).as("df"),
      when(col("c_low") > 0 && col("c_high") > 0,
        types.map(term).reduce(_ + _)).as("chi2"))
  }

  /** q223's tie-corrected Kendall tau-b from (x, y, t) CELLS — C/D as
    * broadcast nested-loop cell-pair sums (O(1) w.r.t. corpus),
    * DECIMAL(37,0) products, the 2x-scaled integer identity, all-tied
    * margins CASE-guarded. Serves the one-shot q223 and the maintained
    * q228/q229 unchanged. */
  private[queries] def kendallFromCells(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val c1 = cells.select(col("x").as("x1"), col("y").as("y1"),
      col("t").as("t1"))
    val c2 = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("t").as("t2"))
    val conc = c1.join(broadcast(c2),
        col("x1") < col("x2") && col("y1") < col("y2"))
      .agg(sum(col("t1") * col("t2")).as("c"))
    val disc = c1.join(broadcast(c2),
        col("x1") < col("x2") && col("y1") > col("y2"))
      .agg(sum(col("t1") * col("t2")).as("d"))
    val mx = cells.groupBy("x").agg(sum("t").cast(d18).as("tx"))
      .agg(sum(col("tx") * (col("tx") - 1)).as("t1s"))
    val my = cells.groupBy("y").agg(sum("t").cast(d18).as("ty"))
      .agg(sum(col("ty") * (col("ty") - 1)).as("t2s"))
    val nn = cells.agg(sum("t").cast(d18).as("n"))
    nn.crossJoin(conc).crossJoin(disc).crossJoin(mx).crossJoin(my)
      .select(col("n").cast("long").as("n"),
        col("c").cast("double").as("conc"),
        col("d").cast("double").as("disc"),
        (lit(2) * (col("c") - col("d"))).cast("double").as("num"),
        (col("n") * (col("n") - 1) - col("t1s")).cast("double")
          .as("den_x"),
        (col("n") * (col("n") - 1) - col("t2s")).cast("double")
          .as("den_y"))
      .select(col("n"), col("conc"), col("disc"), col("num"),
        col("den_x"), col("den_y"),
        when(col("den_x") > 0 && col("den_y") > 0,
          col("num") / sqrt(col("den_x") * col("den_y")))
          .as("tau_b"))
  }

  private[queries] val ksCellSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("is_a",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.LongType)))

  /** q215's two-sample KS from the per-value (v, a, b) count table —
    * cross-multiplied exact-decimal ECDF gaps over the running-sum
    * window (value-domain-bounded, the q199 class), argmax with a
    * deterministic min-v tiebreak, one IEEE division + sqrt at the
    * end. Serves the one-shot q215 and the maintained q231/q232
    * unchanged. */
  private[queries] def ksFromByV(
      byV: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = byV
      .withColumn("cum_a", sum("a").over(w))
      .withColumn("cum_b", sum("b").over(w))
    val tot = cum.agg(sum("a").as("n_a"), sum("b").as("n_b"))
    val gaps = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("n_a"), col("n_b"),
        abs(col("cum_a").cast(d18) * col("n_b").cast(d18) -
          col("cum_b").cast(d18) * col("n_a").cast(d18)).as("num"))
    val mx = gaps.agg(max("num").as("max_num"))
    gaps.crossJoin(broadcast(mx))
      .where(col("num") === col("max_num"))
      .groupBy("n_a", "n_b", "max_num")
      .agg(min("v").as("d_at_v"))
      .select(col("n_a"), col("n_b"), col("d_at_v"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("max_num").cast("double") /
            (col("n_a").cast("double") * col("n_b"))).as("d_stat"))
      .withColumn("ks_lambda",
        col("d_stat") * sqrt(col("n_a").cast("double") * col("n_b") /
          (col("n_a") + col("n_b"))))
  }

  private[queries] val ksOracleSql: String = """
        WITH o AS (
          SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END AS is_a,
                 CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS v
          FROM orders
        ), byv AS (
          SELECT v, CAST(SUM(is_a) AS BIGINT) AS a,
                 CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS b
          FROM o GROUP BY 1
        ), cum AS (
          SELECT v,
                 CAST(SUM(a) OVER win AS BIGINT) AS cum_a,
                 CAST(SUM(b) OVER win AS BIGINT) AS cum_b
          FROM byv
          WINDOW win AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
          SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                 CAST(SUM(b) AS BIGINT) AS n_b
          FROM byv
        ), gaps AS (
          SELECT v, n_a, n_b,
                 ABS(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0))
                   - CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0)))
                   AS num
          FROM cum CROSS JOIN tot
        ), mx AS (
          SELECT MAX(num) AS max_num FROM gaps
        ), arg AS (
          SELECT n_a, n_b, max_num, MIN(v) AS d_at_v
          FROM gaps CROSS JOIN mx
          WHERE num = max_num
          GROUP BY 1, 2, 3
        )
        SELECT n_a, n_b, d_at_v,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 CAST(max_num AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * n_b) END AS d_stat,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 CAST(max_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b) END
                 * SQRT(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) AS ks_lambda
        FROM arg
      """

  /** q213's tie-corrected Mann-Whitney U from the per-value
    * (v, cnt_a, t) count table — midranks via the exclusive running
    * sum (value-domain-bounded window), the rank-sum and DECIMAL(12,0)³
    * tie term as exact aggregates, fixed-order IEEE finale. Serves the
    * one-shot q213 and the maintained q233/q234 unchanged. */
  private[queries] def mwuFromByV(
      byV: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
    val cum = byV.withColumn("cum",
      coalesce(sum("t").over(org.apache.spark.sql.expressions.Window
        .orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
    val agg = cum.agg(
      sum("cnt_a").as("n_a"),
      sum("t").as("n"),
      sum(col("cnt_a").cast(d18) *
        (col("cum") * 2 + col("t") + 1).cast(d18)).as("s2_a"),
      sum(col("t").cast(d12) * col("t").cast(d12) * col("t").cast(d12) -
        col("t").cast(d12)).as("tie"))
    agg.select(
        col("n_a"), (col("n") - col("n_a")).as("n_b"), col("n"),
        col("s2_a"), col("tie"))
      .select(col("n_a"), col("n_b"), col("n"),
        ((col("s2_a").cast("double") -
          col("n_a").cast("double") * (col("n_a") + 1)) / 2.0).as("u_a"),
        (col("n_a").cast("double") * col("n_b") / 2.0).as("mean_u"),
        col("tie").cast("double").as("tie_term"),
        when(col("n_a") > 0 && col("n_b") > 0,
          sqrt(col("n_a").cast("double") * col("n_b") / 12.0 *
            ((col("n") + 1) - col("tie").cast("double") /
              (col("n").cast("double") * (col("n") - 1)))))
          .as("sigma_u"))
      .select(col("n_a"), col("n_b"), col("n"), col("u_a"),
        col("mean_u"), col("tie_term"), col("sigma_u"),
        when(col("sigma_u") > 0,
          (col("u_a") - col("mean_u")) / col("sigma_u")).as("z_score"))
  }

  /** q218's Spearman rho from (x, y, c) CELLS: midranks from per-value
    * cell sums, every rank sum/product WEIGHTED by the cell's count —
    * the same exact integers the one-shot row-grain aggregation
    * produces (products in DECIMAL(12,0)³ = 38 digits), so the final
    * correctly-rounded doubles match the oracle bit-for-bit. */
  private[queries] def spearmanFromCells(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    def ranks(name: String) = cells.groupBy(col(name).as("v"))
      .agg(sum("c").as("t"))
      .withColumn("cum",
        coalesce(sum("t").over(org.apache.spark.sql.expressions.Window
          .orderBy("v")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .select(col("v").as(name), (col("cum") * 2 + col("t") + 1).as(s"r_$name"))
    val ranked = cells
      .join(broadcast(ranks("x")), Seq("x"))
      .join(broadcast(ranks("y")), Seq("y"))
    val agg = ranked.agg(
      sum(col("c")).as("n"),
      sum(col("r_x").cast(d19) * col("c").cast(d19)).as("sx"),
      sum(col("r_y").cast(d19) * col("c").cast(d19)).as("sy"),
      sum(col("r_x").cast(d12) * col("r_x").cast(d12) * col("c").cast(d12))
        .as("sxx"),
      sum(col("r_y").cast(d12) * col("r_y").cast(d12) * col("c").cast(d12))
        .as("syy"),
      sum(col("r_x").cast(d12) * col("r_y").cast(d12) * col("c").cast(d12))
        .as("sxy"))
    agg.select(col("n"),
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")).as("num"),
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")).as("den_x"),
        (col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")).as("den_y"))
      .select(col("n"), col("num"), col("den_x"), col("den_y"),
        when(col("den_x") > 0 && col("den_y") > 0,
          col("num") / sqrt(col("den_x") * col("den_y")))
          .as("rho_spearman"))
  }

  private[queries] val mwuOracleSql: String = """
        WITH o AS (
          SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END AS is_a,
                 CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS v
          FROM orders
        ), byv AS (
          SELECT v, CAST(SUM(is_a) AS BIGINT) AS cnt_a, COUNT(*) AS t
          FROM o GROUP BY 1
        ), cumt AS (
          SELECT v, cnt_a, t,
                 CAST(COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
          FROM byv
        ), agg AS (
          SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                 CAST(SUM(t) AS BIGINT) AS n,
                 SUM(CAST(cnt_a AS DECIMAL(18,0)) *
                     CAST(cum * 2 + t + 1 AS DECIMAL(18,0))) AS s2_a,
                 SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                     * CAST(t AS DECIMAL(12,0))
                     - CAST(t AS DECIMAL(12,0))) AS tie
          FROM cumt
        ), named AS (
          SELECT n_a, n - n_a AS n_b, n, s2_a, tie FROM agg
        ), stats AS (
          SELECT n_a, n_b, n,
                 (CAST(s2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2.0
                   AS u_a,
                 CAST(n_a AS DOUBLE) * n_b / 2.0 AS mean_u,
                 CAST(tie AS DOUBLE) AS tie_term,
                 CASE WHEN n_a > 0 AND n_b > 0 THEN
                   SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0 *
                     ((n + 1) - CAST(tie AS DOUBLE) /
                       (CAST(n AS DOUBLE) * (n - 1))))
                 END AS sigma_u
          FROM named
        )
        SELECT n_a, n_b, n, u_a, mean_u, tie_term, sigma_u,
               CASE WHEN sigma_u > 0
                 THEN (u_a - mean_u) / sigma_u END AS z_score
        FROM stats
      """

  private[queries] val spearmanOracleSql: String = """
        WITH li AS (
          SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x,
                 CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS y
          FROM lineitem
        ), rx AS (
          SELECT v AS x, CAST(cum * 2 + t + 1 AS BIGINT) AS r_x FROM (
            SELECT x AS v, COUNT(*) AS t,
                   CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum
            FROM li GROUP BY x)
        ), ry AS (
          SELECT v AS y, CAST(cum * 2 + t + 1 AS BIGINT) AS r_y FROM (
            SELECT y AS v, COUNT(*) AS t,
                   CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS cum
            FROM li GROUP BY y)
        ), agg AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(r_x AS DECIMAL(19,0))) AS sx,
                 SUM(CAST(r_y AS DECIMAL(19,0))) AS sy,
                 SUM(CAST(r_x AS DECIMAL(19,0)) * CAST(r_x AS DECIMAL(19,0))) AS sxx,
                 SUM(CAST(r_y AS DECIMAL(19,0)) * CAST(r_y AS DECIMAL(19,0))) AS syy,
                 SUM(CAST(r_x AS DECIMAL(19,0)) * CAST(r_y AS DECIMAL(19,0))) AS sxy
          FROM li JOIN rx USING (x) JOIN ry USING (y)
        ), named AS (
          SELECT n,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x,
                 CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y
          FROM agg
        )
        SELECT n, num, den_x, den_y,
               CASE WHEN den_x > 0 AND den_y > 0
                 THEN num / SQRT(den_x * den_y) END AS rho_spearman
        FROM named
      """

  // ------------------------------------------------------------------
  // Decision-stat family tails — q205/q206/q207's report arithmetic,
  // shared verbatim by the one-shot queries and the maintained
  // deployments (q241/q242, q239/q240, q237/q238) so "gated by the
  // one-shot oracle VERBATIM" is literal for the whole family.

  private[queries] val benfordCellSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("digit",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType)))

  private[queries] val abCellSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("is_p",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType)))

  private[queries] val revMomentSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ck",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rev_c",
        org.apache.spark.sql.types.LongType)))

  /** q207's Benford report from the (digit, n) count table: shares and
    * deviations are single IEEE ops on the exact counts. */
  private[queries] def benfordFromCounts(
      byDigit: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = byDigit.agg(sum("n").as("n_total"))
    val benfordP = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
      .foldLeft(lit(null).cast("double")) { case (acc, (d, p)) =>
        when(col("digit") === d, lit(p)).otherwise(acc)
      }
    byDigit.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("n_total")).as("share"),
        benfordP.as("benford_p"))
      .withColumn("abs_dev", abs(col("share") - col("benford_p")))
      .orderBy("digit")
  }

  /** q206's two-proportion z from the (user_id, n_purch) user table —
    * threshold conversion flag, parity arms, one 4-way conditional
    * count, CASE-guarded z. The user grain is where additivity stops
    * (the flag is a threshold), so maintained deployments re-derive
    * only this dim-sized step. */
  private[queries] def abTestFromUsers(
      users: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val u = users
      .select(col("user_id"),
        when(col("n_purch") >= 14, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", expr("user_id % 2"))
    val counts = u.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L))
        .as("conv_control"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treatment"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L))
        .as("conv_treatment"))
    val withP = counts.select(
      col("n_control"), col("conv_control"),
      col("n_treatment"), col("conv_treatment"),
      when(col("n_control") > 0,
        col("conv_control").cast("double") / col("n_control"))
        .as("p_control"),
      when(col("n_treatment") > 0,
        col("conv_treatment").cast("double") / col("n_treatment"))
        .as("p_treatment"),
      ((col("conv_control") + col("conv_treatment")).cast("double") /
        (col("n_control") + col("n_treatment"))).as("p_pooled"))
    withP.select(col("n_control"), col("conv_control"),
      col("n_treatment"), col("conv_treatment"),
      col("p_control"), col("p_treatment"), col("p_pooled"),
      when(col("p_pooled") > 0 && col("p_pooled") < 1 &&
        col("n_control") > 0 && col("n_treatment") > 0,
        (col("p_treatment") - col("p_control")) /
          sqrt(col("p_pooled") * (lit(1.0) - col("p_pooled")) *
            (lit(1.0) / col("n_treatment") + lit(1.0) / col("n_control"))))
        .as("z_score"))
  }

  /** q205's Gini + top-decile tail from the (ck, rev_c) customer-grain
    * cents table: distributed dense ranking (range repartition +
    * per-partition offsets — no single-partition global window), exact
    * decimal Lorenz sum, IEEE finale. */
  private[queries] def concentrationFromRev(
      rev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val parted = rev
      .repartitionByRange(
        rev.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("rev_c"), col("ck"))
      .sortWithinPartitions("rev_c", "ck")
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mid"), 33))
      .withColumn("lpos", col("mid").bitwiseAND(lit((1L << 33) - 1)))
    val cnts = parted.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val offsets = cnts
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val nRow = cnts.agg(sum("cnt").as("n"))
    parted.join(broadcast(offsets), Seq("pid"))
      .select(col("rev_c"), (col("offset") + col("lpos") + 1L).as("i"))
      .crossJoin(broadcast(nRow))
      .agg(
        count(lit(1)).as("n_cust"),
        sum("rev_c").as("s_c"),
        sum(col("i").cast(d18) * col("rev_c").cast(d18)).as("a"),
        sum(when(col("i") > col("n") - expr("n div 10"), col("rev_c"))
          .otherwise(0L)).as("t_c"))
      .select(col("n_cust"),
        (col("s_c").cast("double") / lit(100.0)).as("total_rev"),
        (lit(2.0) * col("a").cast("double") /
          (col("n_cust").cast("double") * col("s_c").cast("double")) -
          (col("n_cust") + 1).cast("double") / col("n_cust").cast("double"))
          .as("gini"),
        (col("t_c").cast("double") / col("s_c")).as("top_decile_share"))
  }

  /** q198's support/confidence/lift report from (brand_a, brand_b,
    * n_ab) pair counts + per-brand order counts + the distinct-order
    * count — shared verbatim by the one-shot query and the maintained
    * q245/q246. */
  private[queries] def basketReport(
      pairs: org.apache.spark.sql.DataFrame,
      brandN: org.apache.spark.sql.DataFrame,
      nOrders: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairs
      .join(broadcast(brandN.select(col("brand").as("brand_a"),
        col("n").as("n_a"))), Seq("brand_a"))
      .join(broadcast(brandN.select(col("brand").as("brand_b"),
        col("n").as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        col("n_a"), col("n_b"), col("n_orders"),
        (col("n_ab").cast("double") / col("n_orders")).as("support"),
        (col("n_ab").cast("double") / col("n_a")).as("confidence"),
        (col("n_ab").cast("double") * col("n_orders") /
          (col("n_a") * col("n_b"))).as("lift"))
      .orderBy("brand_a", "brand_b")

  private[queries] val basketOracleSql: String = """
        WITH ob AS (
          SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), bn AS (
          SELECT brand, COUNT(*) AS n FROM ob GROUP BY 1
        ), no AS (
          SELECT COUNT(DISTINCT ok) AS n_orders FROM ob
        ), pr AS (
          SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
          FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
          GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, n_ab, x.n AS n_a, y.n AS n_b, n_orders,
               CAST(n_ab AS DOUBLE) / n_orders AS support,
               CAST(n_ab AS DOUBLE) / x.n AS confidence,
               CAST(n_ab AS DOUBLE) * n_orders / (x.n * y.n) AS lift
        FROM pr
        CROSS JOIN no
        JOIN bn x ON pr.brand_a = x.brand
        JOIN bn y ON pr.brand_b = y.brand
        ORDER BY brand_a, brand_b
      """

  private[queries] val benfordOracleSql: String = """
        WITH d AS (
          SELECT CAST(SUBSTR(CAST(
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS VARCHAR), 1, 1) AS INT) AS digit
          FROM orders
        ), byd AS (
          SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
        ), tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM byd
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / n_total AS share,
               CASE digit
                 WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE)
                 WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE)
                 WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE)
                 WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE)
                 WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE)
                 WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE)
                 WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE)
                 WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE)
                 WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE)
               END AS benford_p,
               ABS(CAST(n AS DOUBLE) / n_total - CASE digit
                 WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE)
                 WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE)
                 WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE)
                 WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE)
                 WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE)
                 WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE)
                 WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE)
                 WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE)
                 WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE)
               END) AS abs_dev
        FROM byd CROSS JOIN tot
        ORDER BY digit
      """

  private[queries] val abOracleSql: String = """
        WITH u AS (
          SELECT user_id,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= 14
                      THEN 1 ELSE 0 END AS conv,
                 user_id % 2 AS arm
          FROM events GROUP BY user_id
        ), counts AS (
          SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_control,
            CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
              AS conv_control,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_treatment,
            CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
              AS conv_treatment
          FROM u
        ), withp AS (
          SELECT n_control, conv_control, n_treatment, conv_treatment,
                 CASE WHEN n_control > 0
                   THEN CAST(conv_control AS DOUBLE) / n_control END
                   AS p_control,
                 CASE WHEN n_treatment > 0
                   THEN CAST(conv_treatment AS DOUBLE) / n_treatment END
                   AS p_treatment,
                 CAST(conv_control + conv_treatment AS DOUBLE)
                   / (n_control + n_treatment) AS p_pooled
          FROM counts
        )
        SELECT n_control, conv_control, n_treatment, conv_treatment,
               p_control, p_treatment, p_pooled,
               CASE WHEN p_pooled > 0 AND p_pooled < 1
                     AND n_control > 0 AND n_treatment > 0 THEN
                 (p_treatment - p_control)
                 / SQRT(p_pooled * (1.0 - p_pooled)
                        * (1.0 / n_treatment + 1.0 / n_control))
               END AS z_score
        FROM withp
      """

  private[queries] val concentrationOracleSql: String = """
        WITH rev AS (
          SELECT o_custkey AS ck,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS rev_c
          FROM orders GROUP BY 1
        ), ranked AS (
          SELECT ck, rev_c,
                 CAST(ROW_NUMBER() OVER (ORDER BY rev_c, ck) AS BIGINT) AS i
          FROM rev
        ), nn AS (
          SELECT COUNT(*) AS n FROM rev
        ), agg AS (
          SELECT COUNT(*) AS n_cust,
                 CAST(SUM(rev_c) AS BIGINT) AS s_c,
                 SUM(CAST(i AS DECIMAL(18,0)) * CAST(rev_c AS DECIMAL(18,0)))
                   AS a,
                 CAST(SUM(CASE WHEN i > n - n // 10 THEN rev_c ELSE 0 END)
                   AS BIGINT) AS t_c
          FROM ranked CROSS JOIN nn
        )
        SELECT n_cust,
               CAST(s_c AS DOUBLE) / 100.0 AS total_rev,
               2.0 * CAST(a AS DOUBLE)
                 / (CAST(n_cust AS DOUBLE) * CAST(s_c AS DOUBLE))
                 - CAST(n_cust + 1 AS DOUBLE) / CAST(n_cust AS DOUBLE) AS gini,
               CAST(t_c AS DOUBLE) / s_c AS top_decile_share
        FROM agg
      """

  private[queries] val chi2OracleSql: String = """
        WITH ev AS (
          SELECT event_type, value >= 50.0 AS hi FROM events
          WHERE event_type IN ('click','error','purchase','signup','view')
        ), agg AS (
          SELECT
            CAST(SUM(CASE WHEN event_type = 'click' AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS o_lo_click,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS r_click,
            CAST(SUM(CASE WHEN event_type = 'error' AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS o_lo_error,
            CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS r_error,
            CAST(SUM(CASE WHEN event_type = 'purchase' AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS o_lo_purchase,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS r_purchase,
            CAST(SUM(CASE WHEN event_type = 'signup' AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS o_lo_signup,
            CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS r_signup,
            CAST(SUM(CASE WHEN event_type = 'view' AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS o_lo_view,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS r_view,
            CAST(SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS c_low,
            CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS c_high,
            COUNT(*) AS n_total
          FROM ev
        )
        SELECT n_total, c_low, c_high,
          (CASE WHEN r_click > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_error > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_purchase > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_signup > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_view > 0 THEN 1 ELSE 0 END) AS k_present,
          (CASE WHEN r_click > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_error > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_purchase > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_signup > 0 THEN 1 ELSE 0 END
           + CASE WHEN r_view > 0 THEN 1 ELSE 0 END - 1) AS df,
          CASE WHEN c_low > 0 AND c_high > 0 THEN
            (CASE WHEN r_click > 0 THEN
              CAST(CAST(o_lo_click AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_click AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / r_click
              * CAST(CAST(o_lo_click AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_click AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / c_low / c_high ELSE 0.0 END
            + CASE WHEN r_error > 0 THEN
              CAST(CAST(o_lo_error AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_error AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / r_error
              * CAST(CAST(o_lo_error AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_error AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / c_low / c_high ELSE 0.0 END
            + CASE WHEN r_purchase > 0 THEN
              CAST(CAST(o_lo_purchase AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_purchase AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / r_purchase
              * CAST(CAST(o_lo_purchase AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_purchase AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / c_low / c_high ELSE 0.0 END
            + CASE WHEN r_signup > 0 THEN
              CAST(CAST(o_lo_signup AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_signup AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / r_signup
              * CAST(CAST(o_lo_signup AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_signup AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / c_low / c_high ELSE 0.0 END
            + CASE WHEN r_view > 0 THEN
              CAST(CAST(o_lo_view AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_view AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / r_view
              * CAST(CAST(o_lo_view AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0))
                 - CAST(r_view AS DECIMAL(18,0)) * CAST(c_low AS DECIMAL(18,0)) AS DOUBLE)
              / c_low / c_high ELSE 0.0 END)
          END AS chi2
        FROM agg
      """

  private[queries] val kendallOracleSql: String = """
        WITH li AS (
          SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS x,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 100000 AS y
          FROM lineitem
        ), cells AS (
          SELECT x, y, CAST(COUNT(*) AS DECIMAL(18,0)) AS t
          FROM li GROUP BY 1, 2
        ), conc AS (
          SELECT SUM(c1.t * c2.t) AS c
          FROM cells c1 JOIN cells c2 ON c1.x < c2.x AND c1.y < c2.y
        ), disc AS (
          SELECT SUM(c1.t * c2.t) AS d
          FROM cells c1 JOIN cells c2 ON c1.x < c2.x AND c1.y > c2.y
        ), mx AS (
          SELECT SUM(tx * (tx - 1)) AS t1s FROM (
            SELECT CAST(SUM(t) AS DECIMAL(18,0)) AS tx FROM cells GROUP BY x)
        ), my AS (
          SELECT SUM(ty * (ty - 1)) AS t2s FROM (
            SELECT CAST(SUM(t) AS DECIMAL(18,0)) AS ty FROM cells GROUP BY y)
        ), nn AS (
          SELECT CAST(SUM(t) AS DECIMAL(18,0)) AS n FROM cells
        ), named AS (
          SELECT CAST(n AS BIGINT) AS n,
                 CAST(c AS DOUBLE) AS conc,
                 CAST(d AS DOUBLE) AS disc,
                 CAST(2 * (c - d) AS DOUBLE) AS num,
                 CAST(n * (n - 1) - t1s AS DOUBLE) AS den_x,
                 CAST(n * (n - 1) - t2s AS DOUBLE) AS den_y
          FROM nn, conc, disc, mx, my
        )
        SELECT n, conc, disc, num, den_x, den_y,
               CASE WHEN den_x > 0 AND den_y > 0
                 THEN num / SQRT(den_x * den_y) END AS tau_b
        FROM named
      """

  // ------------------------------------------------------------------
  // The cell statistics: one CellStat per statistic, each generating its
  // one-shot, waves and stream entries in `defs`. Defined after the
  // oracle strings they hold.

  private val chi2 = CellStat.counts(
    ("q211_chi2_contingency", "q226_chi2_incremental", "q227_stream_chi2"),
    chi2Events, Seq("event_id"), chi2CellSchema, chi2FromCells, chi2OracleSql)

  private val kendall = CellStat.counts(
    ("q223_kendall_tau_b", "q228_kendall_incremental", "q229_stream_kendall"),
    kendallLines, Seq("l_orderkey", "l_linenumber"), kendallCellSchema,
    kendallReport, kendallOracleSql)

  private val ks = CellStat.counts(
    ("q215_ks_two_sample", "q231_ks_incremental", "q232_stream_ks"),
    priorityOrders, Seq("o_orderkey"), ksCellSchema, ksReport, ksOracleSql)

  /** The same (group, dollar-value) cells as KS, a second report. */
  private val mwu = CellStat.counts(
    ("q213_mann_whitney_u", "q233_mwu_incremental", "q234_stream_mwu"),
    priorityOrders, Seq("o_orderkey"), ksCellSchema, mwuReport, mwuOracleSql)

  private val spearman = CellStat.counts(
    ("q218_spearman_rank_corr", "q235_spearman_incremental",
      "q236_stream_spearman"),
    spearmanLines, Seq("l_orderkey", "l_linenumber"), kendallCellSchema,
    spearmanFromCells, spearmanOracleSql)

  private val benford = CellStat.counts(
    ("q207_benford_digits", "q237_benford_incremental", "q238_stream_benford"),
    benfordOrders, Seq("o_orderkey"), benfordCellSchema, benfordReport,
    benfordOracleSql)

  /** The conversion flag is a threshold on a user's purchases, so it is
    * not additive; the purchase tallies under it are, and the report
    * re-derives the flag from the user-grain sums. */
  private val ab = CellStat.counts(
    ("q206_ab_test", "q239_ab_incremental", "q240_stream_ab"),
    abEvents, Seq("event_id"), abCellSchema, abReport, abOracleSql)

  /** Per-customer revenue cents are additive LONG sums; the ranking in
    * the report is the only non-additive step, at customer grain. */
  private val concentration = CellStat(
    ("q205_revenue_concentration", "q241_concentration_incremental",
      "q242_stream_concentration"),
    revOrders, Seq("o_orderkey"), revMomentSchema, Seq("rev_c"),
    _.select("ck", "rev_c"), concentrationReport, concentrationOracleSql)

  private[graft] val cellStats: Seq[CellStat] =
    Seq(chi2, kendall, ks, mwu, spearman, benford, ab, concentration)
}
