package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.{DeltaStore, Funnel, MorTable, Scd2, Scd2Index}
import graft.streaming.{Replay, Versioned}

/** Event-stream analytics: distribution drift, retention cohorts,
  * ordered conversion funnels, and SCD2 validity intervals — the
  * product/behavioral layer a warehouse runs daily over its event
  * firehose, and (for q189) the dataset-shift monitor a training-data
  * pipeline runs between crawl snapshots before mixing them.
  *
  * Engine-added: the reference's notebooks stop at per-coin monthly
  * aggregates (EDA.ipynb cell 15); these are the event-grain operations
  * its Postgres schema (events-shaped `prices` rows keyed by
  * coin_id/date) would need the moment the data outgrows one node.
  *
  * Determinism discipline (same as Q.scala): every measure is exact
  * integer/decimal arithmetic until at most ONE final double op written
  * as the identical expression in both engines. Timestamps cross the
  * gate as epoch-micros BIGINTs ([[Tables.events]] pins TIMESTAMP_NTZ,
  * session tz UTC, so `unix_micros(cast(ts as timestamp))` ==
  * DuckDB's `epoch_us(CAST(ts AS TIMESTAMP))`).
  */
object EventQueries {

  /** Epoch micros of the normalized events `ts` (TIMESTAMP_NTZ, UTC). */
  private def usCol = unix_micros(col("ts").cast("timestamp"))

  def defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q189: DISTRIBUTION DRIFT between the earlier and later half of
    // the stream, per event_type — the dataset-shift gate a training
    // pipeline runs before mixing a new crawl snapshot into an old one.
    //
    // Measure: total variation distance over equi-width value buckets.
    // TVD = ½ Σ_b |c_e[b]/n_e − c_l[b]/n_l| is rewritten as
    //        Σ_b |c_e[b]·n_l − c_l[b]·n_e| / (2·n_e·n_l)
    // so the numerator is a pure BIGINT aggregate — no per-bucket float
    // division whose summation order could differ between engines. The
    // single final division is one IEEE op. (PSI/KL would need ln(),
    // which libm-diverges between JVM and DuckDB — same reason q169's
    // perplexity proxy is log-free.) The numerator accumulates in
    // DECIMAL(38,0): at a true 100 TB corpus (1e12 rows) the per-bucket
    // products reach ~4e22 — past BIGINT, where Spark's sum wraps
    // SILENTLY while DuckDB promotes to HUGEINT; decimal accumulation
    // keeps the two engines exact and identical at any scale, and the
    // final decimal→double cast is correctly rounded in both.
    //
    // Plan shape: one hash aggregate to (type, bucket, half) grain —
    // map-side combine collapses the event stream before the only
    // data-sized exchange — then window totals PARTITION BY type at
    // bucket grain (bounded by the value domain, NOT the corpus: at
    // 100 TB the bucket table is still ~500 rows/type) and a final
    // ~5-row aggregate. The half-split midpoint is a 2-value scalar
    // aggregate broadcast into the scan predicate.
    Q(
      "q189_drift_tvd",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("value"), usCol.as("us"))
        val mid = ev.agg(
          ((min(col("us")) + max(col("us"))) / lit(2L)).cast("long").as("mid"))
        val buckets = ev.crossJoin(broadcast(mid))
          .withColumn("bucket", floor(col("value")).cast("long"))
          .groupBy("event_type", "bucket")
          .agg(
            sum(when(col("us") <= col("mid"), 1L).otherwise(0L)).as("c_e"),
            sum(when(col("us") > col("mid"), 1L).otherwise(0L)).as("c_l"))
        val byType = Window.partitionBy("event_type")
        buckets
          .withColumn("n_early", sum("c_e").over(byType))
          .withColumn("n_late", sum("c_l").over(byType))
          .groupBy("event_type")
          .agg(
            max("n_early").as("n_early"),
            max("n_late").as("n_late"),
            count(lit(1)).as("n_buckets"),
            {
              // multiply in DECIMAL too: a LongType product wraps
              // silently past 2^63 (c·n ~ 2.5e23 at 1e12 rows); the
              // oracle's BIGINT arithmetic is exact at gate scales and
              // DuckDB errors (never wraps) beyond them
              val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
              sum(abs(col("c_e").cast(d20) * col("n_late").cast(d20) -
                  col("c_l").cast(d20) * col("n_early").cast(d20)))
                .as("tvd_num")
            })
          .select(
            col("event_type"), col("n_early"), col("n_late"), col("n_buckets"),
            (col("tvd_num").cast("double") /
              (lit(2.0) * col("n_early") * col("n_late"))).as("tvd"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, value,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events
        ), mid AS (
          SELECT CAST((MIN(us) + MAX(us)) // 2 AS BIGINT) AS mid FROM ev
        ), buckets AS (
          SELECT event_type,
                 CAST(FLOOR(value) AS BIGINT) AS bucket,
                 CAST(SUM(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT) AS c_e,
                 CAST(SUM(CASE WHEN us > mid THEN 1 ELSE 0 END) AS BIGINT) AS c_l
          FROM ev, mid
          GROUP BY 1, 2
        ), tot AS (
          SELECT event_type, bucket, c_e, c_l,
                 SUM(c_e) OVER (PARTITION BY event_type) AS n_early,
                 SUM(c_l) OVER (PARTITION BY event_type) AS n_late
          FROM buckets
        )
        SELECT event_type,
               CAST(MAX(n_early) AS BIGINT) AS n_early,
               CAST(MAX(n_late) AS BIGINT) AS n_late,
               COUNT(*) AS n_buckets,
               CAST(SUM(ABS(c_e * n_late - c_l * n_early)) AS DOUBLE) /
                 (2.0 * MAX(n_early) * MAX(n_late)) AS tvd
        FROM tot
        GROUP BY event_type
        ORDER BY event_type
      """)),

    // ----------------------------------------------------------------
    // q190: RETENTION COHORTS — cohort = ISO week of a user's first
    // event; for each (cohort, week-offset) the number of users still
    // active. The classic triangular retention matrix, flattened.
    //
    // Plan shape: the stream collapses to (user, week) grain in one
    // hash aggregate (map-side combine does the heavy lifting), the
    // cohort week is a window MIN per user AT THAT GRAIN (per-user row
    // count is calendar-bounded — ≤ weeks in the corpus — so the window
    // state is O(weeks), never O(events)), and the matrix is a second
    // small aggregate. No user-grain join, no distinct over raw events.
    // Both engines truncate weeks to Monday, so the day arithmetic
    // (datediff // 7) is exact integers.
    Q(
      "q190_retention_cohorts",
      (s, dir) => {
        val uw = Tables.events(s, dir)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("w"))
          .groupBy("user_id", "w").agg(count(lit(1)).as("n_events"))
        val byUser = Window.partitionBy("user_id")
        uw.withColumn("cohort", min("w").over(byUser))
          .groupBy(col("cohort"),
            (datediff(col("w"), col("cohort")) / lit(7)).cast("int")
              .as("offset_weeks"))
          .agg(count(lit(1)).as("n_users"),
            sum("n_events").as("n_events"))
          .orderBy("cohort", "offset_weeks")
      },
      Some("""
        WITH uw AS (
          SELECT user_id,
                 CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        ), coh AS (
          SELECT user_id, w, n_events,
                 MIN(w) OVER (PARTITION BY user_id) AS cohort
          FROM uw
        )
        SELECT cohort,
               CAST((w - cohort) // 7 AS INT) AS offset_weeks,
               COUNT(*) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM coh
        GROUP BY 1, 2
        ORDER BY cohort, offset_weeks
      """)),

    // ----------------------------------------------------------------
    // q191: ORDERED CONVERSION FUNNEL view → click → purchase, each
    // stage within 7 days of the previous one. Order matters: a click
    // BEFORE the user's first view does not count, so this is not
    // expressible as conditional aggregation alone — each stage needs
    // the previous stage's anchor time.
    //
    // Implementation: [[graft.operators.Funnel]] — stage 1 is a
    // filtered hash aggregate to user grain (the event_type predicate
    // is pushed into the parquet scan); each later stage is a keyed
    // equi-join AT USER GRAIN on the previous anchor — the join carries
    // one row per surviving user, not the event stream, and AQE is free
    // to broadcast the shrinking anchor side. All time arithmetic in
    // epoch micros (exact BIGINTs); the one double op is the final
    // conversion ratio. FunnelSpec injects the click-before-view and
    // past-the-window cases the synthetic corpus doesn't exercise.
    Q(
      "q191_event_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), usCol.as("us"))
        graft.operators.Funnel.report(ev, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"),
          maxGapUs = 7L * 24 * 3600 * 1000000L)
      },
      Some(funnelOracleSql)),

    // ----------------------------------------------------------------
    // q192: SCD2 VALIDITY INTERVALS — compress each user's event-grain
    // attribute stream (tier = floor(value/100), a spend band) into
    // slowly-changing-dimension rows: one row per run of equal tier,
    // [valid_from, valid_to) half-open, valid_to NULL on the current
    // row. The lakehouse dimension-history build (MERGE's read side).
    //
    // Implementation: [[graft.operators.Scd2]] — gaps-and-islands per
    // user: lag() to flag changes, running count of flags for the
    // island id, one hash aggregate to island grain, then lead() for
    // the interval close. Every window is PARTITION BY user_id:
    // per-key sorted state, no global ordering anywhere, so 1000
    // executors each fold their users independently. Ordering ties
    // broken by event_id (unique), so the island assignment is total
    // and both engines agree row-for-row. Timestamps cross the gate as
    // epoch micros (BIGINT).
    Q(
      "q192_scd2_intervals",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), usCol.as("us"),
            floor(col("value") / lit(100.0)).cast("int").as("tier"))
        graft.operators.Scd2.intervals(ev, "user_id", "us", "event_id",
            "tier", fromName = "valid_from_us", toName = "valid_to_us")
          .select("user_id", "island", "tier", "valid_from_us",
            "valid_to_us", "is_current", "n_events")
          .orderBy("user_id", "island")
      },
      Some(scd2OracleSql)),

    // ----------------------------------------------------------------
    // q209: INCREMENTAL SCD2 MAINTENANCE — q192's validity intervals
    // kept up to date under APPENDED attribute events, the way the
    // dimension actually grows in production: the stream lands in three
    // time slices (every event of a slice is later than every event of
    // the slice before — the CDC append shape), each wave is compressed
    // to its own runs ONCE (O(batch); the batch windows never see stored
    // state) and committed atomically to operators/Scd2Index's
    // fragment store, with the shared policy's COMPACT before wave 2 so
    // the fold path itself sits under the gate. The read side stitches
    // fragments at RUN grain — new events close the open interval and
    // open new ones; the corpus is never re-windowed.
    //
    // The stitch fold (merge adjacent equal-tier fragments per key) is
    // associative over time-ordered fragments and idempotent, so
    // maintained == one-shot EXACTLY — which is why this entry is held
    // to q192's DuckDB oracle VERBATIM (the q171/LmIndex move: one
    // green row certifies the ingest protocol, the mid-stream compact,
    // and the stitched read end-to-end). Scd2IndexSpec additionally
    // pins random multi-batch splits and the out-of-order guard.
    scd2.waves("q209_scd2_incremental"),

    // ----------------------------------------------------------------
    // q193: POINT-IN-TIME FEATURE JOIN — the feature-store lookup that
    // prevents training-data leakage: for every purchase, the user's
    // engagement tier AS OF that moment, where the tier state is set by
    // the user's NON-purchase activity (view/click/signup/error). The
    // dimension deliberately excludes the probe rows — otherwise every
    // purchase would trivially look up itself and the query degenerates
    // to a projection.
    //
    // Plan shape: one backward as-of join (AsOfJoin.asof's `window`
    // strategy: union + keyed running-carry window — a single exchange
    // on the user key, PlanShapeSpec pins it) of purchases against the
    // attribute stream, then a ~tiers-sized aggregate. Probing the RAW
    // attribute stream is exactly equivalent to probing the q192 SCD2
    // dimension (a run's payload is its first event's attribute) but
    // skips the three window passes of the interval build — the shape
    // you'd use when the dimension isn't already materialized. The
    // ORACLE takes the other road on purpose: it compresses the stream
    // into SCD2 intervals and answers by interval-containment join, so
    // the gate cross-checks run-compression + containment against the
    // as-of exec — two independent formulations, one hash. A purchase
    // before any non-purchase activity has no interval: NULL tier on
    // both sides (as-of carries null; the oracle LEFT-joins).
    // (user_id, us) is unique in the corpus at every scale (checked),
    // so containment and as-of agree exactly.
    Q(
      "q193_pit_feature_join",
      (s, dir) => {
        import graft.operators.AsOfJoin
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            usCol.as("us"), col("value"))
        val attr = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id").as("u2"), col("us").as("t_attr"),
            floor(col("value") / lit(100.0)).cast("int").as("tier"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us"), col("value"))
        AsOfJoin.asof(purchases, attr,
            "user_id", "u2", "us", "t_attr", payload = Seq("tier"),
            strategy = "window")
          .groupBy("tier")
          .agg(count(lit(1)).as("n_purchases"),
            countDistinct(col("user_id")).as("n_users"),
            graft.Q.sumExact(col("value")).as("spend"))
          .orderBy("tier")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, value,
                 CAST(FLOOR(value / 100.0) AS INT) AS tier
          FROM events
        ), np AS (
          SELECT user_id, event_id, us, tier FROM ev
          WHERE event_type <> 'purchase'
        ), flagged AS (
          SELECT user_id, event_id, us, tier,
                 CASE WHEN lag(tier) OVER w IS NULL
                        OR lag(tier) OVER w <> tier
                      THEN 1 ELSE 0 END AS chg
          FROM np
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), islands AS (
          SELECT user_id, us, tier,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged
        ), ivl AS MATERIALIZED (
          -- MATERIALIZED: DuckDB would otherwise inline this CTE into
          -- the containment join below and reject the window function
          -- inside a (lateral-ized) join condition
          SELECT user_id, MIN(tier) AS tier,
                 MIN(us) AS valid_from_us,
                 lead(MIN(us)) OVER (PARTITION BY user_id ORDER BY island)
                   AS valid_to_us
          FROM islands GROUP BY user_id, island
        ), p AS (
          SELECT user_id, us, value FROM ev WHERE event_type = 'purchase'
        )
        SELECT i.tier,
               COUNT(*) AS n_purchases,
               COUNT(DISTINCT p.user_id) AS n_users,
               CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM p LEFT JOIN ivl i
          ON p.user_id = i.user_id
         AND p.us >= i.valid_from_us
         AND (i.valid_to_us IS NULL OR p.us < i.valid_to_us)
        GROUP BY i.tier
        ORDER BY i.tier
      """)),

    // ----------------------------------------------------------------
    // q194: MARKOV TRANSITION MATRIX over event types — bigram counts
    // of consecutive events per user and the row-normalized transition
    // probabilities. The sequence statistic behind behavioral
    // modeling, next-event prediction features, and bot detection.
    //
    // Plan shape: one lag() window PARTITION BY user (per-key state),
    // one hash aggregate to (prev, next) grain — at most |types|² rows
    // regardless of corpus size — then a window total at that bounded
    // grain. Probability is the single final double division on exact
    // BIGINT counts.
    Q(
      "q194_markov_transitions",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
        val bi = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), usCol.as("us"),
            col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(byUser))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        bi.withColumn("row_total",
            sum("n").over(Window.partitionBy("prev_type")))
          .select(col("prev_type"), col("next_type"), col("n"),
            (col("n").cast("double") / col("row_total")).as("p"))
          .orderBy("prev_type", "next_type")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
          FROM events
        ), bi AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS prev_type,
                 event_type AS next_type
          FROM ev
        ), counts AS (
          SELECT prev_type, next_type, COUNT(*) AS n
          FROM bi WHERE prev_type IS NOT NULL
          GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n,
               CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY prev_type) AS p
        FROM counts
        ORDER BY prev_type, next_type
      """)),

    // ----------------------------------------------------------------
    // q195: TIME-TO-CONVERT SURVIVAL SUMMARY — per signup-week cohort,
    // how long users take from first signup to first subsequent
    // purchase: conversion rate, min / lower-median / max / mean lag.
    // The product-analytics twin of q190's retention matrix.
    //
    // Determinism: the median is the exact lower-median ELEMENT
    // (row_number == (n+1) div 2 over the per-cohort delta order) —
    // no percentile interpolation, whose float blend would be
    // engine-sensitive; the mean is CAST(SUM)/n, one double division
    // on exact BIGINTs. Plan shape: user-grain anchors (filtered
    // aggregates + one user-keyed join, as q191), then cohort-grain
    // windows at converted-user grain (≤ users, never events).
    Q(
      "q195_time_to_convert",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), usCol.as("us"))
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("us").as("t1"))
          .withColumn("cohort",
            date_trunc("week", timestamp_micros(col("t1"))).cast("date"))
        val conv = ev.filter(col("event_type") === "purchase")
          .join(su, "user_id")
          .where(col("us") >= col("t1"))
          .groupBy("user_id")
          .agg(min("cohort").as("cohort"),
            (min("us") - min("t1")).as("delta_us"))
        val byCohort = Window.partitionBy("cohort")
        val stats = conv
          .withColumn("rn", row_number().over(byCohort.orderBy("delta_us")))
          .withColumn("n_conv", count(lit(1)).over(byCohort))
          .groupBy("cohort")
          .agg(max("n_conv").as("n_converted"),
            min("delta_us").as("min_delta_us"),
            max(when(col("rn") === expr("(n_conv + 1) div 2"),
              col("delta_us"))).as("median_lo_delta_us"),
            max("delta_us").as("max_delta_us"),
            sum("delta_us").as("sum_delta_us"))
        su.groupBy("cohort").agg(count(lit(1)).as("n_signups"))
          .join(stats, Seq("cohort"), "left")
          .select(col("cohort"), col("n_signups"),
            coalesce(col("n_converted"), lit(0L)).as("n_converted"),
            (coalesce(col("n_converted"), lit(0L)).cast("double") /
              col("n_signups")).as("conv_pct"),
            col("min_delta_us"), col("median_lo_delta_us"),
            col("max_delta_us"),
            (col("sum_delta_us").cast("double") / col("n_converted"))
              .as("mean_delta_us"))
          .orderBy("cohort")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events
        ), su AS (
          SELECT user_id, MIN(us) AS t1,
                 CAST(date_trunc('week', make_timestamp(MIN(us))) AS DATE)
                   AS cohort
          FROM ev WHERE event_type = 'signup' GROUP BY 1
        ), conv AS (
          SELECT e.user_id, MIN(su.cohort) AS cohort,
                 MIN(e.us) - MIN(su.t1) AS delta_us
          FROM ev e JOIN su USING (user_id)
          WHERE e.event_type = 'purchase' AND e.us >= su.t1
          GROUP BY 1
        ), ranked AS (
          SELECT cohort, delta_us,
                 row_number() OVER (PARTITION BY cohort ORDER BY delta_us)
                   AS rn,
                 COUNT(*) OVER (PARTITION BY cohort) AS n_conv
          FROM conv
        ), stats AS (
          SELECT cohort,
                 MAX(n_conv) AS n_converted,
                 MIN(delta_us) AS min_delta_us,
                 MAX(CASE WHEN rn = (n_conv + 1) // 2 THEN delta_us END)
                   AS median_lo_delta_us,
                 MAX(delta_us) AS max_delta_us,
                 SUM(delta_us) AS sum_delta_us
          FROM ranked GROUP BY 1
        ), sig AS (
          SELECT cohort, COUNT(*) AS n_signups FROM su GROUP BY 1
        )
        SELECT sig.cohort, sig.n_signups,
               COALESCE(stats.n_converted, 0) AS n_converted,
               CAST(COALESCE(stats.n_converted, 0) AS DOUBLE) /
                 sig.n_signups AS conv_pct,
               stats.min_delta_us, stats.median_lo_delta_us,
               stats.max_delta_us,
               CAST(stats.sum_delta_us AS DOUBLE) / stats.n_converted
                 AS mean_delta_us
        FROM sig LEFT JOIN stats USING (cohort)
        ORDER BY sig.cohort
      """)),

    // ----------------------------------------------------------------
    // q197: TIME-IN-STATE — the duration-weighted report the q192 SCD2
    // dimension exists to answer: how long do users spend in each tier?
    // Open (current) intervals close at the corpus observation end
    // (global max event time), the standard time-in-state convention.
    //
    // Determinism: durations are epoch-micros BIGINT differences;
    // totals accumulate in DECIMAL(38,0) (a month of micros times 10M+
    // intervals passes 2^63 at deep scale — Spark's long SUM would wrap
    // silently where DuckDB promotes to HUGEINT, the q189 lesson);
    // mean/share are single IEEE divisions on correctly-rounded
    // decimal→double casts. Plan shape: the q192 per-key island build,
    // one broadcast scalar (observation end), a ~tiers-sized aggregate,
    // and a 1-row grand-total broadcast for the share — nothing beyond
    // island grain ever crosses an exchange twice.
    Q(
      "q197_time_in_state",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), usCol.as("us"),
            floor(col("value") / lit(100.0)).cast("int").as("tier"))
        val dim = graft.operators.Scd2.intervals(ev, "user_id", "us",
          "event_id", "tier", fromName = "from_us", toName = "to_us")
        val end = ev.agg(max("us").as("end_us"))
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val byTier = dim.crossJoin(broadcast(end))
          .withColumn("dur_us",
            (coalesce(col("to_us"), col("end_us")) - col("from_us"))
              .cast(d38))
          .groupBy("tier")
          .agg(count(lit(1)).as("n_intervals"),
            sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"),
            sum("dur_us").cast("double").as("total_dur_us"))
        val grand = byTier.agg(sum(col("total_dur_us")
            .cast(d38)).cast("double").as("grand_us"))
        byTier.crossJoin(broadcast(grand))
          .select(col("tier"), col("n_intervals"), col("n_open"),
            col("total_dur_us"),
            (col("total_dur_us") / col("n_intervals")).as("mean_dur_us"),
            (col("total_dur_us") / col("grand_us")).as("share"))
          .orderBy("tier")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(FLOOR(value / 100.0) AS INT) AS tier
          FROM events
        ), flagged AS (
          SELECT user_id, event_id, us, tier,
                 CASE WHEN lag(tier) OVER w IS NULL
                        OR lag(tier) OVER w <> tier
                      THEN 1 ELSE 0 END AS chg
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), islands AS (
          SELECT user_id, us, tier,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged
        ), ivl AS MATERIALIZED (
          SELECT user_id, MIN(tier) AS tier, MIN(us) AS from_us,
                 lead(MIN(us)) OVER (PARTITION BY user_id ORDER BY island)
                   AS to_us
          FROM islands GROUP BY user_id, island
        ), fin AS (
          SELECT tier,
                 COUNT(*) AS n_intervals,
                 CAST(SUM(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_open,
                 CAST(SUM(COALESCE(to_us, (SELECT MAX(us) FROM ev))
                          - from_us) AS DOUBLE) AS total_dur_us
          FROM ivl GROUP BY tier
        )
        SELECT tier, n_intervals, n_open, total_dur_us,
               total_dur_us / n_intervals AS mean_dur_us,
               total_dur_us / (SELECT CAST(SUM(CAST(total_dur_us AS
                 DECIMAL(38,0))) AS DOUBLE) FROM fin) AS share
        FROM fin
        ORDER BY tier
      """)),

    // ----------------------------------------------------------------
    // q210: STREAMING FUNNEL — q191's ordered conversion funnel
    // maintained at the ingestion edge through Replay.stream (waves
    // split by a hash of event_id, so the resume path itself sits under
    // the gate).
    //
    // WHY the maintained state is the stage-event CANDIDATE LOG and
    // not per-batch anchors: funnel anchors are NOT additive across
    // batches — a later batch's EARLIER view moves the stage-1 anchor
    // back, which can make a click the earlier batches already saw
    // newly eligible (and push a later one out of the gap window), so
    // no fold of per-batch anchor frames reconstructs the true anchors
    // (StreamFunnelSpec constructs exactly this case and shows the
    // naive fold wrong). The minimal state that IS order-independent
    // is the set of stage-type events: each micro-batch contributes
    // its (user, type, us) stage rows (an O(batch) filter+project,
    // type predicate pushed into the batch scan), and set
    // union is independent of how the stream was batched, so the
    // report over the maintained state equals the one-shot batch
    // funnel for ANY split (stronger than q209's time-order contract).
    // The anchor recursion (user-grain joins against the shrinking
    // anchor frame) runs on the compacted state at REPORT time, never
    // per batch. The log is BOUNDED WHILE THE STREAM RUNS: every
    // micro-batch folds prior state ∪ its stage rows through the
    // provably-safe prune (Funnel.pruneCandidates — stage 1 keeps only
    // the per-user min; stage k keeps rows at or under t1 + (k−1)·gap,
    // and t1 only decreases under appends, so dropped rows are dead
    // under every future batch; pruning pruned state is therefore a
    // legal fold, StreamFunnelSpec pins it per batch). State is a
    // VERSIONED dir keyed by the streaming batch id — a batch reads
    // the newest state below its own id and overwrites its own
    // version, so a checkpoint replay recomputes from the same
    // predecessor (the q220 idempotence pattern). The in-loop
    // compaction sits under the gate: the report reads the final
    // pruned state. Held to q191's DuckDB oracle VERBATIM.
    funnel.stream("q210_stream_funnel"),

    // ----------------------------------------------------------------
    // q216: STREAMING SCD2 maintenance — Scd2Index driven from a
    // checkpointed stream, making q192's oracle gate the SAME
    // dimension through THREE consumers (the q44/q183 move): the
    // one-shot build (q192), the batch-incremental replay (q209), and
    // this stream. Each drain processes one time-split wave as ONE
    // micro-batch (no maxFilesPerTrigger — a wave's files are
    // partition splits, not time splits, so per-file batches would
    // interleave times and trip the horizon guard by design); delta id
    // = the streaming batch id, so a checkpoint replay rewrites the
    // SAME delta idempotently and the horizon guard excludes the
    // batch's own delta — exactly-once by construction. Under
    // Replay.stream's resume a re-processed wave 1 would stitch
    // duplicated runs and fail the n_events columns, so the resume
    // path itself is under the gate.
    scd2.stream("q216_stream_scd2"),

    // ----------------------------------------------------------------
    // q222: LATE-DATA SCD2 through the merge-on-read escape hatch —
    // the GATED version of Scd2Index's documented out-of-order route.
    // The pipeline is the standard two-tier shape: every batch lands
    // in a BRONZE MorTable of raw events (O(batch) append, keyed by
    // event id, exactly-once under replay), and in-order batches ALSO
    // flow through the SILVER Scd2Index fast path. A LATE batch —
    // early events arriving after later ones are already indexed —
    // trips the horizon guard (asserted here: the refusal IS the
    // routing signal, silently indexing it would stitch against the
    // wrong neighbors), and is routed to bronze only. The read side
    // then REPAIRS exactly the affected keys: their full event history
    // re-windows from the bronze snapshot (the one-shot Scd2 build,
    // per-key-bounded work), while every untouched key serves from the
    // maintained index — so late data costs O(affected keys' events),
    // never a corpus rebuild. The late slice is chosen to CHANGE
    // intervals (earliest-tier events withheld, so their arrival
    // re-opens runs; Scd2IndexSpec pins repaired != index-only on an
    // engineered corpus). Held to q192's DuckDB oracle VERBATIM over
    // the full corpus.
    Q(
      "q222_scd2_late_data",
      (s, dir) => {
        val root = Q.fresh(s, "q222_scd2late", dir)
        val silver = Scd2Index(s"$root/silver")
        // derived ONCE (the q221 move): the midpoint agg, the three
        // wave filters, and the repair's affected-key set consume this
        // frame — without the cut each bronze+silver feed re-scanned
        // events
        val ev = scd2Events(s, dir).localCheckpoint()
        val mid = ev.agg(
          ((min(col("us")) + max(col("us"))) / lit(2L)).cast("long"))
          .head().getLong(0)
        // the late slice: a deterministic subset of EARLY events that
        // arrives AFTER the later half is already indexed
        val isLate = col("us") <= mid && pmod(col("tie"), lit(7)) === 0
        val w1 = ev.where(col("us") <= mid && !isLate)
        val w2 = ev.where(col("us") > mid)
        val late = ev.where(isLate)
        val bronze = MorTable(DeltaStore(s"$root/bronze"), Seq("tie"), ev.schema)
        bronze.upsert(w1, 1)
        silver.appendBatch(s, w1, 1)
        bronze.upsert(w2, 2)
        silver.appendBatch(s, w2, 2)
        bronze.upsert(late, 3)
        // the horizon guard FIRES on the late batch — that refusal is
        // the escape hatch's trigger and sits under this gate
        val refused =
          try { silver.appendBatch(s, late, 3); false }
          catch { case _: IllegalArgumentException => true }
        require(refused,
          "q222: the horizon guard must refuse the out-of-order batch")
        // repair read: affected keys re-window from bronze, the rest
        // serve from the maintained index
        val affected = late.select("k").distinct()
        val raw = bronze.snapshot(s)
        val repaired = Scd2.intervals(
            raw.join(affected, Seq("k"), "left_semi"),
            "k", "us", "tie", "attr",
            fromName = "valid_from_us", toName = "valid_to_us")
          .select("k", "island", "attr", "valid_from_us", "valid_to_us",
            "is_current", "n_events")
        val untouched = silver.intervals(s)
          .join(affected, Seq("k"), "left_anti")
          .select("k", "island", "attr", "valid_from_us", "valid_to_us",
            "is_current", "n_events")
        scd2Report(untouched.unionByName(repaired))
      },
      Some(scd2OracleSql)),

    // ----------------------------------------------------------------
    // q230: SCD2 repair BACKFILL — closes q222's operational gap:
    // there, every read after a late batch re-pays the per-key repair.
    // Here the repair's output is RE-ADMITTED to the silver index
    // (Scd2Index.backfill): the affected keys' full history — which
    // the merge-on-read repair already assembled from bronze —
    // re-windows once and lands as ONE atomic catch-up delta (rebuilt
    // fragments + per-key supersession records), the horizon guard
    // satisfied by construction since a full per-key rebuild replaces
    // everything for that key. After the backfill the pipeline is back
    // on the fast path END TO END, and this entry proves both halves
    // under the gate: (1) a LATER in-order batch appends through the
    // normal guarded path on top of the rebuilt runs — for repaired
    // and untouched keys alike — and (2) the final read serves
    // INDEX-ONLY (no bronze re-window, no union with a repair leg),
    // still matching q192's oracle VERBATIM over the full corpus.
    // Cost stays O(affected keys' events) for the repair+backfill and
    // O(batch) for everything after — never a corpus rebuild.
    Q(
      "q230_scd2_backfill",
      (s, dir) => {
        val root = Q.fresh(s, "q230_scd2bf", dir)
        val silver = Scd2Index(s"$root/silver")
        // derived ONCE (the q221 move): the threshold agg, the four
        // wave filters, and the late key set each consumed this frame —
        // without the cut that was ~9 scans of events per run (every
        // wave feeds BOTH bronze and silver)
        Q.pinned(scd2Events(s, dir)) { ev =>
          val b = ev.agg(
              ((min(col("us")) * 2 + max(col("us"))) / lit(3L)).cast("long"),
              ((min(col("us")) + max(col("us")) * 2) / lit(3L)).cast("long"))
            .head()
          val (mid, hi) = (b.getLong(0), b.getLong(1))
          // the late slice: a deterministic subset of EARLY events that
          // arrives AFTER the middle third is already indexed
          val isLate = col("us") <= mid && pmod(col("tie"), lit(7)) === 0
          val w1 = ev.where(col("us") <= mid && !isLate)
          val w2 = ev.where(col("us") > mid && col("us") <= hi)
          val w3 = ev.where(col("us") > hi)
          val late = ev.where(isLate)
          val bronze = MorTable(DeltaStore(s"$root/bronze"), Seq("tie"), ev.schema)
          bronze.upsert(w1, 1)
          silver.appendBatch(s, w1, 1)
          bronze.upsert(w2, 2)
          silver.appendBatch(s, w2, 2)
          bronze.upsert(late, 3)
          val refused =
            try { silver.appendBatch(s, late, 3); false }
            catch { case _: IllegalArgumentException => true }
          require(refused,
            "q230: the horizon guard must refuse the out-of-order batch")
          // repair: the affected keys' full history from bronze...
          val affected = late.select("k").distinct()
          val raw = bronze.snapshot(s)
          val history = raw.join(affected, Seq("k"), "left_semi")
          // ...BACKFILLED into the index as one catch-up delta
          silver.backfill(s, history, 4)
          // the fast path is live again: a later in-order batch appends
          // through the guard, stitching onto rebuilt and untouched keys
          bronze.upsert(w3, 5)
          silver.appendBatch(s, w3, 5)
        }
        // index-only read — no repair leg, no bronze access
        scd2Report(silver.intervals(s))
      },
      Some(scd2OracleSql))
  )

  /** q191's funnel oracle, shared verbatim by q210. */
  private val funnelOracleSql = """
        WITH ev AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events
        ), s1 AS (
          SELECT user_id, MIN(us) AS t1 FROM ev
          WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
          SELECT e.user_id, MIN(e.us) AS t2
          FROM ev e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click'
            AND e.us >= s1.t1 AND e.us <= s1.t1 + 604800000000
          GROUP BY 1
        ), s3 AS (
          SELECT e.user_id, MIN(e.us) AS t3
          FROM ev e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase'
            AND e.us >= s2.t2 AND e.us <= s2.t2 + 604800000000
          GROUP BY 1
        ), staged AS (
          SELECT '1_view' AS stage FROM s1
          UNION ALL SELECT '2_click' FROM s2
          UNION ALL SELECT '3_purchase' FROM s3
        ), counts AS (
          SELECT stage, COUNT(*) AS n_users FROM staged GROUP BY 1
        )
        SELECT stage, n_users,
               CAST(n_users AS DOUBLE) /
                 MAX(CASE WHEN stage = '1_view' THEN n_users END) OVER ()
                 AS conv_pct
        FROM counts
        ORDER BY stage
      """

  /** (k, tie, us, attr) per event: the Scd2Index input of q209, q216,
    * q222 and q230. */
  private def scd2Events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)
      .select(col("user_id").as("k"), col("event_id").as("tie"),
        usCol.as("us"),
        floor(col("value") / lit(100.0)).cast("int").as("attr"))

  /** Maintained intervals in q192's output shape. */
  private def scd2Report(intervals: org.apache.spark.sql.DataFrame) =
    intervals
      .select(col("k").as("user_id"), col("island"),
        col("attr").as("tier"), col("valid_from_us"),
        col("valid_to_us"), col("is_current"), col("n_events"))
      .orderBy("user_id", "island")

  /** q192's SCD2 oracle — shared verbatim by its maintained deployments
    * q209 (batch waves), q216 (stream), q222 (merge-on-read repair) and
    * q230 (repair + backfill), making "held to q192's oracle VERBATIM"
    * literal. */
  private[queries] val scd2OracleSql: String = """
        WITH ev AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(FLOOR(value / 100.0) AS INT) AS tier
          FROM events
        ), flagged AS (
          SELECT user_id, event_id, us, tier,
                 CASE WHEN lag(tier) OVER w IS NULL
                        OR lag(tier) OVER w <> tier
                      THEN 1 ELSE 0 END AS chg
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), islands AS (
          SELECT user_id, us, tier,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged
        ), runs AS (
          SELECT user_id, CAST(island AS BIGINT) AS island,
                 MIN(tier) AS tier,
                 MIN(us) AS valid_from_us,
                 COUNT(*) AS n_events
          FROM islands GROUP BY 1, 2
        )
        SELECT user_id, island, tier, valid_from_us,
               lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
                 AS valid_to_us,
               lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
                 IS NULL AS is_current,
               n_events
        FROM runs
        ORDER BY user_id, island
      """

  /** `n` slices of `ev` cut at equal `us` steps between its bounds: every
    * event of slice `i` is earlier than every event of slice `i + 1`,
    * the append order [[Scd2Index]]'s horizon guard requires. */
  private def timeSlices(ev: org.apache.spark.sql.DataFrame, n: Int) = {
    val b = ev.agg(min("us"), max("us")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cuts = Long.MinValue +: (1 until n).map(i => lo + (hi - lo) / n * i) :+
      Long.MaxValue
    (0 until n).map(i => ev.where(col("us") > cuts(i) && col("us") <= cuts(i + 1)))
  }

  /** q192's intervals maintained in an [[Scd2Index]] (q209/q216), fed
    * time slices of the events. */
  private[graft] val scd2 = Folded[Scd2Index](scd2Events, timeSlices,
    Scd2Index(_), (idx, s, b, id) => idx.appendBatch(s, b, id),
    (idx, s) => scd2Report(idx.intervals(s)), scd2OracleSql)

  /** q191's funnel from a [[Versioned]] candidate log (q210): each batch
    * writes the pruned union of the log and its stage events. */
  private[graft] val funnel = {
    val gap = 7L * 24 * 3600 * 1000000L
    val stages = Seq("view", "click", "purchase")
    Folded[Versioned](
      (s, dir) => Tables.df(s, dir, "events").selectExpr("event_id", "user_id",
        s"${Tables.eventsTsMicrosSql(s, dir)} as us", "event_type"),
      Replay.split(_, _, col("event_id")), Versioned(_),
      (v, s, b, id) => {
        val rows = b.where(col("event_type").isin(stages: _*))
          .select("user_id", "event_type", "us")
        v.fold(s, id, rows.limit(0))(prev => Funnel.pruneCandidates(
          prev.unionByName(rows), "user_id", "event_type", "us", stages, gap))
      },
      (v, s) => Funnel.report(v.latest(s), "user_id", "event_type", "us",
        stages, maxGapUs = gap),
      funnelOracleSql, pinStream = false)
  }
}
