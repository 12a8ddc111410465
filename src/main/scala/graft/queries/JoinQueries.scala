package graft.queries

import graft.{Q, Tables}
import graft.operators.{TopK, Upsert}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join / set-op / generator suite: distinct aggregates, per-group top-k,
  * rollup, semi/anti joins, set operations, date-spine generation, upsert,
  * and a multi-way star join (SURVEY.md §2.E coverage rows; reference
  * citations inline).
  */
object JoinQueries {
  import graft.Q._

  /** Shared oracle for the attribution family: q93 (bucket-explode
    * composition), q146 (native band-join exec) and q147 (broadcast
    * band join, reversed orientation) must all hash-match this SAME
    * independent SQL — one theta join the oracle engine is free to
    * plan however it likes. */
  private val attributionOracle: String = """
        WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                 event_type
          FROM events),
        p AS (
          SELECT event_id AS purchase_id, user_id, t_us AS p_us
          FROM e WHERE event_type = 'purchase'),
        j AS (
          SELECT p.purchase_id, e.event_type
          FROM p JOIN e ON e.user_id = p.user_id
                       AND e.t_us > p.p_us
                       AND e.t_us <= p.p_us + 86400000000),
        a AS (
          SELECT purchase_id, COUNT(*) AS n_attr,
                 COUNT(DISTINCT event_type) AS n_types
          FROM j GROUP BY 1)
        SELECT p.purchase_id, p.user_id, p.p_us,
               CAST(COALESCE(a.n_attr, 0) AS BIGINT) AS n_attr,
               CAST(COALESCE(a.n_types, 0) AS BIGINT) AS n_types
        FROM p LEFT JOIN a USING (purchase_id)
        ORDER BY p.purchase_id
      """

  val defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q09: left-join enrich + distinct & conditional aggregates per nation
    // (reference merge at EDA.ipynb cell 20 / F6; conditional agg family
    // §2.E). nation is tiny -> broadcast; single shuffle for the agg.
    Q(
      "q09_nation_order_profile",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val n = Tables.nation(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(
            countDistinct(col("c_custkey")).as("n_customers"),
            count(col("o_orderkey")).as("n_orders"),
            sum(when(col("o_orderpriority") === "1-URGENT", dec2(col("o_totalprice")))
              .otherwise(lit(null))).cast(DoubleType).as("urgent_total"))
          .orderBy("nation")
      },
      Some("""
        SELECT n_name AS nation,
               COUNT(DISTINCT c_custkey) AS n_customers,
               COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_total
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1 ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q10: per-group top-k via rank window (generalizes DISTINCT ON,
    // reference sql/analysis_queries.sql:72-80). WindowGroupLimit pushes
    // the k-limit below the exchange at scale.
    Q(
      "q10_topk_orders_per_priority",
      (s, dir) => {
        TopK.topKPerGroup(
          Tables.orders(s, dir), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
          .select(
            col("o_orderpriority").as("priority"),
            col("rank_in_group"),
            col("o_orderkey").as("orderkey"),
            col("o_totalprice").as("totalprice"))
          .orderBy("priority", "rank_in_group")
      },
      Some("""
        SELECT o_orderpriority AS priority,
               CAST(rn AS INT) AS rank_in_group,
               o_orderkey AS orderkey,
               o_totalprice AS totalprice
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        ) WHERE rn <= 3 ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q11: ROLLUP subtotal hierarchy (beyond the reference's flat aggs —
    // §2.E notes it has no grouping sets; the engine supplies them).
    // Spark plans a single Expand + hash agg, one shuffle.
    Q(
      "q11_rollup_pricing",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .rollup(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
          .agg(
            sumExact(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy(col("returnflag").asc_nulls_first, col("linestatus").asc_nulls_first)
      },
      Some("""
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST
      """)),

    // ----------------------------------------------------------------
    // q12: left-semi join — customers that have at least one URGENT order
    // (the reference's upsert existence check is morally a semi join,
    // SURVEY.md O6/§2.E).
    Q(
      "q12_semi_join_urgent_customers",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
          .orderBy("custkey")
      },
      Some("""
        SELECT c_custkey AS custkey, c_name AS name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q13: left-anti join — customers with no order at all.
    Q(
      "q13_anti_join_orderless_customers",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
          .orderBy("custkey")
      },
      Some("""
        SELECT c_custkey AS custkey, c_mktsegment AS segment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q14: set operations — INTERSECT / EXCEPT with labels (reference has
    // none, §2.E; the engine supplies distinct-set semantics).
    Q(
      "q14_setops_user_cohorts",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def users(t: String) =
          ev.where(col("event_type") === t).select("user_id").distinct()
        val clicks = users("click")
        val purchases = users("purchase")
        clicks.intersect(purchases).withColumn("cohort", lit("both"))
          .unionByName(clicks.except(purchases).withColumn("cohort", lit("click_only")))
          .unionByName(purchases.except(clicks).withColumn("cohort", lit("purchase_only")))
          .orderBy("user_id")
      },
      Some("""
        WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
             p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
        UNION ALL
        SELECT user_id, 'click_only' FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        UNION ALL
        SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q15: date-spine generation via sequence + explode (reference rrule
    // date driver, cli.py:156 / O12) left-joined to daily order counts —
    // zero-fill days with no orders. The spine is generated, not scanned.
    Q(
      "q15_date_spine_daily_orders",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("d"))
        val bounds = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        val spine = bounds.select(
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        val daily = o.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
        spine.join(daily, spine("day") === daily("d"), "left")
          .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
          .orderBy("day")
      },
      Some("""
        WITH bounds AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi
          FROM orders
        ), spine AS (
          SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds
        ), daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS cnt
          FROM orders GROUP BY 1
        )
        SELECT day, COALESCE(cnt, 0) AS n_orders
        FROM spine LEFT JOIN daily ON day = d
        ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q16: key-based upsert (reference check-then-write, db.py:113-133).
    // Deterministic update set: every 5th order re-arrives 30 days later
    // with a higher price; latest version wins per key.
    Q(
      "q16_upsert_orders",
      (s, dir) => {
        val base = Tables.orders(s, dir)
        val updates = base
          .where(pmod(col("o_orderkey"), lit(5)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 30 DAY"))
        Upsert.upsert(base, updates, Seq("o_orderkey"), "o_orderdate")
          .select(
            col("o_orderkey").as("orderkey"),
            col("o_totalprice").as("totalprice"),
            col("o_orderdate").as("orderdate"))
          .orderBy("orderkey")
      },
      Some("""
        WITH updates AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 o_totalprice + 1000.0 AS o_totalprice,
                 o_orderdate + INTERVAL 30 DAY AS o_orderdate,
                 o_orderpriority
          FROM orders WHERE o_orderkey % 5 = 0
        ), tagged AS (
          SELECT *, 0 AS src FROM orders
          UNION ALL
          SELECT *, 1 AS src FROM updates
        )
        SELECT o_orderkey AS orderkey, o_totalprice AS totalprice,
               o_orderdate AS orderdate
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY o_orderdate DESC, src DESC) AS rn
          FROM tagged
        ) WHERE rn = 1 ORDER BY 1
      """)),

    // ----------------------------------------------------------------
    // q17: multi-way star join — revenue per nation where the customer's
    // and the lineitem supplier's nation agree, TPC-H Q5 shape. Dimension
    // sides (region, nation, supplier) broadcast; the orders-lineitem join
    // is the only large shuffle and AQE handles its sizing.
    Q(
      "q17_regional_supplier_volume",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        val disc = dec2(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec2(col("l_discount")))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(su), li("l_suppkey") === su("s_suppkey") &&
            c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .where(col("r_name").isin("ASIA", "EUROPE"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(sum(disc).cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
          .orderBy("region", "nation")
      },
      Some("""
        SELECT r_name AS region, n_name AS nation,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ----------------------------------------------------------------
    // q93: banded interval join — 24 h post-purchase attribution. The
    // naive form is a theta join (same user, t in (p, p+24h]) that Spark
    // plans as an SMJ on user_id alone with quadratic per-user
    // filtering; the banded rewrite adds the TIME BUCKET to the equi-
    // key (the range-join-hint / Flink-interval-join technique): bucket
    // width = window length, so each purchase window spans exactly 2
    // buckets (exploded on the purchase side) and each event lives in
    // exactly 1 — every qualifying pair matches exactly once, no dedup,
    // and per-task work is bounded by per-(user, day) event density
    // instead of per-user history. Purchases with zero attributed
    // events survive via the final left join (micros per q81's
    // convention; counts are integers).
    Q(
      "q93_attribution_interval_join",
      (s, dir) => {
        val W = 86400000000L // 24 h in micros = band width
        val ev = Tables.df(s, dir, "events")
          .selectExpr("event_id", "user_id",
            s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("t_us").as("p_us"))
        val purchBanded = purch.withColumn("bucket",
          explode(array(expr(s"p_us div $W"), expr(s"p_us div $W + 1"))))
        val attributed = ev
          .withColumn("bucket", expr(s"t_us div $W"))
          .join(purchBanded, Seq("user_id", "bucket"))
          .where(col("t_us") > col("p_us") && col("t_us") <= col("p_us") + W)
          .groupBy(col("purchase_id"))
          .agg(count(lit(1)).as("n_attr"),
            countDistinct(col("event_type")).as("n_types"))
        purch.join(attributed, Seq("purchase_id"), "left")
          .select(col("purchase_id"), col("user_id"), col("p_us"),
            coalesce(col("n_attr"), lit(0L)).as("n_attr"),
            coalesce(col("n_types"), lit(0L)).as("n_types"))
          .orderBy("purchase_id")
      },
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q146: the q93 attribution through the NATIVE band-join operator
    // (BandJoinPlan → GraftStrategies → BandJoinExec): purchases are
    // the left, events the right, band (0, 24h] in micros — one
    // exchange+sort per side and a streaming merge whose memory is
    // bounded by band OCCUPANCY, replacing the bucket-explode rewrite
    // (2x left inflation + post-filter + bucket bookkeeping). The
    // right side is the left's OWN scan filtered (purchases ⊂ events)
    // — the self-derived shape PlanDedup re-aliases. Gated by q93's
    // oracle VERBATIM.
    Q(
      "q146_band_join_native",
      (s, dir) => bandAttribution(s, dir, broadcastDim = false),
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q147: the same attribution through the BROADCAST band join, in
    // the REVERSED orientation that makes the dim side the broadcast
    // side: events are the left (the 100 TB fact stream — never
    // shuffled, never sorted), purchases the broadcast right, and the
    // band flips sign: event e attributes to purchase p iff
    // t_e − t_p ∈ (0, W] ⇔ t_p − t_e ∈ [−W, −1] = (−W−1, −1] on
    // integer micros. Each event answers with two binary searches of
    // the per-key purchase index + a contiguous slice. Same aggregate,
    // same oracle VERBATIM — the reversal is exact, not approximate.
    Q(
      "q147_band_join_broadcast",
      (s, dir) => bandAttribution(s, dir, broadcastDim = true),
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q153: LEFT OUTER band join — q146's purchase→follow-up-events
    // attribution at PAIR grain, keeping purchases with an empty band
    // as one NULL-event row (BandJoinExec leftOuter=true). This is the
    // shape q93/q146 emulate with a post-aggregation left join back
    // onto purchases; the outer operator needs no second join. Oracle
    // is the LEFT JOIN spelling of q93's band SQL, verbatim semantics.
    Q(
      "q153_band_join_left_outer",
      (s, dir) => {
        import graft.operators.BandJoin
        val W = 86400000000L // 24 h in micros
        val ev = Tables.df(s, dir, "events")
          .selectExpr("event_id", "user_id",
            s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("t_us").as("p_us"))
        BandJoin.bandJoin(
          purch,
          ev.select(col("user_id"), col("t_us"),
            col("event_id").as("attr_event_id"),
            col("event_type").as("attr_event_type")),
          "user_id", "user_id", "p_us", "t_us",
          lo = 0, hi = W,
          payload = Seq("attr_event_id", "attr_event_type"), leftOuter = true)
          .select(col("purchase_id"), col("user_id"), col("p_us"),
            col("attr_event_id"), col("attr_event_type"))
          .orderBy(col("purchase_id"), col("attr_event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
                 event_type
          FROM events),
        p AS (
          SELECT event_id AS purchase_id, user_id, t_us AS p_us
          FROM e WHERE event_type = 'purchase')
        SELECT p.purchase_id, p.user_id, p.p_us,
               e.event_id AS attr_event_id,
               e.event_type AS attr_event_type
        FROM p LEFT JOIN e ON e.user_id = p.user_id
                          AND e.t_us > p.p_us
                          AND e.t_us <= p.p_us + 86400000000
        ORDER BY p.purchase_id, attr_event_id
      """)),

    // ----------------------------------------------------------------
    // q184: the q146 attribution through the SALTED band join — the
    // skew mitigation for the one straggler shape AQE cannot fix on
    // the custom exec tier (OptimizeSkewedJoin matches only SMJ/SHJ,
    // so a viral user's partition would never be runtime-split). The
    // left (purchases) salts into 8 sub-keys from its own timestamps,
    // events replicate per salt, and the merge runs on
    // (user_id, __band_salt) — the hot user spreads over 8 partitions
    // while the band, a per-LEFT-row predicate, matches exactly the
    // unsalted pair set. Gated by q93/q146/q147's oracle VERBATIM —
    // the fourth formulation held to the same hash-exact bar.
    Q(
      "q184_band_join_salted",
      (s, dir) => bandAttributionSalted(s, dir),
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q152: STREAMING band join ACROSS A CHECKPOINT RESUME — q147's
    // broadcast band attribution (events = the fact stream, never
    // shuffled or sorted; purchases = the broadcast dim index) deployed
    // as a micro-batched pipeline through Replay.stream, with the
    // resume path under the gate (a re-processed wave would double
    // the attributed pairs). Band enrichment is row-wise
    // against a static right side, so the union of per-batch outputs
    // equals the one-shot batch join — which is why this entry is held
    // to q93/q146/q147's oracle VERBATIM.
    Q(
      "q152_stream_band_join",
      (s, dir) => {
        import graft.operators.BandJoin
        val out = graft.Q.fresh(s, "q152_streamband", dir)
        val W = 86400000000L // 24 h in micros
        val ev = Tables.df(s, dir, "events")
          .selectExpr("event_id", "user_id",
            s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"), col("t_us").as("p_us"))
        graft.streaming.Replay.stream(s, out,
            Seq(ev.where(col("event_id") % 2 === 0),
              ev.where(col("event_id") % 2 === 1)),
            parts = 2, perFile = true) { (b, id) =>
          // event e attributes to purchase p iff t_e − t_p ∈ (0, W]
          // ⇔ t_p − t_e ∈ (−W−1, −1] on integer micros (q147's
          // exact reversal)
          graft.streaming.Replay.writeBatch(BandJoin.bandJoin(b, purch,
              "user_id", "p_user", "t_us", "p_us",
              lo = -W - 1, hi = -1, payload = Seq("purchase_id"),
              strategy = "broadcast")
            .select("purchase_id", "event_type"), s"$out/pairs", id)
        }
        val attributed = s.read.parquet(s"$out/pairs")
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_attr"),
            countDistinct(col("event_type")).as("n_types"))
        purch.select(col("purchase_id"), col("p_user").as("user_id"),
            col("p_us"))
          .join(attributed, Seq("purchase_id"), "left")
          .select(col("purchase_id"), col("user_id"), col("p_us"),
            coalesce(col("n_attr"), lit(0L)).as("n_attr"),
            coalesce(col("n_types"), lit(0L)).as("n_types"))
          .orderBy("purchase_id")
      },
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q161: q152's streaming band attribution through the NATIVE
    // sort-merge exec per batch — the fact×fact deployment. q152
    // broadcasts the purchases side, which is only safe while that
    // side is dim-sized: the round-14 100x scale audit OOMed exactly
    // that shape when purchases grew with the corpus (SCALING.md).
    // This entry is the documented alternative: each micro-batch runs
    // the per-batch band join through BandJoinExec (both sides
    // exchanged+sorted per batch, spill-safe at any right-side size —
    // the per-batch cost a fact-sized right FORCES). Same Replay.stream
    // deployment, same oracle VERBATIM: band
    // enrichment is row-wise, so the per-batch union still equals the
    // one-shot batch join.
    Q(
      "q161_stream_band_join_native",
      (s, dir) => {
        import graft.operators.BandJoin
        val out = graft.Q.fresh(s, "q161_streamband", dir)
        val W = 86400000000L // 24 h in micros
        val ev = Tables.df(s, dir, "events")
          .selectExpr("event_id", "user_id",
            s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"), col("t_us").as("p_us"))
        graft.streaming.Replay.stream(s, out,
            Seq(ev.where(col("event_id") % 2 === 0),
              ev.where(col("event_id") % 2 === 1)),
            parts = 2, perFile = true) { (b, id) =>
          // same band reversal as q152 (t_p − t_e ∈ (−W−1, −1]),
          // but through the co-partitioned sort-merge exec
          graft.streaming.Replay.writeBatch(BandJoin.bandJoin(b, purch,
              "user_id", "p_user", "t_us", "p_us",
              lo = -W - 1, hi = -1, payload = Seq("purchase_id"))
            .select("purchase_id", "event_type"), s"$out/pairs", id)
        }
        val attributed = s.read.parquet(s"$out/pairs")
          .groupBy("purchase_id")
          .agg(count(lit(1)).as("n_attr"),
            countDistinct(col("event_type")).as("n_types"))
        purch.select(col("purchase_id"), col("p_user").as("user_id"),
            col("p_us"))
          .join(attributed, Seq("purchase_id"), "left")
          .select(col("purchase_id"), col("user_id"), col("p_us"),
            coalesce(col("n_attr"), lit(0L)).as("n_attr"),
            coalesce(col("n_types"), lit(0L)).as("n_types"))
          .orderBy("purchase_id")
      },
      Some(attributionOracle)),

    // ----------------------------------------------------------------
    // q178: BUCKETED CO-LOCATED join under the gate — the layout-level
    // answer to "the same key is joined every day at 100 TB": both
    // sides are written `bucketBy(16, custkey).sortBy` as catalog
    // tables, so the repeated join runs with ZERO shuffle exchanges on
    // either side (bucket layout satisfies the SMJ's distribution +
    // ordering requirements; TrainingOpsSpec pins exactly one
    // hashpartitioning exchange in the whole plan — the final
    // aggregate's — and none below the join). Write cost is paid ONCE;
    // every subsequent join of these tables is exchange-free. The gate
    // certifies the values against a plain join over the originals.
    Q(
      "q178_bucketed_colocated_join",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val lt = s"bkt_orders_$tag"
        val rt = s"bkt_cust_$tag"
        Seq(lt, rt).foreach { n =>
          s.sql(s"DROP TABLE IF EXISTS $n")
          // a fresh JVM starts a fresh in-memory metastore, but the
          // warehouse dir persists across runs — clear it or the
          // CREATE refuses (the BucketedJoinSpec lesson)
          graft.Q.rmrf(new java.io.File(s"spark-warehouse/$n"))
        }
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").bucketBy(16, "o_custkey")
          .sortBy("o_custkey").saveAsTable(lt)
        Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").bucketBy(16, "c_custkey")
          .sortBy("c_custkey").saveAsTable(rt)
        s.table(lt)
          .hint("merge") // SMJ: the bucket layout, not a broadcast, wins
          .join(s.table(rt), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            graft.Q.sumExact(col("o_totalprice")).as("total"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1
      """))
  )

  /** q146's attribution through [[BandJoin.bandJoinSalted]] (q184):
    * the identical pair set, the hot key spread over 8 salt buckets. */
  private def bandAttributionSalted(s: org.apache.spark.sql.SparkSession,
                                    dir: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.BandJoin
    val W = 86400000000L
    val ev = Tables.df(s, dir, "events")
      .selectExpr("event_id", "user_id",
        s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("t_us").as("p_us"))
    val pairs = BandJoin.bandJoinSalted(
      purch, ev.select(col("user_id"), col("t_us"), col("event_type")),
      "user_id", "user_id", "p_us", "t_us",
      lo = 0, hi = W,
      payload = Seq("event_type"),
      buckets = 8)
      .select(col("purchase_id"), col("event_type"))
    val attributed = pairs.groupBy("purchase_id")
      .agg(count(lit(1)).as("n_attr"),
        countDistinct(col("event_type")).as("n_types"))
    purch.join(attributed, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"), col("p_us"),
        coalesce(col("n_attr"), lit(0L)).as("n_attr"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
      .orderBy("purchase_id")
  }

  /** q93's attribution computed through the custom band-join operator
    * family — both strategies produce the identical (purchase, event)
    * pair set, aggregated identically. */
  private def bandAttribution(s: org.apache.spark.sql.SparkSession,
                              dir: String, broadcastDim: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.BandJoin
    val W = 86400000000L
    val ev = Tables.df(s, dir, "events")
      .selectExpr("event_id", "user_id",
        s"${Tables.eventsTsMicrosSql(s, dir)} as t_us", "event_type")
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("t_us").as("p_us"))
    val pairs =
      if (broadcastDim)
        // fact-side left: every event picks up its preceding-24h
        // purchases from the broadcast index, then re-keys to purchases
        BandJoin.bandJoin(
          ev.select(col("user_id"), col("event_id"), col("t_us"),
            col("event_type")),
          purch.select(col("user_id").as("p_user"), col("purchase_id"),
            col("p_us")),
          "user_id", "p_user", "t_us", "p_us",
          lo = -W - 1, hi = -1,
          payload = Seq("purchase_id"), strategy = "broadcast")
          .select(col("purchase_id"), col("event_type"))
      else
        BandJoin.bandJoin(
          purch, ev.select(col("user_id"), col("t_us"), col("event_type")),
          "user_id", "user_id", "p_us", "t_us",
          lo = 0, hi = W,
          payload = Seq("event_type"))
          .select(col("purchase_id"), col("event_type"))
    val attributed = pairs.groupBy("purchase_id")
      .agg(count(lit(1)).as("n_attr"),
        countDistinct(col("event_type")).as("n_types"))
    purch.join(attributed, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"), col("p_us"),
        coalesce(col("n_attr"), lit(0L)).as("n_attr"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
      .orderBy("purchase_id")
  }
}
