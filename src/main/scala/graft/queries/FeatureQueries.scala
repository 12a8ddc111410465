package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Cross-series / cross-sectional feature engineering — the second wave
  * of the time-series layer (q126–q136): rolling correlation between two
  * series, volume-weighted resampling, cross-sectional winsorization,
  * and the two classic OHLC-derived indicators that need more than one
  * input column (ATR, stochastic oscillator).
  *
  * Reference analog: the notebooks' pandas feature blocks
  * (transform_data.ipynb rolling/lag cells, EDA.ipynb's grouped stats) —
  * the WHAT is pandas feature semantics; the HOW here is one keyed
  * exchange per query and exact-decimal power sums wherever a float SUM
  * would otherwise make the result order-dependent (the q19/q134
  * machinery). Every double below is produced by a fixed operation
  * order over exact inputs, so the DuckDB oracles hash-match bitwise.
  *
  * Scale: each query is one hash exchange (groupBy day-key) plus at
  * most one window partition per entity key — the same shape at 100 TB,
  * where per-key daily series are tiny relative to the raw event table
  * that the FIRST aggregate reduces by orders of magnitude.
  */
object FeatureQueries {

  import graft.Q.dec2

  /** Per-(user, day) bars: deterministic daily value (MAX — order-free,
    * never SUM-of-doubles) and the day's event count. */
  private def daily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .groupBy("user_id", "d")
      .agg(max("value").as("v"), count(lit(1)).as("c"))

  private val dailySql =
    """daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, MAX(value) AS v,
      |         COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  def defs: Vector[Q] = Vector(

    // ----------------------------------------------------------------
    // q138: rolling Pearson correlation between TWO series per key —
    // pandas df.groupby(k).rolling(8).corr(other) between the daily
    // value level and the daily activity count. The five power sums
    // (Σx, Σx², Σy, Σy², Σxy) come from exact DECIMAL window sums
    // materialized ONCE as columns (the q134 lesson: inlining window
    // sums into the formula re-evaluates each occurrence as its own
    // window aggregate), then one fixed-order double expression:
    // (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²)·√(n·Σy²−Σy²)). All shares one
    // Exchange+Sort on user_id with every other sum.
    Q(
      "q138_rolling_corr",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("d")
          .rowsBetween(-7, Window.currentRow)
        val sums = daily(s, dir)
          .withColumn("n", count(col("v")).over(w))
          .withColumn("sx", sum(dec2(col("v"))).over(w).cast(DoubleType))
          .withColumn("sxx",
            sum(dec2(col("v")) * dec2(col("v"))).over(w).cast(DoubleType))
          .withColumn("sy", sum(dec2(col("c"))).over(w).cast(DoubleType))
          .withColumn("syy",
            sum(dec2(col("c")) * dec2(col("c"))).over(w).cast(DoubleType))
          .withColumn("sxy",
            sum(dec2(col("v")) * dec2(col("c"))).over(w).cast(DoubleType))
        val num = col("n") * col("sxy") - col("sx") * col("sy")
        val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))
        sums
          .withColumn("roll_corr",
            when(col("n") === 8 && den > lit(0.0), num / den))
          .select("user_id", "d", "v", "c", "roll_corr")
          .orderBy("user_id", "d")
      },
      Some(s"""
        WITH $dailySql, sums AS (
          SELECT user_id, d, v, c,
            COUNT(v) OVER w AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
            CAST(SUM(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2)))
                 OVER w AS DOUBLE) AS sxx,
            CAST(SUM(CAST(c AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sy,
            CAST(SUM(CAST(c AS DECIMAL(18,2)) * CAST(c AS DECIMAL(18,2)))
                 OVER w AS DOUBLE) AS syy,
            CAST(SUM(CAST(v AS DECIMAL(18,2)) * CAST(c AS DECIMAL(18,2)))
                 OVER w AS DOUBLE) AS sxy
          FROM daily
          WINDOW w AS (PARTITION BY user_id ORDER BY d
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, d, v, c,
          CASE WHEN n = 8 AND
                    sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0.0
               THEN (n * sxy - sx * sy) /
                    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
          END AS roll_corr
        FROM sums ORDER BY user_id, d
      """)),

    // ----------------------------------------------------------------
    // q139: VWAP resample — the volume-weighted monthly price per
    // supplier that a naive AVG(price) gets wrong. ONE hash aggregate
    // (partial+final around a single keyed exchange, no sort, no
    // window). Exactness WITHOUT decimal128 multiplies in the hot
    // loop: the 2-decimal price becomes integer CENTS (round(p·100) —
    // HALF_UP in both engines for positive money) and the per-row
    // product cents·qty stays compact-long inside Spark's Decimal
    // (precision 36 < 38 triggers no 128-bit multiply for these
    // magnitudes), so Σ(p·q) = Σ(cents·qty)/100 exactly. Measured at
    // the 100x audit: the DECIMAL(18,2)×DECIMAL(18,2) formulation
    // cost 30.5 s, the cents form 13.5 s; a raw long sum saves ~nothing
    // more (the remaining cost is the 60M-row scan + the 7.9M-group
    // aggregate + ordered output — all linear in data AND output). The
    // sum accumulates as DECIMAL(38,0): a long sum would wrap past
    // ~2e10 rows on one skewed key, the case a 100 TB run hits.
    Q(
      "q139_vwap_resample",
      (s, dir) => {
        val cents = round(col("l_extendedprice") * lit(100.0))
          .cast("decimal(18,0)")
        val qty = col("l_quantity").cast("decimal(18,0)")
        Tables.lineitem(s, dir)
          .select(col("l_suppkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("m"),
            (cents * qty).cast(org.apache.spark.sql.types.DecimalType(38, 0))
              .as("cq"),
            col("l_quantity").cast("long").as("q"))
          .groupBy("l_suppkey", "m")
          .agg(
            (sum(col("cq")).cast(DoubleType) / lit(100.0) /
              sum(col("q")).cast(DoubleType)).as("vwap"),
            sum(col("q")).cast(DoubleType).as("qty"),
            count(lit(1)).as("n_trades"))
          .orderBy("l_suppkey", "m")
      },
      Some("""
        SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
          CAST(SUM(CAST(CAST(ROUND(l_extendedprice * CAST(100.0 AS DOUBLE))
                        AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))
                   AS DECIMAL(38,0))) AS DOUBLE)
            / CAST(100.0 AS DOUBLE)
            / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS vwap,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qty,
          COUNT(*) AS n_trades
        FROM lineitem GROUP BY 1, 2
        ORDER BY l_suppkey, m
      """)),

    // ----------------------------------------------------------------
    // q140: cross-sectional rank + winsorization — for every day,
    // rank all entities' values across the cross-section and clip to
    // the day's [5th, 95th] percentile ORDER STATISTICS (the k-th
    // smallest via integer rank arithmetic — never an interpolated
    // quantile, whose fraction arithmetic is not bit-portable across
    // engines). One window partition on the DAY key (the cross-
    // sectional axis — orthogonal to every per-entity query); ranks
    // break ties on user_id for a total order. This is the
    // feature-normalization step of a cross-sectional factor model:
    // percent_rank is exact rational arithmetic on integers.
    Q(
      "q140_cross_sectional_winsor",
      (s, dir) => {
        val byDay = Window.partitionBy("d")
        val wOrd = byDay.orderBy(col("v").asc, col("user_id").asc)
        val base = daily(s, dir)
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("n", count(lit(1)).over(byDay))
        // k_lo = ceil(n/20) via integer arithmetic; k_hi mirrors it
        val kLo = expr("(n + 19) DIV 20")
        val kHi = col("n") - kLo + lit(1)
        base
          .withColumn("pct_rank",
            when(col("n") === 1, lit(0.0))
              .otherwise((col("rn") - lit(1)).cast(DoubleType) /
                (col("n") - lit(1)).cast(DoubleType)))
          .withColumn("lo_v", max(when(col("rn") === kLo, col("v"))).over(byDay))
          .withColumn("hi_v", max(when(col("rn") === kHi, col("v"))).over(byDay))
          .withColumn("w_v", least(greatest(col("v"), col("lo_v")), col("hi_v")))
          .select("user_id", "d", "v", "rn", "pct_rank", "lo_v", "hi_v", "w_v")
          .orderBy("d", "rn")
      },
      Some(s"""
        WITH $dailySql, ranked AS (
          SELECT user_id, d, v,
            row_number() OVER (PARTITION BY d ORDER BY v, user_id) AS rn,
            COUNT(*) OVER (PARTITION BY d) AS n
          FROM daily
        ), bounded AS (
          SELECT user_id, d, v, rn, n,
            MAX(CASE WHEN rn = (n + 19) // 20 THEN v END)
              OVER (PARTITION BY d) AS lo_v,
            MAX(CASE WHEN rn = n - (n + 19) // 20 + 1 THEN v END)
              OVER (PARTITION BY d) AS hi_v
          FROM ranked
        )
        SELECT user_id, d, v, CAST(rn AS INT) AS rn,
          CASE WHEN n = 1 THEN 0.0
               ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct_rank,
          lo_v, hi_v,
          LEAST(GREATEST(v, lo_v), hi_v) AS w_v
        FROM bounded ORDER BY d, rn
      """)),

    // ----------------------------------------------------------------
    // q141: ATR(14) — Wilder's average true range over the daily OHLC
    // bars (q127's one-aggregate resample feeding q128's recursive
    // fold): TR = max(high−low, |high−prev_close|, |low−prev_close|)
    // (first bar: high−low), then the α=1/14 Wilder EWMA through the
    // spill-safe one-exchange fold. GREATEST/ABS/subtraction are all
    // exact-or-correctly-rounded single ops; the fold replays the
    // oracle's recursion bit-for-bit like the rest of the EWMA family.
    Q(
      "q141_atr",
      (s, dir) => {
        import graft.operators.Ewma
        val w = Window.partitionBy("user_id").orderBy("t")
        val ohlc = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"),
            col("ts"), col("event_id"), col("value"))
          .groupBy("user_id", "d")
          .agg(
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("close"))
          .select(col("user_id"),
            datediff(col("d"), lit("1970-01-01").cast("date")).as("t"),
            col("high"), col("low"), col("close"))
        val tr = ohlc
          .withColumn("pc", lag("close", 1).over(w))
          .withColumn("tr",
            when(col("pc").isNull, col("high") - col("low"))
              .otherwise(greatest(col("high") - col("low"),
                abs(col("high") - col("pc")), abs(col("low") - col("pc")))))
        Ewma.ewmaByKey(tr.select("user_id", "t", "tr"),
            "user_id", "t", "tr", alpha = 1.0 / 14.0)
          .select(col("user_id"), col("t"), col("tr"), col("ewma").as("atr"))
          .orderBy("user_id", "t")
      },
      Some("""
        WITH RECURSIVE ranked0 AS (
          SELECT user_id, CAST(ts AS DATE) AS d, value,
            row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events
        ), ohlc AS (
          SELECT user_id, (d - DATE '1970-01-01') AS t,
            MAX(value) AS high, MIN(value) AS low,
            MAX(CASE WHEN rn_d = 1 THEN value END) AS close
          FROM ranked0 GROUP BY 1, 2
        ), tr_t AS (
          SELECT user_id, t,
            CASE WHEN pc IS NULL THEN high - low
                 ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc))
            END AS tr
          FROM (
            SELECT user_id, t, high, low,
              lag(close) OVER (PARTITION BY user_id ORDER BY t) AS pc
            FROM ohlc
          )
        ), ranked AS (
          SELECT user_id, t, tr,
            row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
          FROM tr_t
        ), rec AS (
          SELECT user_id, t, tr, rn, tr AS atr FROM ranked WHERE rn = 1
          UNION ALL
          SELECT r.user_id, r.t, r.tr, r.rn,
                 (1 - 1.0/14.0) * p.atr + (1.0/14.0) * r.tr
          FROM ranked r JOIN rec p
            ON p.user_id = r.user_id AND r.rn = p.rn + 1
        )
        SELECT user_id, t, tr, atr FROM rec ORDER BY user_id, t
      """)),

    // ----------------------------------------------------------------
    // q142: stochastic oscillator %K/%D over the daily bars — %K =
    // 100·(close − LL14)/(HH14 − LL14) with rolling min/max frames
    // (order-free extremes, full-frame-only like pandas min_periods),
    // %D = the 3-sample SMA of %K spelled as (k + lag(k,1) + lag(k,2))/3
    // — explicit lags give a FIXED left-to-right addition order,
    // where a window SUM over doubles would let either engine
    // re-associate the sum (DuckDB's sliding-frame segment tree). The
    // flat-window HH=LL edge is guarded to NULL before the division
    // on BOTH engines (Spark /0→NULL vs DuckDB →Inf — neither may
    // evaluate it).
    Q(
      "q142_stochastic_oscillator",
      (s, dir) => {
        val wOrd = Window.partitionBy("user_id").orderBy("t")
        val w14 = wOrd.rowsBetween(-13, Window.currentRow)
        val ohlc = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"),
            col("ts"), col("event_id"), col("value"))
          .groupBy("user_id", "d")
          .agg(
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("close"))
          .select(col("user_id"),
            datediff(col("d"), lit("1970-01-01").cast("date")).as("t"),
            col("high"), col("low"), col("close"))
        val k = ohlc
          .withColumn("nn", count(lit(1)).over(w14))
          .withColumn("hh", max(col("high")).over(w14))
          .withColumn("ll", min(col("low")).over(w14))
          .withColumn("pk",
            when(col("nn") === 14 && col("hh") > col("ll"),
              lit(100.0) * (col("close") - col("ll")) / (col("hh") - col("ll"))))
        k.withColumn("pd",
            when(col("pk").isNotNull && lag("pk", 1).over(wOrd).isNotNull &&
              lag("pk", 2).over(wOrd).isNotNull,
              (col("pk") + lag("pk", 1).over(wOrd) + lag("pk", 2).over(wOrd))
                / lit(3.0)))
          .select("user_id", "t", "close", "hh", "ll", "pk", "pd")
          .orderBy("user_id", "t")
      },
      Some("""
        WITH ranked0 AS (
          SELECT user_id, CAST(ts AS DATE) AS d, value,
            row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events
        ), ohlc AS (
          SELECT user_id, (d - DATE '1970-01-01') AS t,
            MAX(value) AS high, MIN(value) AS low,
            MAX(CASE WHEN rn_d = 1 THEN value END) AS close
          FROM ranked0 GROUP BY 1, 2
        ), kline AS (
          SELECT user_id, t, close,
            MAX(high) OVER w14 AS hh, MIN(low) OVER w14 AS ll,
            CASE WHEN COUNT(*) OVER w14 = 14 AND
                      MAX(high) OVER w14 > MIN(low) OVER w14
                 THEN 100.0 * (close - MIN(low) OVER w14) /
                      (MAX(high) OVER w14 - MIN(low) OVER w14)
            END AS pk
          FROM ohlc
          WINDOW w14 AS (PARTITION BY user_id ORDER BY t
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, CAST(t AS INT) AS t, close, hh, ll, pk,
          CASE WHEN pk IS NOT NULL
                AND lag(pk, 1) OVER wo IS NOT NULL
                AND lag(pk, 2) OVER wo IS NOT NULL
               THEN (pk + lag(pk, 1) OVER wo + lag(pk, 2) OVER wo) / 3.0
          END AS pd
        FROM kline
        WINDOW wo AS (PARTITION BY user_id ORDER BY t)
        ORDER BY user_id, t
      """)),

    // ----------------------------------------------------------------
    // q148: rolling MEDIAN over an ODD window (pandas
    // rolling(7).median(), min_periods=7) — the robust rolling center.
    // Odd window ⇒ the median is the 4th ORDER STATISTIC of the frame:
    // no interpolation, no arithmetic at all, so cross-engine equality
    // is set equality, not float discipline. Spark side: sorted frame
    // list → element 4 (a window collect over 7 rows — constant per
    // row); DuckDB's windowed median on an odd count resolves to the
    // same exact element. An even window would interpolate (engine-
    // specific fraction math) — the odd choice is load-bearing.
    Q(
      "q148_rolling_median",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("d")
          .rowsBetween(-6, Window.currentRow)
        daily(s, dir)
          .withColumn("nn", count(col("v")).over(w))
          .withColumn("med7",
            when(col("nn") === 7,
              element_at(sort_array(collect_list(col("v")).over(w)), 4)))
          .select("user_id", "d", "v", "med7")
          .orderBy("user_id", "d")
      },
      Some(s"""
        WITH $dailySql
        SELECT user_id, d, v,
          CASE WHEN COUNT(v) OVER w = 7 THEN median(v) OVER w END AS med7
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, d
      """)),

    // ----------------------------------------------------------------
    // q149: cross-sectional robust z-score — (v − median) / (1.4826 ·
    // MAD) per day, the outlier scale that survives what mean/σ does
    // not. BOTH medians come from explicit integer rank arithmetic
    // (k-th order statistics; even cross-sections average the two
    // middles with one add + one exact halving), never an engine
    // quantile — the q140 rule. Two ranking windows on the DAY
    // partition (values, then absolute deviations); the 1.4826
    // constant is CAST to DOUBLE in the oracle (the q143 DECIMAL-
    // literal trap). MAD = 0 cross-sections guard to NULL before the
    // division on both engines.
    Q(
      "q149_robust_zscore",
      (s, dir) => {
        val byDay = Window.partitionBy("d")
        def medianOf(df: DataFrame, c: String, out: String): DataFrame = {
          val wOrd = byDay.orderBy(col(c).asc, col("user_id").asc)
          val k1 = expr("(__n + 1) DIV 2")
          val k2 = expr("(__n + 2) DIV 2")
          df.withColumn("__rn", row_number().over(wOrd))
            .withColumn("__n", count(lit(1)).over(byDay))
            .withColumn("__m1", max(when(col("__rn") === k1, col(c))).over(byDay))
            .withColumn("__m2", max(when(col("__rn") === k2, col(c))).over(byDay))
            .withColumn(out, (col("__m1") + col("__m2")) / lit(2.0))
            .drop("__rn", "__n", "__m1", "__m2")
        }
        val withMed = medianOf(daily(s, dir), "v", "med")
          .withColumn("adev", abs(col("v") - col("med")))
        val withMad = medianOf(withMed, "adev", "mad")
        withMad
          .withColumn("rz",
            when(col("mad") > lit(0.0),
              (col("v") - col("med")) / (lit(1.4826) * col("mad"))))
          .select("user_id", "d", "v", "med", "mad", "rz")
          .orderBy("d", "user_id")
      },
      Some(s"""
        WITH $dailySql, r1 AS (
          SELECT user_id, d, v,
            row_number() OVER (PARTITION BY d ORDER BY v, user_id) AS rn,
            COUNT(*) OVER (PARTITION BY d) AS n
          FROM daily
        ), m1 AS (
          SELECT user_id, d, v,
            (MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) OVER (PARTITION BY d)
             + MAX(CASE WHEN rn = (n + 2) // 2 THEN v END) OVER (PARTITION BY d))
              / 2.0 AS med
          FROM r1
        ), r2 AS (
          SELECT user_id, d, v, med, ABS(v - med) AS adev,
            row_number() OVER (PARTITION BY d ORDER BY ABS(v - med), user_id) AS rn,
            COUNT(*) OVER (PARTITION BY d) AS n
          FROM m1
        ), m2 AS (
          SELECT user_id, d, v, med,
            (MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) OVER (PARTITION BY d)
             + MAX(CASE WHEN rn = (n + 2) // 2 THEN adev END) OVER (PARTITION BY d))
              / 2.0 AS mad
          FROM r2
        )
        SELECT user_id, d, v, med, mad,
          CASE WHEN mad > 0.0
               THEN (v - med) / (CAST(1.4826 AS DOUBLE) * mad) END AS rz
        FROM m2 ORDER BY d, user_id
      """)),

    // ----------------------------------------------------------------
    // q150: RUNNING DISTINCT COUNT per key (pandas expanding()
    // .nunique()) — Spark has no windowed COUNT(DISTINCT), so the
    // standard rewrite: a first-occurrence flag from one ranking
    // window on (key, value-to-count) and a running SUM of flags on
    // the key's timeline. Two window partitions (two exchanges) of
    // integer work; exact at any scale, and each state is one counter
    // — no distinct-set buffering anywhere.
    Q(
      "q150_running_distinct",
      (s, dir) => {
        val firstSeen = Window.partitionBy("user_id", "event_type")
          .orderBy("ts", "event_id")
        val timeline = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select("user_id", "ts", "event_id", "event_type")
          .withColumn("first_seen",
            when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
          .withColumn("n_types_so_far", sum(col("first_seen")).over(timeline))
          .select("user_id", "event_id", "event_type", "first_seen",
            "n_types_so_far")
          .orderBy("event_id")
      },
      Some("""
        WITH f AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) = 1
                 THEN 1 ELSE 0 END AS first_seen
          FROM events
        )
        SELECT user_id, event_id, event_type,
          CAST(first_seen AS BIGINT) AS first_seen,
          CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_types_so_far
        FROM f ORDER BY event_id
      """)),

    // ----------------------------------------------------------------
    // q151: BOUNDED-LOOKBACK as-of join (pandas merge_asof tolerance=):
    // q41/q122's event→latest-order attachment, but a match older than
    // the bound is EXPIRED and nulls out — the "stale quote must not
    // match" contract. TESTDATA's match ages cluster at 8223–8813 days
    // (1995–2001 orders under Jan-2024 events), so the 8400-day bound
    // expires roughly half the matches — both branches of the expiry
    // rule are exercised at every SF. Runs through the native sort-merge exec
    // (AsOfJoinExec tolerance=Some) — one co-partitioned merge pass,
    // the bound applied with overflow-exact integer arithmetic; the
    // window and broadcast formulations are pinned value-identical in
    // ToleranceAsOfSpec. Tolerance is in the time type's NATIVE unit
    // (micros here: ts is TIMESTAMP); the oracle mirrors it with
    // epoch_us() on both sides of the same DATE→TIMESTAMP cast.
    Q(
      "q151_asof_tolerance",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
        val winner = Window.partitionBy("o_custkey", "o_orderdate")
          .orderBy(col("o_orderkey").desc)
        val orders = Tables.orders(s, dir)
          .withColumn("__rn", row_number().over(winner))
          .where(col("__rn") === 1)
          .select(col("o_custkey"), col("o_orderdate"),
            col("o_orderkey").as("asof_orderkey"),
            col("o_totalprice").as("asof_totalprice"))
        graft.operators.AsOfJoin.asof(
          ev, orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("asof_orderkey", "asof_totalprice"),
          tolerance = Some(8400L * 24 * 3600 * 1000000L)) // 8400 days in micros
          .orderBy("event_id")
      },
      Some("""
        WITH ded AS (
          SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS asof_orderkey
          FROM orders GROUP BY 1, 2
        ), winner AS (
          SELECT d.o_custkey, d.o_orderdate, d.asof_orderkey,
                 o.o_totalprice AS asof_totalprice
          FROM ded d JOIN orders o ON o.o_orderkey = d.asof_orderkey
        )
        SELECT e.event_id, e.user_id, e.ts, w.asof_orderkey, w.asof_totalprice
        FROM events e
        LEFT JOIN winner w ON w.o_custkey = e.user_id AND w.o_orderdate = (
          SELECT MAX(o2.o_orderdate) FROM orders o2
          WHERE o2.o_custkey = e.user_id AND o2.o_orderdate <= e.ts
            AND epoch_us(e.ts) - epoch_us(CAST(o2.o_orderdate AS TIMESTAMP))
                <= 725760000000000)
        ORDER BY e.event_id
      """)),

    // ----------------------------------------------------------------
    // q154: INTERPOLATED rolling quantiles over an EVEN window (pandas
    // rolling(8).quantile(q), linear interpolation) — the general case
    // q148's odd-window median deliberately side-stepped. With the
    // window pinned at n=8 (min_periods=8), the rank position is
    // h = (n−1)·q; the estimate interpolates the two bracketing order
    // statistics with DuckDB quantile_cont's EXACT operation sequence
    //   lower·(1−frac) + frac·upper,   frac = h − ⌊h⌋
    // (verified against DuckDB: the one-multiply form
    // lower + frac·(upper−lower) differs in the last ulp for q=0.25
    // and is NOT hash-equal). The frac constants are Scala doubles —
    // the same correctly-rounded values DuckDB derives from its q
    // literal, so every arithmetic step is a mirrored single IEEE op
    // (the q143 literal discipline, applied to the interpolation
    // weights). q=0.5 degenerates to the two-middle average (q149's
    // even-median rule) — here via the same uniform formula.
    Q(
      "q154_rolling_quantile_interp",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("d")
          .rowsBetween(-7, Window.currentRow)
        // n is pinned at 8 by the nn == 8 gate, so h = 7q and the two
        // bracketing 1-based sorted positions are static per q
        def interp(arr: Column, q: Double): Column = {
          val h = 7.0 * q
          val lo = math.floor(h).toInt
          val frac = h - lo
          element_at(arr, lo + 1) * lit(1.0 - frac) +
            lit(frac) * element_at(arr, lo + 2)
        }
        daily(s, dir)
          .withColumn("nn", count(col("v")).over(w))
          .withColumn("arr",
            when(col("nn") === 8, sort_array(collect_list(col("v")).over(w))))
          .withColumn("p25", interp(col("arr"), 0.25))
          .withColumn("med8", interp(col("arr"), 0.5))
          .withColumn("p90", interp(col("arr"), 0.9))
          .select("user_id", "d", "v", "p25", "med8", "p90")
          .orderBy("user_id", "d")
      },
      Some(s"""
        WITH $dailySql
        SELECT user_id, d, v,
          CASE WHEN COUNT(v) OVER w = 8
               THEN quantile_cont(v, 0.25) OVER w END AS p25,
          CASE WHEN COUNT(v) OVER w = 8
               THEN quantile_cont(v, 0.5) OVER w END AS med8,
          CASE WHEN COUNT(v) OVER w = 8
               THEN quantile_cont(v, 0.9) OVER w END AS p90
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, d
      """)),

    // ----------------------------------------------------------------
    // q155: FORWARD as-of with a bounded lookAHEAD (pandas
    // merge_asof(direction='forward', tolerance=)) — each click
    // attaches the user's NEXT purchase, but only if it lands within
    // 2 days; a later conversion does not count. Median click→purchase
    // gap in TESTDATA is ~1.5 days with p90 ~5.4 days, so the 2-day
    // bound leaves both branches of the expiry rule heavily populated
    // at every SF. Runs through the native sort-merge exec
    // (AsOfJoinExec forward=true tolerance=Some): one co-partitioned
    // merge pass, the bound applied as rt − lt <= tol with
    // overflow-exact integer arithmetic; the window and broadcast
    // formulations are pinned value-identical in ToleranceAsOfSpec.
    // The right side is deduped to one row per (user, ts) — max
    // event_id wins — so the attached payload is deterministic even if
    // two purchases share a microsecond.
    Q(
      "q155_asof_tolerance_fwd",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val winner = Window.partitionBy("user_id", "ts")
          .orderBy(col("event_id").desc)
        val purchases = ev.where(col("event_type") === "purchase")
          .withColumn("__rn", row_number().over(winner))
          .where(col("__rn") === 1)
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        graft.operators.AsOfJoin.asof(
          clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          payload = Seq("p_event_id", "p_value"), direction = "forward",
          tolerance = Some(2L * 24 * 3600 * 1000000L)) // 2 days in micros
          .orderBy("event_id")
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), ded AS (
          SELECT user_id AS p_user, ts AS p_ts, MAX(event_id) AS p_event_id
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ), winner AS (
          SELECT d.p_user, d.p_ts, d.p_event_id, e.value AS p_value
          FROM ded d JOIN events e ON e.event_id = d.p_event_id
        )
        SELECT c.event_id, c.user_id, c.ts, w.p_event_id, w.p_value
        FROM c
        LEFT JOIN winner w ON w.p_user = c.user_id AND w.p_ts = (
          SELECT MIN(p.ts) FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND p.ts >= c.ts
            AND epoch_us(p.ts) - epoch_us(c.ts) <= 172800000000)
        ORDER BY c.event_id
      """)),

    // ----------------------------------------------------------------
    // q156: NEAREST as-of with tolerance (pandas
    // merge_asof(direction='nearest', tolerance=)) — each click
    // attaches the CLOSER of the user's last purchase before it and
    // first purchase after it, each direction independently bounded at
    // 1 day: a stale backward candidate loses to an in-bound forward
    // one and vice versa, ties go backward (the pandas rule). Runs
    // through the fused single-pass exec (AsOfJoinExec nearest=true
    // tolerance=Some); the broadcast twin and the composition of the
    // two bounded single-direction joins are pinned value-identical in
    // ToleranceAsOfSpec. Same (user, ts) right-side dedup as q155.
    Q(
      "q156_asof_tolerance_nearest",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val winner = Window.partitionBy("user_id", "ts")
          .orderBy(col("event_id").desc)
        val purchases = ev.where(col("event_type") === "purchase")
          .withColumn("__rn", row_number().over(winner))
          .where(col("__rn") === 1)
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        graft.operators.AsOfJoin.asof(
          clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          payload = Seq("p_event_id", "p_value"), direction = "nearest",
          tolerance = Some(24L * 3600 * 1000000L)) // 1 day in micros
          .orderBy("event_id")
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), cand AS (
          SELECT c.event_id, c.user_id, c.ts,
            (SELECT MAX(p.ts) FROM events p
             WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
               AND p.ts <= c.ts
               AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000) AS bt,
            (SELECT MIN(p.ts) FROM events p
             WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
               AND p.ts >= c.ts
               AND epoch_us(p.ts) - epoch_us(c.ts) <= 86400000000) AS ft
          FROM c
        ), pick AS (
          SELECT event_id, user_id, ts,
            CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
                   epoch_us(ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(ts))
                 THEN bt ELSE ft END AS mt
          FROM cand
        ), ded AS (
          SELECT user_id AS p_user, ts AS p_ts, MAX(event_id) AS p_event_id
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ), winner AS (
          SELECT d.p_user, d.p_ts, d.p_event_id, e.value AS p_value
          FROM ded d JOIN events e ON e.event_id = d.p_event_id
        )
        SELECT p.event_id, p.user_id, p.ts, w.p_event_id, w.p_value
        FROM pick p
        LEFT JOIN winner w ON w.p_user = p.user_id AND w.p_ts = p.mt
        ORDER BY p.event_id
      """)),

    // ----------------------------------------------------------------
    // q157: STRICT as-of (pandas merge_asof(allow_exact_matches=False))
    // — each click attaches the user's latest purchase from a STRICTLY
    // EARLIER day: a same-day purchase never matches (the leakage
    // guard — "what had the user already bought before today"). The
    // DATE grain is the point: clicks and purchases collide on the
    // same (user, day) constantly in the 30-day TESTDATA window, so
    // the exact-exclusion branch fires on real data, not just in the
    // spec's synthetic ties. Runs through the native sort-merge exec
    // (AsOfJoinExec strict=true — the consume comparison flips from
    // <= to <); the window and broadcast formulations are pinned
    // value-identical in StrictAsOfSpec. Right side deduped to one
    // row per (user, day), max event_id wins.
    Q(
      "q157_asof_strict",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
        val winner = Window.partitionBy("user_id", "pd")
          .orderBy(col("event_id").desc)
        val purchases = ev.where(col("event_type") === "purchase")
          .withColumn("pd", to_date(col("ts")))
          .withColumn("__rn", row_number().over(winner))
          .where(col("__rn") === 1)
          .select(col("user_id").as("p_user"), col("pd").as("p_d"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        graft.operators.AsOfJoin.asof(
          clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "d", rightTime = "p_d",
          payload = Seq("p_event_id", "p_value"), allowExactMatches = false)
          .orderBy("event_id")
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, CAST(ts AS DATE) AS d
          FROM events WHERE event_type = 'click'
        ), ded AS (
          SELECT user_id AS p_user, CAST(ts AS DATE) AS p_d,
                 MAX(event_id) AS p_event_id
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ), winner AS (
          SELECT d2.p_user, d2.p_d, d2.p_event_id, e.value AS p_value
          FROM ded d2 JOIN events e ON e.event_id = d2.p_event_id
        )
        SELECT c.event_id, c.user_id, c.d, w.p_event_id, w.p_value
        FROM c
        LEFT JOIN winner w ON w.p_user = c.user_id AND w.p_d = (
          SELECT MAX(p.p_d) FROM ded p
          WHERE p.p_user = c.user_id AND p.p_d < c.d)
        ORDER BY c.event_id
      """)),

    // ----------------------------------------------------------------
    // q158: STRICT NEAREST as-of — the closer of the strictly-earlier
    // and strictly-later purchase DAYS, same-day purchases excluded
    // from BOTH directions, day-count ties going backward (pandas
    // merge_asof(direction='nearest', allow_exact_matches=False)).
    // Date grain again so exclusion and ties are both dense in real
    // data. Runs through the fused single-pass exec (nearest=true
    // strict=true, the prev-carry path); broadcast and the composition
    // of the two strict single-direction joins are pinned
    // value-identical in StrictAsOfSpec.
    Q(
      "q158_asof_strict_nearest",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
        val winner = Window.partitionBy("user_id", "pd")
          .orderBy(col("event_id").desc)
        val purchases = ev.where(col("event_type") === "purchase")
          .withColumn("pd", to_date(col("ts")))
          .withColumn("__rn", row_number().over(winner))
          .where(col("__rn") === 1)
          .select(col("user_id").as("p_user"), col("pd").as("p_d"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        graft.operators.AsOfJoin.asof(
          clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "d", rightTime = "p_d",
          payload = Seq("p_event_id", "p_value"), direction = "nearest",
          allowExactMatches = false)
          .orderBy("event_id")
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, CAST(ts AS DATE) AS d
          FROM events WHERE event_type = 'click'
        ), ded AS (
          SELECT user_id AS p_user, CAST(ts AS DATE) AS p_d,
                 MAX(event_id) AS p_event_id
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ), winner AS (
          SELECT d2.p_user, d2.p_d, d2.p_event_id, e.value AS p_value
          FROM ded d2 JOIN events e ON e.event_id = d2.p_event_id
        ), cand AS (
          SELECT c.event_id, c.user_id, c.d,
            (SELECT MAX(p.p_d) FROM ded p
             WHERE p.p_user = c.user_id AND p.p_d < c.d) AS bt,
            (SELECT MIN(p.p_d) FROM ded p
             WHERE p.p_user = c.user_id AND p.p_d > c.d) AS ft
          FROM c
        ), pick AS (
          SELECT event_id, user_id, d,
            CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (d - bt) <= (ft - d))
                 THEN bt ELSE ft END AS mt
          FROM cand
        )
        SELECT p.event_id, p.user_id, p.d, w.p_event_id, w.p_value
        FROM pick p
        LEFT JOIN winner w ON w.p_user = p.user_id AND w.p_d = p.mt
        ORDER BY p.event_id
      """)),

    // ----------------------------------------------------------------
    // q159: rolling quantiles over PARTIAL windows (pandas
    // rolling(8, min_periods=1).quantile(q)) — q154's interpolation
    // generalized from the pinned n=8 to a per-row DYNAMIC count: the
    // rank position h = (nn−1)·q now varies row to row, so the two
    // bracketing order statistics are fetched at computed positions.
    // The arithmetic mirrors DuckDB's windowed quantile_cont step for
    // step: h from one IEEE multiply of (nn−1) cast to double by the
    // q literal; frac = h − floor(h); and — the piece q154's fixed
    // fractions never hit — the INTEGRAL-h branch (frac = 0, e.g. any
    // odd nn at q=0.5) returns the order statistic ITSELF with no
    // arithmetic, exactly as DuckDB's interpolator short-circuits
    // (running lower·1.0 + 0.0·lower instead is 1 ulp-safe for normal
    // values but flips -0.0 to +0.0 — hash-divergent). Non-integral h
    // uses quantile_cont's exact lower·(1−frac) + frac·upper sequence.
    Q(
      "q159_rolling_quantile_partial",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("d")
          .rowsBetween(-7, Window.currentRow)
        def interp(arr: Column, nn: Column, q: Double): Column = {
          val h = (nn - lit(1)).cast(DoubleType) * lit(q)
          val lo = floor(h)
          val frac = h - lo
          val loIdx = lo.cast("int") + lit(1)
          when(frac === lit(0.0), element_at(arr, loIdx))
            .otherwise(
              element_at(arr, loIdx) * (lit(1.0) - frac) +
                frac * element_at(arr, loIdx + lit(1)))
        }
        daily(s, dir)
          .withColumn("nn", count(col("v")).over(w))
          .withColumn("arr", sort_array(collect_list(col("v")).over(w)))
          .withColumn("p25", interp(col("arr"), col("nn"), 0.25))
          .withColumn("med", interp(col("arr"), col("nn"), 0.5))
          .withColumn("p90", interp(col("arr"), col("nn"), 0.9))
          .select("user_id", "d", "v", "nn", "p25", "med", "p90")
          .orderBy("user_id", "d")
      },
      Some(s"""
        WITH $dailySql
        SELECT user_id, d, v, COUNT(v) OVER w AS nn,
          quantile_cont(v, 0.25) OVER w AS p25,
          quantile_cont(v, 0.5) OVER w AS med,
          quantile_cont(v, 0.9) OVER w AS p90
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, d
      """)),

    // ----------------------------------------------------------------
    // q160: KEYLESS (global) as-of — pandas merge_asof with no `by`:
    // every click attaches the most recent GLOBAL daily purchase
    // aggregate (all users — a market-state table). The right side is
    // genuinely dim-sized at ANY scale factor (one row per calendar
    // day: the date range is fixed while events grow), which is why
    // AsOfJoin.asofGlobal pins the BROADCAST strategy — a keyless
    // sort-merge would exchange the whole fact side into one
    // partition. The left is never shuffled or sorted (GlobalAsOfSpec
    // pins the plan shape); each click pays one binary search of the
    // 30-entry broadcast timeline. Payloads are an integer count and
    // an order-free MAX — both engine-exact.
    Q(
      "q160_asof_global",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
        val dim = ev.where(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("pd"))
          .agg(count(lit(1)).as("n_purch"), max(col("value")).as("max_value"))
        graft.operators.AsOfJoin.asofGlobal(
          clicks, dim,
          leftTime = "d", rightTime = "pd",
          payload = Seq("n_purch", "max_value"))
          .orderBy("event_id")
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, CAST(ts AS DATE) AS d
          FROM events WHERE event_type = 'click'
        ), dim AS (
          SELECT CAST(ts AS DATE) AS pd, COUNT(*) AS n_purch,
                 MAX(value) AS max_value
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT c.event_id, c.user_id, c.d, w.n_purch, w.max_value
        FROM c
        LEFT JOIN dim w ON w.pd = (
          SELECT MAX(p.pd) FROM dim p WHERE p.pd <= c.d)
        ORDER BY c.event_id
      """)),

    // ----------------------------------------------------------------
    // q175: AUTOCORRELATION function (ACF) at lags 1..3 per key —
    // pandas s.autocorr(lag): Pearson correlation between the series
    // and its own lag over the overlapping pairs, the stationarity /
    // seasonality probe every forecasting feature set starts with.
    // Construction: ONE window pass materializes all three lag
    // columns (shared Exchange+Sort on user_id), stack unpivots to
    // (lag, pair) rows, and one hash aggregate per (key, lag) builds
    // the five power sums as exact DECIMAL sums (order-free — a float
    // SUM here would make the result shuffle-order-dependent), then
    // q138's fixed-order double formula. Scale: one window partition
    // per key + one keyed exchange; the pair stream is 3x the daily
    // series, not the raw events.
    Q(
      "q175_autocorrelation",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("d")
        val pairs = daily(s, dir)
          .withColumn("v1", lag(col("v"), 1).over(w))
          .withColumn("v2", lag(col("v"), 2).over(w))
          .withColumn("v3", lag(col("v"), 3).over(w))
          .select(col("user_id"), col("v"),
            expr("stack(3, 1, v1, 2, v2, 3, v3)").as(Seq("lag_k", "vl")))
          .where(col("vl").isNotNull)
        val sums = pairs.groupBy("user_id", "lag_k").agg(
          count(lit(1)).as("n"),
          sum(dec2(col("v"))).cast(DoubleType).as("sx"),
          sum(dec2(col("v")) * dec2(col("v"))).cast(DoubleType).as("sxx"),
          sum(dec2(col("vl"))).cast(DoubleType).as("sy"),
          sum(dec2(col("vl")) * dec2(col("vl"))).cast(DoubleType).as("syy"),
          sum(dec2(col("v")) * dec2(col("vl"))).cast(DoubleType).as("sxy"))
        val num = col("n") * col("sxy") - col("sx") * col("sy")
        val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))
        sums
          .withColumn("acf", when(col("n") >= 2 && den > lit(0.0), num / den))
          .select(col("user_id"), col("lag_k").cast("int").as("lag_k"),
            col("n"), col("acf"))
          .orderBy("user_id", "lag_k")
      },
      Some(s"""
        WITH $dailySql, lagged AS (
          SELECT user_id, v,
                 LAG(v, 1) OVER w AS v1,
                 LAG(v, 2) OVER w AS v2,
                 LAG(v, 3) OVER w AS v3
          FROM daily
          WINDOW w AS (PARTITION BY user_id ORDER BY d)
        ), pairs AS (
          SELECT user_id, 1 AS lag_k, v, v1 AS vl FROM lagged WHERE v1 IS NOT NULL
          UNION ALL
          SELECT user_id, 2, v, v2 FROM lagged WHERE v2 IS NOT NULL
          UNION ALL
          SELECT user_id, 3, v, v3 FROM lagged WHERE v3 IS NOT NULL
        ), sums AS (
          SELECT user_id, lag_k,
            COUNT(*) AS n,
            CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2)))
                 AS DOUBLE) AS sxx,
            CAST(SUM(CAST(vl AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(vl AS DECIMAL(18,2)) * CAST(vl AS DECIMAL(18,2)))
                 AS DOUBLE) AS syy,
            CAST(SUM(CAST(v AS DECIMAL(18,2)) * CAST(vl AS DECIMAL(18,2)))
                 AS DOUBLE) AS sxy
          FROM pairs GROUP BY user_id, lag_k
        )
        SELECT user_id, CAST(lag_k AS INTEGER) AS lag_k, n,
          CASE WHEN n >= 2 AND
                    sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0.0
               THEN (n * sxy - sx * sy) /
                    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
          END AS acf
        FROM sums ORDER BY user_id, lag_k
      """)),

    // ----------------------------------------------------------------
    // q177: WEEKDAY SEASONALITY profile + seasonally-adjusted series —
    // the simplest decomposition a forecasting feature set carries:
    // per (key, weekday) the exact-decimal mean of the daily value
    // (pandas groupby(weekday).mean, Monday=0 convention — q21's
    // locale-free spelling), then each day's DEVIATION from its
    // weekday mean (the deseasonalized residual). Two keyed
    // aggregates + one keyed join back; the weekday-mean division and
    // the single subtraction are fixed-order IEEE on exact inputs,
    // so the oracle hashes bitwise. Profile rows are (keys x 7) —
    // they ride the same (user_id, wd) exchange as the join.
    Q(
      "q177_weekday_seasonality",
      (s, dir) => {
        val bars = daily(s, dir)
          .withColumn("wd", ((dayofweek(col("d")) + lit(5)) % 7).cast("int"))
        val prof = bars.groupBy("user_id", "wd")
          .agg(count(lit(1)).as("n_days"),
            graft.Q.avgExact(col("v")).as("wd_mean"))
        bars.join(prof, Seq("user_id", "wd"))
          .select(col("user_id"), col("d"), col("wd"), col("v"),
            col("n_days"), col("wd_mean"),
            (col("v").cast(DoubleType) - col("wd_mean")).as("dev"))
          .orderBy("user_id", "d")
      },
      Some(s"""
        WITH $dailySql, bars AS (
          SELECT user_id, d, v,
                 CAST((DAYOFWEEK(d) + 6) % 7 AS INT) AS wd
          FROM daily
        ), prof AS (
          SELECT user_id, wd, COUNT(*) AS n_days,
                 CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v)
                   AS wd_mean
          FROM bars GROUP BY user_id, wd
        )
        SELECT b.user_id, b.d, b.wd, b.v, p.n_days, p.wd_mean,
               CAST(b.v AS DOUBLE) - p.wd_mean AS dev
        FROM bars b JOIN prof p ON b.user_id = p.user_id AND b.wd = p.wd
        ORDER BY b.user_id, b.d
      """)),

    // ----------------------------------------------------------------
    // q208: PAIRWISE CORRELATION MATRIX over lineitem's numeric columns
    // — pandas df.corr(), the EDA step the reference runs verbatim
    // (transform_data.ipynb:647 `corr_matrix = btc_data_numeric.corr()`;
    // q138/q175 cover the rolling and lagged forms, this is the full
    // matrix).
    //
    // Determinism: Pearson r from EXACT DECIMAL power sums — for k=4
    // columns, ONE map-combined aggregate computes n, 4 sums, 4 sums of
    // squares, and 6 cross sums (15 decimal aggregates over one scan,
    // map-side combine does all the work; the exchange carries one
    // row). Products are (18,2)×(18,2) → (37,4), never the 38-digit
    // truncation zone; n·Sxy − Sx·Sy likewise multiplies only
    // width-capped casts (the q205 discipline). The per-pair finale is
    // a fixed IEEE tree (one division, two sqrt, one multiply) spelled
    // identically in the oracle; a zero-variance column CASE-guards r
    // to NULL in both engines. Output = the 6 upper-triangle pairs,
    // exploded from the single aggregate row — bounded by k², never
    // the corpus.
    //
    // q243/q244 are its batch-incremental and stream consumers through a
    // ONE-ROW moment table, generated from the same CellStat value.
    corr.oneShot,
    corr.waves,
    corr.stream)

  // ------------------------------------------------------------------
  // q208's moment machinery, shared verbatim with the maintained
  // deployments (q243/q244): the sufficient statistics are ONE row of
  // exact decimal sums (n, Σx, Σx², Σxy per pair) — purely additive,
  // so StatCellIndex.appendAgg folds them across batches into exactly
  // the one-shot sums and the report arithmetic runs unchanged.

  private[queries] val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private[queries] def corrRowExprs: Seq[Column] = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 2)
    def dc(c: String) = col(c).cast(d18)
    Seq(lit(1).as("k"), lit(1L).as("n")) ++
      corrCols.map(c => dc(c).as(s"s_$c")) ++
      corrCols.map(c => (dc(c) * dc(c)).as(s"ss_$c")) ++
      (for {
        i <- corrCols.indices; j <- (i + 1) until corrCols.length
      } yield (dc(corrCols(i)) * dc(corrCols(j)))
        .as(s"sp_${corrCols(i)}_${corrCols(j)}"))
  }

  private[queries] val corrMomentSchema = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(StructField("k", IntegerType), StructField("n", LongType)) ++
        corrCols.map(c => StructField(s"s_$c", DecimalType(28, 2))) ++
        corrCols.map(c => StructField(s"ss_$c", DecimalType(38, 4))) ++
        (for {
          i <- corrCols.indices; j <- (i + 1) until corrCols.length
        } yield StructField(s"sp_${corrCols(i)}_${corrCols(j)}",
          DecimalType(38, 4))))
  }

  private[queries] val corrValueCols: Seq[String] =
    corrMomentSchema.fieldNames.toSeq.filter(_ != "k")

  /** q208's Pearson matrix from the single moment row — the width
    * discipline (DuckDB caps multiply at combined width 38): n(10,0) ×
    * Σxy(28,4) = 38; Σx(19,2) × Σy(19,2) = 38 — exact to ~1e12 rows at
    * these magnitudes, the documented ceiling. */
  private[queries] def corrFromMoments(row: DataFrame): DataFrame = {
    val cols = corrCols
    val d10 = org.apache.spark.sql.types.DecimalType(10, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 2)
    val d28 = org.apache.spark.sql.types.DecimalType(28, 4)
    def den(c: String) =
      col("n").cast(d10) * col(s"ss_$c").cast(d28) -
        col(s"s_$c").cast(d19) * col(s"s_$c").cast(d19)
    def pairStruct(a: String, b: String) = {
      val num = col("n").cast(d10) * col(s"sp_${a}_$b").cast(d28) -
        col(s"s_$a").cast(d19) * col(s"s_$b").cast(d19)
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
        when(den(a) > 0 && den(b) > 0,
          num.cast("double") /
            (sqrt(den(a).cast("double")) * sqrt(den(b).cast("double"))))
          .as("r"))
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield pairStruct(cols(i), cols(j))
    row.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"), col("p.r"))
      .orderBy("col_a", "col_b")
  }

  private[queries] val corrOracleSql: String = {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val sums =
          (Seq("COUNT(*) AS n") ++
            cols.map(c => s"SUM(CAST($c AS DECIMAL(18,2))) AS s_$c") ++
            cols.map(c =>
              s"SUM(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS ss_$c") ++
            (for { i <- cols.indices; j <- (i + 1) until cols.length }
              yield s"SUM(CAST(${cols(i)} AS DECIMAL(18,2)) * CAST(${cols(j)} AS DECIMAL(18,2))) AS sp_${cols(i)}_${cols(j)}"))
            .mkString(",\n                 ")
        def den(c: String) =
          s"(CAST(n AS DECIMAL(10,0)) * CAST(ss_$c AS DECIMAL(28,4)) - CAST(s_$c AS DECIMAL(19,2)) * CAST(s_$c AS DECIMAL(19,2)))"
        val selects = (for {
          i <- cols.indices; j <- (i + 1) until cols.length
          a = cols(i); b = cols(j)
        } yield s"""          SELECT '$a' AS col_a, '$b' AS col_b, n,
            CASE WHEN ${den(a)} > 0 AND ${den(b)} > 0 THEN
              CAST(CAST(n AS DECIMAL(10,0)) * CAST(sp_${a}_$b AS DECIMAL(28,4))
                   - CAST(s_$a AS DECIMAL(19,2)) * CAST(s_$b AS DECIMAL(19,2))
                   AS DOUBLE)
              / (SQRT(CAST(${den(a)} AS DOUBLE)) * SQRT(CAST(${den(b)} AS DOUBLE)))
            END AS r
          FROM sums""").mkString("\n          UNION ALL\n")
        s"""
        WITH sums AS (
          SELECT $sums
          FROM lineitem
        )
        SELECT col_a, col_b, n, r FROM (
$selects
        )
        ORDER BY col_a, col_b
      """
  }

  /** An int row hash plus the 4 measure columns: q243/q244's waves
    * split on the hash (the moment sums do not depend on which wave a
    * row lands in). Projected before the pin, the checkpoint is 5
    * narrow columns — narrower than even one of the pruned scans it
    * replaces. */
  private def corrSource(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(hash(col("l_orderkey"), col("l_linenumber")).as("h") +:
        corrCols.map(col): _*)

  /** The moment row from additive moment rows: `k` is constant, so the
    * group-by on the keys is the global sum, which keeps q208's one row
    * (n = 0) over an empty table. */
  private def corrReport(moments: DataFrame): DataFrame = {
    val sums = corrValueCols.map(v =>
      sum(col(v)).cast(corrMomentSchema(v).dataType).as(v))
    corrFromMoments(moments.agg(sums.head, sums.tail: _*))
  }

  /** The correlation matrix as a cell statistic: one row of exact
    * decimal moment sums (n, sums, sums of squares and cross sums). */
  private[graft] val corr = CellStat(
    ("q208_correlation_matrix", "q243_corr_incremental", "q244_stream_corr"),
    corrSource, Seq("h"), corrMomentSchema, corrValueCols,
    _.select(corrRowExprs: _*), corrReport, corrOracleSql)
}
