package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Tables}

/** Data-profiling operators — the ANALYZE/statistics layer an engine
  * needs before it can curate or optimize anything (engine-added; the
  * reference's EDA.ipynb eyeballs pandas `describe()` instead).
  */
object ProfileQueries {

  def defs: Vector[Q] = Vector(
    // ----------------------------------------------------------------
    // q74: column profile — min/max/count/nulls/exact-NDV per measure
    // column, unpivoted so one grouped aggregation profiles them all.
    // Exact COUNT(DISTINCT) is the honest small-data oracle; at 100 TB
    // the same query swaps in the q44 HLL sketches (approx_count_
    // distinct) — the plan shape (unpivot -> one grouped agg) is
    // unchanged, which is the point of profiling-as-a-query.
    Q(
      "q74_column_profile",
      (s, dir) => {
        val st = "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
          "'l_discount', l_discount, 'l_tax', l_tax) as (col_name, val)"
        Tables.lineitem(s, dir)
          .selectExpr(st)
          .groupBy("col_name")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("val").isNull, 1).otherwise(0)).cast("bigint").as("n_null"),
            countDistinct(col("val")).as("n_distinct"),
            min(col("val")).cast(DoubleType).as("min_v"),
            max(col("val")).cast(DoubleType).as("max_v"))
          .orderBy("col_name")
      },
      Some("""
        WITH u AS (
          SELECT 'l_quantity' AS col_name, l_quantity AS val FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL
          SELECT 'l_tax', l_tax FROM lineitem)
        SELECT col_name,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT val) AS n_distinct,
               CAST(MIN(val) AS DOUBLE) AS min_v,
               CAST(MAX(val) AS DOUBLE) AS max_v
        FROM u
        GROUP BY col_name
        ORDER BY col_name
      """)),

    // ----------------------------------------------------------------
    // q75: equi-width histogram of extended price in 20 bins, with
    // cumulative counts — computed ENTIRELY in integer cent math
    // (bin = (cents-min)*20 div (max-min+1)), so bin edges cannot
    // drift between engines the way float width division can. Shape:
    // one scalar min/max aggregate broadcast back over the scan, one
    // grouped count, one tiny window cumsum over 20 rows.
    Q(
      "q75_price_histogram",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select((Q.dec2(col("l_extendedprice")) * 100).cast("bigint").as("cents"))
        val mm = li.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        val w = Window.orderBy("bin")
        li.crossJoin(broadcast(mm))
          .select(expr("(cents - lo) * 20 div (hi - lo + 1)").as("bin"),
            col("lo"), col("hi"))
          .groupBy("bin", "lo", "hi")
          .agg(count(lit(1)).as("n"))
          .select(col("bin").cast("int").as("bin"),
            expr("lo + bin * (hi - lo + 1) div 20").as("edge_lo_cents"),
            col("n"))
          .withColumn("cum_n", sum(col("n")).over(w))
          .orderBy("bin")
      },
      Some("""
        WITH c AS (
          SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM lineitem),
        mm AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c),
        b AS (
          SELECT (cents - lo) * 20 // (hi - lo + 1) AS bin, lo, hi
          FROM c CROSS JOIN mm),
        g AS (
          SELECT CAST(bin AS INT) AS bin,
                 lo + bin * (hi - lo + 1) // 20 AS edge_lo_cents,
                 COUNT(*) AS n
          FROM b GROUP BY bin, lo, hi)
        SELECT bin, edge_lo_cents, n,
               CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum_n
        FROM g
        ORDER BY bin
      """)),

    // ----------------------------------------------------------------
    // q78: Z-order layout audit — Morton-interleave two join/filter
    // dimensions (part, supplier) into one clustering key, cut the key
    // range into 32 "files", and report each file's min/max on BOTH
    // dimensions. This is the OPTIMIZE ZORDER move of modern table
    // formats, expressed as a query: the output min/max spans are the
    // proof that one sort key yields pruning power on two columns
    // (every file covers ~1/sqrt(32) of EACH dimension, vs all of
    // dimension 2 under a lexicographic sort). The bit interleave is
    // pure div/mod/multiply integer math — no engine bit-operator
    // dialect involved — so the oracle replays it exactly.
    Q(
      "q78_zorder_layout",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .selectExpr("l_partkey % 256 as px", "l_suppkey % 256 as sx")
          .selectExpr("px", "sx",
            s"(${ProfileQueries.morton("px", "sx", "div")}) as zkey")
          .selectExpr("px", "sx", "zkey div 2048 as file_id")
          .groupBy(col("file_id"))
          .agg(
            count(lit(1)).as("n"),
            min(col("px")).as("min_p"), max(col("px")).as("max_p"),
            min(col("sx")).as("min_s"), max(col("sx")).as("max_s"))
          .orderBy("file_id")
      },
      Some(s"""
        WITH d AS (
          SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem),
        z AS (
          SELECT px, sx, (${ProfileQueries.morton("px", "sx", "//")}) AS zkey
          FROM d),
        f AS (SELECT px, sx, zkey // 2048 AS file_id FROM z)
        SELECT file_id,
               COUNT(*) AS n,
               MIN(px) AS min_p, MAX(px) AS max_p,
               MIN(sx) AS min_s, MAX(sx) AS max_s
        FROM f
        GROUP BY file_id
        ORDER BY file_id
      """)),

    // ----------------------------------------------------------------
    // q80: Z-order PHYSICAL write path — q78 proves the layout math in-
    // query; this one actually WRITES the table via ZOrderLayout
    // .writeBucketed (one keyed shuffle → 32 Morton-bucket files + the
    // one-row-per-file sidecar manifest) and then reports the MANIFEST's
    // per-file spans. Because the bucketed variant pins file boundaries
    // to fixed-width Morton ranges (no range-sampling), the manifest is
    // a pure function of the data and the oracle recomputes it from the
    // raw table with the same dialect-portable Morton arithmetic — a
    // hash-exact check that the bytes on disk landed in the right files.
    Q(
      "q80_zorder_write_manifest",
      (s, dir) => {
        val out = "/tmp/graft_q80_zorder_" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        val data = Tables.lineitem(s, dir)
          .selectExpr("l_partkey % 256 as px", "l_suppkey % 256 as sx")
        graft.operators.ZOrderLayout.writeBucketed(data, "px", "sx", out, 32)
        graft.operators.ZOrderLayout.manifest(s, out)
          .select(
            col("file_id"),
            col("n_rows").as("n"),
            col("min_a").as("min_p"), col("max_a").as("max_p"),
            col("min_b").as("min_s"), col("max_b").as("max_s"))
          .orderBy("file_id")
      },
      Some(s"""
        WITH d AS (
          SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem),
        z AS (
          SELECT px, sx, (${ProfileQueries.morton("px", "sx", "//")}) AS zkey
          FROM d),
        f AS (SELECT px, sx, CAST(zkey // 2048 AS INT) AS file_id FROM z)
        SELECT file_id,
               COUNT(*) AS n,
               MIN(px) AS min_p, MAX(px) AS max_p,
               MIN(sx) AS min_s, MAX(sx) AS max_s
        FROM f
        GROUP BY file_id
        ORDER BY file_id
      """)),

    // ----------------------------------------------------------------
    // q196: REFERENTIAL-INTEGRITY audit — the nightly constraint check
    // a lakehouse runs because parquet enforces no foreign keys: per
    // relationship, orphaned children (FK violations — the corpus IS
    // clean, and the oracle asserts that exactly, not approximately)
    // and childless parents (coverage gaps — non-zero, so the gate
    // hashes real numbers, not a table of zeros).
    //
    // Implementation: [[graft.operators.Integrity.fkAudit]] — distinct
    // keysets before every anti join (see the operator's Scaladoc for
    // the 100 TB shape); IntegritySpec injects a corpus WITH orphans,
    // which the clean testdata can't exercise.
    Q(
      "q196_referential_integrity",
      (s, dir) => {
        import graft.operators.Integrity.{fkAudit => rel}
        val rels = Seq(
          rel("events.user_id->customer", Tables.events(s, dir), "user_id",
            Tables.customer(s, dir), "c_custkey"),
          rel("lineitem.l_orderkey->orders", Tables.lineitem(s, dir),
            "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
          rel("lineitem.l_partkey->part", Tables.lineitem(s, dir),
            "l_partkey", Tables.part(s, dir), "p_partkey"),
          rel("lineitem.l_suppkey->supplier", Tables.lineitem(s, dir),
            "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
          rel("nation.n_regionkey->region", Tables.nation(s, dir),
            "n_regionkey", Tables.region(s, dir), "r_regionkey"),
          rel("orders.o_custkey->customer", Tables.orders(s, dir),
            "o_custkey", Tables.customer(s, dir), "c_custkey"))
        rels.reduce(_ unionByName _).orderBy("relation")
      },
      Some("""
        SELECT relation, n_child_keys, n_orphan_keys, n_orphan_rows,
               n_parent_keys, n_childless_parents,
               (n_orphan_keys = 0) AS ok
        FROM (
          SELECT 'events.user_id->customer' AS relation,
            (SELECT COUNT(DISTINCT user_id) FROM events) AS n_child_keys,
            (SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM events) e
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphan_keys,
            (SELECT COUNT(*) FROM events e
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphan_rows,
            (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS n_parent_keys,
            (SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)) AS n_childless_parents
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders',
            (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
            (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) e
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = e.k)),
            (SELECT COUNT(*) FROM lineitem e
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = e.l_orderkey)),
            (SELECT COUNT(DISTINCT o_orderkey) FROM orders),
            (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM lineitem e WHERE e.l_orderkey = o.o_orderkey))
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
            (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
            (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey AS k FROM lineitem) e
              WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = e.k)),
            (SELECT COUNT(*) FROM lineitem e
              WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = e.l_partkey)),
            (SELECT COUNT(DISTINCT p_partkey) FROM part),
            (SELECT COUNT(*) FROM part p
              WHERE NOT EXISTS (SELECT 1 FROM lineitem e WHERE e.l_partkey = p.p_partkey))
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
            (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
            (SELECT COUNT(*) FROM (SELECT DISTINCT l_suppkey AS k FROM lineitem) e
              WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.k)),
            (SELECT COUNT(*) FROM lineitem e
              WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.l_suppkey)),
            (SELECT COUNT(DISTINCT s_suppkey) FROM supplier),
            (SELECT COUNT(*) FROM supplier s
              WHERE NOT EXISTS (SELECT 1 FROM lineitem e WHERE e.l_suppkey = s.s_suppkey))
          UNION ALL
          SELECT 'nation.n_regionkey->region',
            (SELECT COUNT(DISTINCT n_regionkey) FROM nation),
            (SELECT COUNT(*) FROM (SELECT DISTINCT n_regionkey AS k FROM nation) e
              WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = e.k)),
            (SELECT COUNT(*) FROM nation e
              WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = e.n_regionkey)),
            (SELECT COUNT(DISTINCT r_regionkey) FROM region),
            (SELECT COUNT(*) FROM region r
              WHERE NOT EXISTS (SELECT 1 FROM nation e WHERE e.n_regionkey = r.r_regionkey))
          UNION ALL
          SELECT 'orders.o_custkey->customer',
            (SELECT COUNT(DISTINCT o_custkey) FROM orders),
            (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders) e
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.k)),
            (SELECT COUNT(*) FROM orders e
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.o_custkey)),
            (SELECT COUNT(DISTINCT c_custkey) FROM customer),
            (SELECT COUNT(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders e WHERE e.o_custkey = c.c_custkey))
        ) t(relation, n_child_keys, n_orphan_keys, n_orphan_rows,
            n_parent_keys, n_childless_parents)
        ORDER BY relation
      """)),

    // ----------------------------------------------------------------
    // q212: STREAMING referential-integrity audit — q196's
    // events.user_id -> customer relation checked AT THE INGESTION
    // EDGE (the q170 score-on-arrival shape): each micro-batch reduces
    // to per-key counts (one O(batch) map-combined aggregate) and
    // probes the BROADCAST parent keyset immediately — an orphan is
    // flagged the batch it arrives, never discovered by a later
    // full-corpus audit — and the flagged key-grain rows are the only
    // state that accumulates. The final audit folds that key-grain
    // state (sum counts, OR the per-batch flags — both additive, so
    // maintained == one-shot exactly) and re-derives the childless-
    // parent side from the same keyset. Runs through Replay.stream
    // (waves split by event_id parity); held to q196's
    // events-relation oracle VERBATIM — orphans asserted exactly zero
    // on the clean corpus, coverage gaps carrying the hash weight.
    Q(
      "q212_stream_integrity",
      (s, dir) => {
        val out = graft.Q.fresh(s, "q212_streamintegrity", dir)
        val ev = Tables.df(s, dir, "events").selectExpr("event_id", "user_id")
        val parents = Tables.customer(s, dir)
          .select(col("c_custkey").as("k")).distinct()
        graft.streaming.Replay.stream(s, out,
            Seq(ev.where(col("event_id") % 2 === 0),
              ev.where(col("event_id") % 2 === 1)),
            parts = 2, perFile = true) { (b, id) =>
          // State keyed by the STREAMING batch id and written with
          // overwrite: foreachBatch is at-least-once, so a replayed
          // micro-batch REWRITES its own contribution instead of
          // double-counting it (the q216/q220 idempotence pattern —
          // a bare append would inflate n_rows on replay).
          b.select(col("user_id").as("k"))
            .groupBy("k").agg(count(lit(1)).as("n_rows"))
            .join(broadcast(parents.withColumn("__p", lit(1))),
              Seq("k"), "left")
            .select(col("k"), col("n_rows"),
              col("__p").isNull.as("orphan"))
            .write.mode("overwrite").parquet(s"$out/keys/batch=$id")
        }
        val state = s.read.parquet(s"$out/keys")
          .groupBy("k")
          .agg(sum("n_rows").as("n_rows"), expr("bool_or(orphan)").as("orphan"))
        val childless = parents.join(state, Seq("k"), "left_anti")
        state.agg(
            count(lit(1)).as("n_child_keys"),
            sum(when(col("orphan"), 1L).otherwise(0L)).as("n_orphan_keys"),
            sum(when(col("orphan"), col("n_rows")).otherwise(0L))
              .as("n_orphan_rows"))
          .crossJoin(parents.agg(count(lit(1)).as("n_parent_keys")))
          .crossJoin(childless.agg(count(lit(1)).as("n_childless_parents")))
          .select(lit("events.user_id->customer").as("relation"),
            col("n_child_keys"), col("n_orphan_keys"), col("n_orphan_rows"),
            col("n_parent_keys"), col("n_childless_parents"),
            (col("n_orphan_keys") === 0L).as("ok"))
      },
      Some("""
        SELECT 'events.user_id->customer' AS relation,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_child_keys,
          (SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM events) e
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphan_keys,
          (SELECT COUNT(*) FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphan_rows,
          (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS n_parent_keys,
          (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)) AS n_childless_parents,
          (SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM events) e
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) = 0 AS ok
      """))
  )

  /** Morton key shared with the physical write path — see
    * [[graft.operators.ZOrderLayout.morton]]. */
  private[queries] def morton(a: String, b: String, divOp: String): String =
    graft.operators.ZOrderLayout.morton(a, b, divOp)
}
