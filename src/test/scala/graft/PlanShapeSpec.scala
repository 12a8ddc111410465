package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for registry queries whose 100 TB viability
  * depends on a specific physical shape (a green value-compare can hide
  * a scale-killing plan — these pin the plan itself).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q143 top-k plans as TakeOrderedAndProject, not a full-corpus rank window") {
    val df = SparkEntry.queries("q143_bm25_scoring")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be per-partition heaps + one k-row merge:\n$plan")
    // the only Window is the rank over the k=20 survivors, which must
    // sit ABOVE the TakeOrderedAndProject in the plan tree (i.e. the
    // window's input is the k-row result, not the scored corpus)
    val winIdx = plan.indexOf("Window")
    val topIdx = plan.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && winIdx < topIdx,
      s"rank window must consume the top-k output, not the corpus:\n$plan")
    assert(df.count() == 20)
  }

  test("q189 drift: event_type/value pruned scan, no cartesian, partitioned windows") {
    val df = SparkEntry.queries("q189_drift_tvd")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan) // midpoint joins as BroadcastNestedLoop over 1 row
    // the type-total windows must partition by event_type (bucket grain)
    val winSpecs = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(winSpecs.nonEmpty)
    winSpecs.foreach(w => assert(w.contains("event_type"),
      s"un-partitioned window in drift build: $w"))
    // the event scan reads only the three needed columns
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(reads.exists(r => r.contains("event_type") && r.contains("value") &&
      r.contains("ts") && !r.contains("props") && !r.contains("user_id")),
      s"drift scan must prune to (event_type, ts, value):\n$reads")
  }

  test("q191 funnel: stage predicates pushed into the parquet scans") {
    val df = SparkEntry.queries("q191_event_funnel")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // each stage's event_type equality must reach PushedFilters — the
    // scan, not a post-scan filter, discards the other types
    Seq("view", "click", "purchase").foreach(t =>
      assert(plan.contains(s"EqualTo(event_type,$t)"),
        s"stage filter for $t not pushed to the scan:\n$plan"))
  }

  test("q193 PIT probe: one keyed carry window, pushed stage predicates") {
    val df = SparkEntry.queries("q193_pit_feature_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the window as-of plans as the union + running-last(carry) window —
    // ONE exchange keyed on the join key; every window must carry that
    // key in its partition spec (an unkeyed window would serialize)
    val winSpecs = "windowspecdefinition\\(__k#\\d+L".r.findAllIn(plan).toList
    assert(winSpecs.nonEmpty,
      s"expected the keyed as-of carry window in the plan:\n$plan")
    assert(!plan.contains("windowspecdefinition()"),
      s"un-partitioned window in PIT probe:\n$plan")
    // both sides' type predicates reach the parquet scan
    assert(plan.contains("EqualTo(event_type,purchase)") &&
      plan.contains("Not(EqualTo(event_type,purchase))"),
      s"probe/dimension type predicates must be pushed:\n$plan")
  }

  test("q44 sketches: no un-partitioned windows, no cartesian, aggregates present") {
    val df = SparkEntry.queries("q44_approx_sketches")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // every Window in the sketch build partitions by event_type
    val winSpecs = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(plan).toList
    winSpecs.foreach(w => assert(w.contains("event_type"),
      s"un-partitioned window in sketch build: $w"))
    assert(df.count() == 5) // one row per event type at every SF
  }

  test("q198 basket: brand dim broadcast, pair join keyed, no cartesian") {
    val df = SparkEntry.queries("q198_market_basket")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the 2-column brand dim and the marginal tables ride broadcasts;
    // only the (order, brand) distinct + pair self-join shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the lineitem scan reads only the two needed columns
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(reads.exists(r => r.contains("l_orderkey") && r.contains("l_partkey")
      && !r.contains("l_extendedprice")),
      s"basket scan must prune to (l_orderkey, l_partkey):\n$reads")
  }

  test("q199 sweep: per-user windows keyed; exactly one minute-grain global window") {
    val df = SparkEntry.queries("q199_peak_concurrency")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val winSpecs = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(winSpecs.count(_.contains("user_id")) >= 2,
      s"sessionization windows must key on user_id:\n$winSpecs")
    // the one permitted global window is the minute-grain running sum
    // (calendar-bounded input by construction — see the query doc);
    // the day-peak window keys on day
    val unkeyed = winSpecs.filterNot(w =>
      w.contains("user_id") || w.contains("day"))
    assert(unkeyed.size == 1, s"expected exactly one global window:\n$winSpecs")
    // the explode rewrite keeps ONE sessionization subtree: exactly one
    // events scan in the whole plan (the union form had two)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
  }

  test("q200 skyline: prune + exact joins broadcast, no cartesian") {
    val df = SparkEntry.queries("q200_pareto_skyline")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"threshold/price tables must broadcast, never shuffle the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q202 attribution: native band-join exec, no cartesian") {
    val df = SparkEntry.queries("q202_multitouch_attribution")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BandJoin"),
      s"attribution must run through the band-join exec:\n$plan")
    // per-conversion credit windows key on the conversion id
    val winSpecs = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(plan).toList
    winSpecs.foreach(w => assert(w.contains("conv_id"),
      s"un-keyed window in the credit pass: $w"))
  }

  /** Exchanges in a collected frame's final adaptive plan, query stages
    * and subqueries included. */
  private object Plans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size

    private val joinOps =
      Set("AsOfJoin", "BroadcastAsOfJoin", "BandJoin", "BroadcastBandJoin", "Window")

    /** The distinct as-of/band operators (and window carries) in the
      * final plan, sorted and joined with `+`. */
    def joins(df: org.apache.spark.sql.DataFrame): String =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case p if joinOps(p.nodeName) => p.nodeName
      }.distinct.sorted.mkString("+")
  }

  /** Files and dirs under this corpus's scratch roots modified at or
    * after `t0`: a query that resets or writes a store shows here. */
  private def scratchTouchedSince(t0: Long): Seq[String] = {
    val probe = new java.io.File(Q.scratch(spark, "probe", dir))
    val suffix = probe.getName.stripPrefix("graft_probe")
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    Option(probe.getParentFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.endsWith(suffix))
      .flatMap(walk).filter(_.lastModified >= t0).map(_.getPath)
  }

  test("cell-statistic one-shots: exchange counts as before, no scratch write") {
    // the counts of the hand-written one-shot bodies that preceded the
    // generated entries (sf0.001)
    val expected = Map(
      "q205_revenue_concentration" -> 8, "q206_ab_test" -> 2,
      "q207_benford_digits" -> 4, "q208_correlation_matrix" -> 1,
      "q211_chi2_contingency" -> 1, "q213_mann_whitney_u" -> 2,
      "q215_ks_two_sample" -> 5, "q218_spearman_rank_corr" -> 7,
      "q223_kendall_tau_b" -> 14)
    val got = expected.keys.toSeq.sorted.map { n =>
      val t0 = System.currentTimeMillis()
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect()
      val touched = scratchTouchedSince(t0)
      assert(touched.isEmpty, s"$n wrote scratch: $touched")
      n -> Plans.exchanges(df)
    }.toMap
    assert(got == expected)
  }

  test("as-of and band one-shots: join operator and exchange count as recorded") {
    // final plans at sf0.001 when each body still called its own named
    // join variant; a body that reaches another strategy through
    // AsOfJoin.asof / BandJoin.bandJoin changes a row here
    val expected = Map(
      "q41_asof_join_latest_order" -> ("Window", 3),
      "q122_asof_join_native" -> ("AsOfJoin+Window", 4),
      "q123_asof_join_broadcast" -> ("BroadcastAsOfJoin+Window", 3),
      "q124_asof_join_forward" -> ("AsOfJoin+Window", 4),
      "q125_asof_join_nearest" -> ("AsOfJoin+Window", 4),
      "q137_asof_join_auto" -> ("BroadcastAsOfJoin+Window", 3),
      "q146_band_join_native" -> ("BandJoin", 7),
      "q147_band_join_broadcast" -> ("BroadcastBandJoin", 6),
      "q151_asof_tolerance" -> ("AsOfJoin+Window", 4),
      "q153_band_join_left_outer" -> ("BandJoin", 3),
      "q155_asof_tolerance_fwd" -> ("AsOfJoin+Window", 4),
      "q156_asof_tolerance_nearest" -> ("AsOfJoin+Window", 4),
      "q157_asof_strict" -> ("AsOfJoin+Window", 4),
      "q158_asof_strict_nearest" -> ("AsOfJoin+Window", 4),
      "q160_asof_global" -> ("BroadcastAsOfJoin", 3),
      "q184_band_join_salted" -> ("BandJoin", 7),
      "q185_asof_join_auto_skew" -> ("AsOfJoin+Window", 4),
      "q193_pit_feature_join" -> ("Window", 4),
      "q202_multitouch_attribution" -> ("BandJoin+Window", 5))
    val got = expected.keys.toSeq.sorted.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect()
      n -> (Plans.joins(df), Plans.exchanges(df))
    }.toMap
    assert(got == expected)
  }
}
