package graft

import org.apache.spark.sql.functions._

/** Skew audit (SCALING.md): measure the hot-key straggler effect on the
  * custom as-of exec and the salted mitigation on a DELIBERATELY skewed
  * corpus. `runMain graft.SkewAudit [leftRows] [hotFrac%] [buckets]
  * [passes]` — defaults 3000000 90 16 2.
  *
  * Corpus: `leftRows` fact rows with `hotFrac`% on ONE key (the rest
  * uniform over 499 cold keys), random Long times; a 100-row timeline
  * per key on the dim side. Method: both variants planned identically
  * except for salting, warmed once, `passes` interleaved passes,
  * per-variant MIN; the row counts are asserted equal first (the salted
  * join must be value-preserving). Prints one JSON line with both times
  * and the speedup — the SCALING.md skew row's instrument.
  */
object SkewAudit {
  def main(args: Array[String]): Unit = {
    val leftRows = args.lift(0).map(_.toInt).getOrElse(3000000)
    val hotPct = args.lift(1).map(_.toInt).getOrElse(90)
    val buckets = args.lift(2).map(_.toInt).getOrElse(16)
    val passes = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nKeys = 500
    val left = spark.range(leftRows.toLong)
      .select(
        when(pmod(col("id"), lit(100)) < hotPct, lit("hot"))
          .otherwise(concat(lit("cold"), pmod(col("id"), lit(nKeys))))
          .as("k"),
        pmod(col("id") * 2654435761L, lit(1000000007L)).as("t"),
        col("id").as("left_id"))
    val right = spark.range(nKeys.toLong + 1)
      .select(
        when(col("id") === 0, lit("hot"))
          .otherwise(concat(lit("cold"), col("id") - 1)).as("rk"),
        col("id").as("kid"))
      .crossJoin(spark.range(100).select(col("id").as("j")))
      .select(col("rk"), (col("j") * 10000000L + col("kid")).as("rt"),
        (col("kid") * 1000 + col("j")).as("p"))

    left.cache().count(); right.cache().count()

    def unsalted() = graft.operators.AsOfJoin.asof(
      left, right, "k", "rk", "t", "rt", Seq("p"))
    def salted() = graft.operators.AsOfJoin.asofSalted(
      left, right, "k", "rk", "t", "rt", Seq("p"), buckets)

    // value preservation before timing anything
    require(unsalted().count() == leftRows.toLong &&
      salted().count() == leftRows.toLong, "as-of must be left-preserving")

    def time(f: () => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    var tU = Double.MaxValue
    var tS = Double.MaxValue
    for (_ <- 1 to passes) {
      tU = math.min(tU, time(unsalted _))
      tS = math.min(tS, time(salted _))
    }
    println(f"""{"metric":"skew_asof","left_rows":$leftRows,"hot_pct":$hotPct,"buckets":$buckets,"unsalted_sec":$tU%.3f,"salted_sec":$tS%.3f,"speedup":${tU / tS}%.2f}""")

    // Same instrument for the BAND exec (the second AQE-unsplittable
    // operator): band (0, 20M] over the same corpus ≈ 2 right rows per
    // left row, so the join is occupancy-bounded and the measured
    // difference is the straggler, not output volume.
    def bandUnsalted() = graft.operators.BandJoin.bandJoin(
      left, right, "k", "rk", "t", "rt", 0L, 20000000L, Seq("p"))
    def bandSalted() = graft.operators.BandJoin.bandJoinSalted(
      left, right, "k", "rk", "t", "rt", 0L, 20000000L, Seq("p"), buckets)
    val nPairs = bandUnsalted().count()
    require(bandSalted().count() == nPairs,
      "salted band join must preserve the pair set")
    var bU = Double.MaxValue
    var bS = Double.MaxValue
    for (_ <- 1 to passes) {
      bU = math.min(bU, time(bandUnsalted _))
      bS = math.min(bS, time(bandSalted _))
    }
    println(f"""{"metric":"skew_band","left_rows":$leftRows,"hot_pct":$hotPct,"buckets":$buckets,"pairs":$nPairs,"unsalted_sec":$bU%.3f,"salted_sec":$bS%.3f,"speedup":${bU / bS}%.2f}""")

    // COST GUARD decisions (SkewRoute.guardedBuckets): the salted route
    // replicates the whole right side per bucket, so the affordable
    // fan-out shrinks as |right| grows toward (and past) |left|. Three
    // regimes on the same left: the dim-sized right above (full request
    // affordable), a right ~ |left| (guard shrinks toward
    // maxReplication), and a right ~ 6x |left| (cap < 2 → the router
    // refuses the salt and falls back to plain SMJ).
    val rightMid = left.select(col("k").as("rk"), col("t").as("rt"),
      col("left_id").as("p"))
    val rightBig = rightMid.crossJoin(spark.range(6).select(col("id")))
      .select(col("rk"), (col("rt") + col("id")).as("rt"), col("p"))
    val maxRepl = 4.0
    val gSmall = graft.operators.SkewRoute.guardedBuckets(
      left, right, buckets, maxRepl)
    val gMid = graft.operators.SkewRoute.guardedBuckets(
      left, rightMid, buckets, maxRepl)
    val gBig = graft.operators.SkewRoute.guardedBuckets(
      left, rightBig, buckets, maxRepl)
    println(s"""{"metric":"skew_guard","requested":$buckets,"max_replication":$maxRepl,"buckets_dim_right":$gSmall,"buckets_eq_right":$gMid,"buckets_6x_right":$gBig,"route_6x_right":"${if (gBig < 2) "plain_smj" else "salted"}"}""")
    spark.stop()
  }
}
