package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stats-based SKEW ROUTING for the custom exec tier (as-of and band
  * joins) — the piece that makes the salt recipe automatic.
  *
  * WHY: AQE's `OptimizeSkewedJoin` pattern-matches only
  * SortMergeJoinExec/ShuffledHashJoinExec, so the exchanges feeding
  * [[graft.plans.AsOfJoinExec]]/[[graft.plans.BandJoinExec]] are
  * coalesced but never runtime-split — a hot key is one straggler task
  * however many executors idle beside it. [[salt]] is the manual
  * mitigation behind [[AsOfJoin.asofSalted]] /
  * [[BandJoin.bandJoinSalted]]; [[route]] picks it from measured key
  * statistics for [[AsOfJoin.asofAutoSkew]] /
  * [[BandJoin.bandJoinAutoSkew]], so the caller does not have to know
  * that AQE will not save them.
  *
  * DECISION TREE ([[route]], the 100 TB order of preference):
  *   1. right side fits `spark.sql.autoBroadcastJoinThreshold` →
  *      BROADCAST exec. The fact side is never shuffled at all, so key
  *      skew is moot — strictly better than any salted shuffle.
  *   2. else measure the left's max single-key share from a bounded
  *      sample; share >= the hot threshold → the SALTED sort-merge
  *      (hash-partitions on (key, salt)), with the fan-out capped by
  *      [[guardedBuckets]];
  *   3. else the plain co-partitioned sort-merge.
  *
  * The measurement is one column-pruned pass over the left's key with
  * a size-capped `sample()` feeding a two-phase count — map-side
  * combine makes the shuffle proportional to the DISTINCT sampled
  * keys, and the per-key partials never leave the executors (the final
  * `max/sum` fold is two numbers). It runs EAGERLY at call time (an
  * opt-in router is allowed one metadata-scale job; Spark's own AQE
  * pays the same class of cost in shuffle statistics). Determinism:
  * fixed sample seed, so the same inputs route the same way — and
  * either route is value-identical anyway (SkewAsOfSpec/SkewBandSpec
  * pin salted == unsalted).
  *
  * Tunables (session conf, overridable per call):
  *   - `spark.graft.skew.hotShare`    (default 0.2): min max-key share
  *     of the sample that counts as hot;
  *   - `spark.graft.skew.buckets`     (default 32): salt fan-out;
  *   - `spark.graft.skew.sampleBytes` (default 64 MiB): sample size
  *     target — the fraction is sampleBytes / stats.sizeInBytes;
  *   - `spark.graft.skew.minRows`     (default 1000): below this many
  *     sampled rows skew routing is pointless (any key fits one task)
  *     and the router reports no-skew;
  *   - `spark.graft.skew.maxReplication` (default 4.0): cost guard on
  *     the salted route — the salt REPLICATES the entire right side
  *     once per bucket, so the replicated-right volume is bounded to
  *     at most this multiple of the LEFT's size (see
  *     [[guardedBuckets]]); below 2 surviving buckets the salt cannot
  *     pay for itself and the router falls back to the plain
  *     sort-merge.
  */
object SkewRoute {

  final case class Conf(hotShare: Double, buckets: Int, sampleBytes: Long,
                        minRows: Long, maxReplication: Double)

  def conf(df: DataFrame): Conf = {
    val c = df.sparkSession.conf
    Conf(
      hotShare = c.get("spark.graft.skew.hotShare", "0.2").toDouble,
      buckets = c.get("spark.graft.skew.buckets", "32").toInt,
      sampleBytes =
        c.get("spark.graft.skew.sampleBytes", (64L << 20).toString).toLong,
      minRows = c.get("spark.graft.skew.minRows", "1000").toLong,
      maxReplication =
        c.get("spark.graft.skew.maxReplication", "4.0").toDouble)
  }

  /** Max single-key share of `df.key`, estimated from a deterministic
    * size-capped sample; None when the sample is too small for skew to
    * matter (< minRows) or the input is empty. */
  def hotKeyShare(df: DataFrame, key: String, sampleBytes: Long,
                  minRows: Long): Option[Double] = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val fraction =
      if (size <= 0) 1.0
      else math.min(1.0, sampleBytes.toDouble / size.toDouble)
    val keyed = df.select(col(key).as("__sk"))
    val sampled =
      if (fraction >= 1.0) keyed
      else keyed.sample(withReplacement = false, fraction, seed = 421997L)
    val row = sampled
      .groupBy(col("__sk")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("mx"), sum(col("__n")).as("tot"))
      .head()
    if (row.isNullAt(1) || row.getLong(1) < minRows) None
    else Some(row.getLong(0).toDouble / row.getLong(1).toDouble)
  }

  /** True when the broadcast strategy applies: the rule
    * [[graft.plans.GraftStrategies.fitsBroadcast]] applies at planning,
    * evaluated on `right`'s own session conf and optimized plan. */
  def rightFitsBroadcast(right: DataFrame): Boolean =
    graft.plans.GraftStrategies.fitsBroadcast(
      right.queryExecution.optimizedPlan, right.sparkSession.sessionState.conf)

  /** The physical route [[route]] picks for one skew-aware join. */
  sealed trait Route
  case object Broadcast extends Route
  final case class Salted(buckets: Int) extends Route
  case object SortMerge extends Route

  /** The decision tree above for a join of `left` (keyed on `leftKey`)
    * with `right`; `hotShare`/`buckets` override the session conf.
    * Step 2 runs one eager, bounded sampling job ([[hotKeyShare]]). */
  def route(left: DataFrame, right: DataFrame, leftKey: String,
            hotShare: Option[Double], buckets: Option[Int]): Route = {
    val c = conf(left)
    if (rightFitsBroadcast(right)) Broadcast
    else {
      val hot = hotKeyShare(left, leftKey, c.sampleBytes, c.minRows)
        .exists(_ >= hotShare.getOrElse(c.hotShare))
      // cost guard: replicated-right volume ≤ maxReplication × |left|;
      // under 2 affordable buckets the salt cannot pay → plain SMJ
      val b = guardedBuckets(left, right,
        buckets.getOrElse(c.buckets), c.maxReplication)
      if (hot && b >= 2) Salted(b) else SortMerge
    }
  }

  /** The salt recipe: the left gets int column `saltCol` in
    * [0, buckets) from `stable` row content ([[Salt.saltCol]] —
    * deterministic, so task retries salt identically), and the right
    * is REPLICATED once per bucket value. Joined on (key, saltCol),
    * every left row still meets its key's full right side. */
  def salt(left: DataFrame, right: DataFrame, saltCol: String,
           buckets: Int, stable: Column): (DataFrame, DataFrame) = {
    require(buckets >= 1 && buckets <= 4096,
      s"salt buckets must be in [1, 4096], got $buckets")
    require(!(left.columns ++ right.columns).contains(saltCol),
      s"input column $saltCol collides with the salting column — rename it")
    (left.withColumn(saltCol, Salt.saltCol(stable, buckets).cast("int")),
      right
        .withColumn(saltCol, explode(sequence(lit(0), lit(buckets - 1))))
        .withColumn(saltCol, col(saltCol).cast("int")))
  }

  /** COST GUARD on the salted route: cap the salt fan-out so the
    * replicated right side never dominates the join.
    *
    * The salted recipe replicates the ENTIRE right side once per salt
    * bucket. When the right misses the broadcast threshold by a lot
    * (a 1 TB attribute table behind a hot left key), 32× replication
    * shuffles 32 TB to dodge ONE straggler task — strictly worse than
    * the straggler. The guard bounds replicated-right volume by the
    * work the join already pays for: `buckets × |right| ≤
    * maxReplication × |left|` (both from logical-plan size stats, the
    * same estimate the broadcast rule trusts), i.e.
    * `buckets = min(requested, ⌊maxReplication·|left| / |right|⌋)`.
    * Fewer buckets still spread the hot key — just proportionally to
    * what the replication budget affords. A result < 2 means even the
    * minimum useful salt costs more than the straggler it removes;
    * callers fall back to the plain co-partitioned sort-merge.
    *
    * Missing stats are asymmetric: an UNKNOWN RIGHT is the dangerous
    * case — the salt replicates the right, so sizing its fan-out with
    * no estimate is an unguarded `requested`× blow-up exactly when the
    * optimizer knows least — so it returns 1 (= plain SMJ; the
    * straggler is bounded, the replication is not). An unknown LEFT
    * with a known right only loses the budget ratio, and the plain
    * SMJ already pays |left| anyway, so it stays permissive. */
  def guardedBuckets(left: DataFrame, right: DataFrame,
                     requested: Int, maxReplication: Double): Int = {
    val l = left.queryExecution.optimizedPlan.stats.sizeInBytes
    val r = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (r <= 0) 1
    else if (l <= 0) requested
    else {
      val cap = (BigDecimal(l) * maxReplication / BigDecimal(r))
        .setScale(0, BigDecimal.RoundingMode.FLOOR)
      if (cap >= requested) requested else cap.toInt
    }
  }
}
