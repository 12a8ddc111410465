package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BAND (interval) join: for every left row, ALL right rows with the
  * same key and `rightTime − leftTime` in the half-open band
  * `(lo, hi]`, INNER semantics — the 1:N sibling of [[AsOfJoin]] and
  * the batch face of a stream-stream interval join. The attribution
  * query "every event within 24 h after each purchase" is
  * `bandJoin(purchases, events, …, lo = 0, hi = 24h, payload)`; the
  * reverse orientation "each event's purchases in the preceding 24 h"
  * is a NEGATIVE band `(−24h−1, −1]` on integral time units.
  *
  * [[bandJoin]] is the one entry point; its `strategy` picks one of
  * four formulations with the same contract (BandJoinSpec pins them
  * against each other and a brute force):
  *  - `sortmerge`: the custom sort-merge physical operator — one
  *    exchange+sort per side, merge memory bounded by band OCCUPANCY
  *    ([[graft.plans.BandJoinExec]]);
  *  - `broadcast`: dim-sized right broadcast as the per-key
  *    time-sorted index; fact side never shuffled/sorted, two binary
  *    searches + a contiguous slice per row;
  *  - `auto`: the planner picks one of the two from the right side's
  *    size estimate vs `spark.sql.autoBroadcastJoinThreshold`;
  *  - `bucketed`: the pure-DataFrame composition (the q93 shape
  *    generalized) — explode each left row into the two band-width
  *    buckets its band can touch, equi-join on (key, bucket),
  *    post-filter the exact band. 2x left inflation + post-filter, the
  *    price the native operator exists to remove; kept as the
  *    any-engine cross-check. Inner only; requires non-negative times
  *    (integer `div` truncation).
  *
  * `leftOuter = true` keeps every left row — one NULL-payload row when
  * nothing is in its band (null-time lefts included): the attribution
  * shape "every purchase, with its follow-up events when any" without
  * a second join back onto the left. It takes the `sortmerge` or
  * `broadcast` strategy.
  *
  * `lo`/`hi` are Longs in the time type's native unit (micros for
  * timestamps, days for dates, raw for integrals); times must be
  * integral-backed. Null keys group; null times never match.
  */
object BandJoin {

  def bandJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               lo: Long, hi: Long,
               payload: Seq[String],
               strategy: String = "sortmerge",
               leftOuter: Boolean = false): DataFrame = {
    require(!leftOuter || strategy == "sortmerge" || strategy == "broadcast",
      s"a left-outer band join takes strategy sortmerge or broadcast, got $strategy")
    def native(broadcast: Option[Boolean]) =
      lower(left, right, Seq(leftKey), Seq(rightKey), leftTime, rightTime,
        lo, hi, payload, broadcast, leftOuter)
    strategy match {
      case "bucketed" =>
        bucketed(left, right, leftKey, rightKey, leftTime, rightTime, lo, hi,
          payload)
      case "sortmerge" => native(Some(false))
      case "broadcast" => native(Some(true))
      case "auto" => native(None)
      case other => throw new IllegalArgumentException(
        s"bandJoin strategy must be bucketed | sortmerge | broadcast | auto, got $other")
    }
  }

  /** [[bandJoin]] with SKEW-AWARE routing — the band twin of
    * [[AsOfJoin.asofAutoSkew]], same [[SkewRoute.route]] decision:
    * dim-sized right → broadcast (fact side never shuffles, skew is
    * moot); else measured hot left key → [[bandJoinSalted]] with the
    * guarded bucket count; else the plain co-partitioned sort-merge.
    * One eager bounded sampling job at call time buys the measured
    * choice; every route is value-identical (SkewBandSpec). */
  def bandJoinAutoSkew(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       lo: Long, hi: Long,
                       payload: Seq[String],
                       leftOuter: Boolean = false,
                       hotShare: Option[Double] = None,
                       buckets: Option[Int] = None,
                       stable: Option[Column] = None): DataFrame = {
    def plain(strategy: String) =
      bandJoin(left, right, leftKey, rightKey, leftTime, rightTime, lo, hi,
        payload, strategy, leftOuter)
    SkewRoute.route(left, right, leftKey, hotShare, buckets) match {
      case SkewRoute.Broadcast => plain("broadcast")
      case SkewRoute.Salted(b) =>
        bandJoinSalted(left, right, leftKey, rightKey, leftTime, rightTime,
          lo, hi, payload, b, stable, leftOuter)
      case SkewRoute.SortMerge => plain("sortmerge")
    }
  }

  /** Bucket-explode composition: left rows duplicate into the (at most
    * two) band-width buckets their band overlaps, the join is a plain
    * equi-join on (key, bucket), and the exact band is a post-filter. */
  private def bucketed(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       lo: Long, hi: Long,
                       payload: Seq[String]): DataFrame = {
    require(lo < hi, s"band must be non-empty: lo=$lo, hi=$hi")
    val w = hi - lo
    val lt = col(leftTime).cast("long")
    val rt = col(rightTime).cast("long")
    val leftCols = left.columns.toSeq
    val b0 = floor((lt + lit(lo)) / lit(w).cast("double")).cast("long")
    val banded = left
      .withColumn("__band_bucket", explode(array(b0, b0 + lit(1))))
    val tagged = right.select(
      (Seq(col(rightKey).as("__band_rk"),
        floor(rt / lit(w).cast("double")).cast("long").as("__band_bucket"),
        rt.as("__band_rt")) ++ payload.map(col)): _*)
    banded
      .join(tagged,
        col(leftKey) === col("__band_rk") &&
          banded("__band_bucket") === tagged("__band_bucket"))
      .where(col("__band_rt") - lt > lo && col("__band_rt") - lt <= hi)
      .select(leftCols.map(col) ++ payload.map(col): _*)
  }

  /** BAND join for a SKEWED left side — the band-exec twin of
    * [[AsOfJoin.asofSalted]], closing the second half of the exposure
    * SCALING.md names: AQE's `OptimizeSkewedJoin` pattern-matches only
    * SMJ/SHJ, so the exchanges feeding [[graft.plans.BandJoinExec]]
    * are coalesced but never runtime-SPLIT — one hot key (one viral
    * user in the q93/q146 attribution shape) is a single straggler
    * task at 100 TB.
    *
    * RECIPE ([[SkewRoute.salt]], identical to the as-of salt, and it
    * preserves band semantics the same way): the left salts into
    * `buckets` sub-keys from stable row content; the right REPLICATES
    * into every salt bucket, so each sub-key still sees its key's FULL
    * right timeline and every left row's band — a per-LEFT-row
    * predicate the salt never touches — matches exactly the unsalted
    * pair set (SkewBandSpec pins value equality, inner and
    * left-outer). The native sort-merge then runs on (key, salt): the
    * hot key spreads over `buckets` partitions of the same exchange.
    * Cost: the right shuffles `buckets`× — size the bucket count to
    * the straggler, not to the cluster. */
  def bandJoinSalted(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftTime: String, rightTime: String,
                     lo: Long, hi: Long,
                     payload: Seq[String],
                     buckets: Int,
                     stable: Option[Column] = None,
                     leftOuter: Boolean = false): DataFrame = {
    val saltC = "__band_salt"
    val (saltedLeft, replRight) = SkewRoute.salt(left, right, saltC, buckets,
      stable.getOrElse(col(leftTime)))
    lower(saltedLeft, replRight,
      Seq(leftKey, saltC), Seq(rightKey, saltC),
      leftTime, rightTime, lo, hi, payload,
      broadcast = Some(false), leftOuter = leftOuter)
      .drop(saltC)
  }

  /** Lowering to [[graft.plans.BandJoinPlan]]; the composite key form
    * exists for [[bandJoinSalted]]'s (key, salt) pairs. */
  private def lower(left: DataFrame, right: DataFrame,
                    leftKeys: Seq[String], rightKeys: Seq[String],
                    leftTime: String, rightTime: String,
                    lo: Long, hi: Long,
                    payload: Seq[String],
                    broadcast: Option[Boolean],
                    leftOuter: Boolean): DataFrame =
    graft.plans.TimeJoinInputs.lower(left, right, leftKeys, rightKeys,
        leftTime, rightTime, payload) { j =>
      graft.plans.BandJoinPlan(j.left, j.right, j.leftKeys, j.rightKeys,
        j.leftTime, j.rightTime, lo, hi, j.payload, j.payloadOut,
        broadcast, leftOuter)
    }
}
