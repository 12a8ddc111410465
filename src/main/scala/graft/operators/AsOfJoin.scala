package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of join — pandas `merge_asof` over DataFrames: for every left
  * row, attach the payload of ONE right row with the same key, chosen
  * by time. [[asof]] is the one entry point; the caller says what to
  * join and the `strategy` argument (or the planner, under `auto`)
  * says how:
  *
  *  - `direction`: `backward` (latest right with `rt <= lt`, the
  *    trade/quote shape), `forward` (earliest right with `rt >= lt`,
  *    the next-event shape) or `nearest` (the closer of the two, tie →
  *    backward);
  *  - `allowExactMatches = false`: the strict comparisons (`rt < lt`,
  *    `rt > lt`) — a right row at exactly the left time never matches;
  *  - `tolerance`: a bounded match distance in the time type's native
  *    unit (micros for timestamps, days for dates, raw for integrals);
  *    an out-of-bound match is a NULL payload, like no match.
  *
  * Spark has no native as-of join; the naive rewrite is a theta join
  * plus a per-left-row max, quadratic per key. Every strategy here is
  * linear in |L|+|R| per key: the union+window formulation (one
  * shuffle, one sort, spill-safe), the engine's sort-merge and
  * broadcast operators ([[graft.plans.AsOfJoinPlan]], planned by
  * [[graft.plans.GraftStrategies]]), and the composed two-join nearest.
  *
  * Contract for every strategy: rights are deduplicated per
  * (key, time) by the caller; null keys group; null times order
  * smallest. AsOfJoinSpec, StrictAsOfSpec and ToleranceAsOfSpec pin
  * the strategies against each other and a brute-force oracle.
  */
object AsOfJoin {

  /** Internal tag columns of the union+window formulation. An input
    * that already carries one of these would silently shadow the tags
    * (wrong results) or fail analysis — reject it up front. */
  private val ReservedCols = Seq("__k", "__t", "__isLeft", "__p")

  private def requireNoReserved(left: DataFrame, right: DataFrame): Unit = {
    val hit = (left.columns ++ right.columns).filter(ReservedCols.contains)
    require(hit.isEmpty, s"input columns ${hit.distinct.mkString(", ")} " +
      s"collide with AsOfJoin internal names (${ReservedCols.mkString(", ")})" +
      " — rename them before the as-of join")
  }

  private val Strategies = Seq("window", "composed", "sortmerge", "broadcast", "auto")

  /** Full pandas `merge_asof` parity in ONE entry point. `strategy`:
    *  - `window`: the union+window formulation — tag both inputs,
    *    union them, sort each key's timeline once and carry the
    *    nearest right payload with `last`/`first(ignoreNulls)`. One
    *    shuffle, any ordered time type; backward and forward only;
    *  - `composed`: nearest only, from the two single-direction
    *    sort-merge joins plus a nearer-match projection — one left
    *    exchange more than the fused operator; the cross-check the
    *    fused execs are pinned against;
    *  - `sortmerge`: the native co-partitioned sort-merge operator
    *    ([[graft.plans.AsOfJoinExec]]) — one exchange + sort per side,
    *    nearest fused into the same pass;
    *  - `broadcast`: the right side broadcast as a per-key sorted
    *    index ([[graft.plans.BroadcastAsOfJoinExec]]); the left is
    *    never shuffled or sorted. For a dim-sized right;
    *  - `auto`: the planner picks broadcast or sort-merge from the
    *    right side's size estimate vs
    *    `spark.sql.autoBroadcastJoinThreshold`.
    * UNBOUNDED nearest on a time type without distance arithmetic
    * (e.g. decimal) plans `composed` under every strategy; a
    * TOLERANCE on such a type throws — a distance bound needs distance
    * arithmetic. `window` and the native strategies with a tolerance
    * need an integral-backed time type. */
  def asof(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           payload: Seq[String],
           direction: String = "backward",
           strategy: String = "sortmerge",
           tolerance: Option[Long] = None,
           allowExactMatches: Boolean = true): DataFrame = {
    require(Strategies.contains(strategy),
      s"asof strategy must be ${Strategies.mkString(" | ")}, got $strategy")
    val (forward, nearest) = direction match {
      case "backward" => (false, false)
      case "forward" => (true, false)
      case "nearest" => (false, true)
      case other => throw new IllegalArgumentException(
        s"asof direction must be backward | forward | nearest, got $other")
    }
    require(strategy != "window" || !nearest,
      "asof strategy window has no nearest form — use composed, sortmerge, broadcast or auto")
    require(strategy != "composed" || nearest,
      s"asof strategy composed is the nearest formulation, got direction $direction")
    val strict = !allowExactMatches
    if (strategy == "window")
      window(left, right, leftKey, rightKey, leftTime, rightTime, payload,
        forward, strict, tolerance)
    else if (strategy == "composed" || (nearest && tolerance.isEmpty &&
        !graft.plans.AsOfNearest.supported(left.schema(leftTime).dataType)))
      composed(left, right, leftKey, rightKey, leftTime, rightTime, payload,
        strict, tolerance)
    else
      lower(left, right, Seq(leftKey), Seq(rightKey), leftTime, rightTime,
        payload, broadcast = strategy match {
          case "sortmerge" => Some(false)
          case "broadcast" => Some(true)
          case _ => None
        }, forward, nearest, tolerance, strict)
  }

  /** The union+window formulation over (direction, strictness,
    * tolerance).
    *
    * The payload travels as ONE struct column carried by a single
    * last/first(ignoreNulls) — carrying each column independently
    * would, when a right row holds a genuine NULL in one payload
    * field, back-fill that field from another right row and emit a
    * composite row mixing fields of different right rows. The struct
    * is all-or-nothing.
    *
    * The equal-time tiebreak of the timeline sort IS the `<=`/`<`
    * semantics: backward sorts right rows BEFORE left rows at equal
    * times so the frame up to the left row includes the exact-time
    * right; forward sorts left first so the frame from the left row
    * onward includes it; strict flips either tiebreak to exclude it.
    *
    * With a tolerance the matched right time (cast to the left's time
    * type, as the native operator does) rides the struct as one more
    * field and the bound is a final projection — the same one shuffle
    * and one window. A null-time left row or match never satisfies
    * the bound. Exactness note: the bound compares via Column long
    * arithmetic, which wraps for raw-Long times near ±2^63 — the
    * native strategies ([[graft.plans.TimeRepr.cmpDiff]]) are exact at
    * those extremes; timestamps and dates cannot overflow. */
  private def window(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftTime: String, rightTime: String,
                     payload: Seq[String],
                     forward: Boolean,
                     strict: Boolean,
                     tolerance: Option[Long]): DataFrame = {
    requireNoReserved(left, right)
    val lType = left.schema(leftTime).dataType
    tolerance.foreach { tol =>
      require(tol >= 0L, s"tolerance must be >= 0, got $tol")
      require(graft.plans.TimeRepr.supported(lType),
        s"as-of tolerance needs an integral-backed time type, got $lType")
    }
    val leftCols = left.columns.toSeq
    def typedNull(df: DataFrame, c: String) =
      lit(null).cast(df.schema(c).dataType).as(c)
    val matchTime = if (forward) "__ft" else "__bt"
    val payloadType = StructType(payload.map(c => right.schema(c)) ++
      tolerance.map(_ => StructField(matchTime, lType)))
    val taggedLeft = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__isLeft", lit(1))
      .select(Seq(col("__k"), col("__t"), col("__isLeft")) ++
        leftCols.map(col) :+ lit(null).cast(payloadType).as("__p"): _*)
    val taggedRight = right
      .withColumn("__k", col(rightKey))
      .withColumn("__t", col(rightTime))
      .withColumn("__isLeft", lit(0))
      .select(Seq(col("__k"), col("__t"), col("__isLeft")) ++
        leftCols.map(c => typedNull(left, c)) :+
        struct(payload.map(col) ++
          tolerance.map(_ => col(rightTime).cast(lType).as(matchTime)): _*)
          .as("__p"): _*)
    val unioned = taggedRight.unionByName(taggedLeft)

    val tieBreak =
      if (forward == strict) col("__isLeft").asc else col("__isLeft").desc
    val timeline = Window.partitionBy("__k").orderBy(col("__t").asc, tieBreak)
    val carry =
      if (forward)
        first(col("__p"), ignoreNulls = true).over(
          timeline.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col("__p"), ignoreNulls = true).over(
          timeline.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val out = tolerance match {
      case None => payload.map(c => col("__p").getField(c).as(c))
      case Some(tol) =>
        val lt = epochLong(col(leftTime), lType)
        val mt = col("__p").getField(matchTime)
        val dist = if (forward) epochLong(mt, lType) - lt else lt - epochLong(mt, lType)
        val valid = col("__p").isNotNull && col(leftTime).isNotNull &&
          mt.isNotNull && dist <= lit(tol)
        payload.map(c => when(valid, col("__p").getField(c)).as(c))
    }
    unioned
      .withColumn("__p", carry)
      .where(col("__isLeft") === 1)
      .select(leftCols.map(col) ++ out: _*)
  }

  /** NEAREST as-of composed from the two single-direction sort-merge
    * joins — the backward join's output feeds the forward join as its
    * left side (each native join only APPENDS payload columns, so no
    * re-join on a synthetic row id is needed), and a final projection
    * picks the nearer match per row. Strictness and the tolerance
    * apply INSIDE each single-direction join (an out-of-bound
    * direction nulls its whole payload), so the projection is the
    * same for every (strict, tolerance). The matched right times are
    * carried for the distance comparison and dropped from the output;
    * payload columns keep their right-side names. */
  private def composed(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       payload: Seq[String],
                       strict: Boolean,
                       tolerance: Option[Long]): DataFrame = {
    val bT = "__asof_bt"
    val fT = "__asof_ft"
    val bCols = payload.map(c => s"__b_$c")
    val fCols = payload.map(c => s"__f_$c")
    val internal = (bCols ++ fCols :+ bT :+ fT).toSet
    val hit = left.columns.filter(internal.contains)
    require(hit.isEmpty, s"left columns ${hit.mkString(", ")} collide with " +
      "the composed nearest as-of's internal names — rename them first")
    def renamed(prefix: String, timeAlias: String): DataFrame =
      right.select(
        Seq(col(rightKey), col(rightTime).as(timeAlias)) ++
          payload.map(c => col(c).as(s"${prefix}_$c")): _*)
    val backward = lower(left, renamed("__b", bT),
      Seq(leftKey), Seq(rightKey), leftTime, bT, bCols :+ bT,
      broadcast = Some(false), forward = false, nearest = false,
      tolerance, strict)
    val both = lower(backward, renamed("__f", fT),
      Seq(leftKey), Seq(rightKey), leftTime, fT, fCols :+ fT,
      broadcast = Some(false), forward = true, nearest = false,
      tolerance, strict)
    val lt = col(leftTime)
    // backward wins when forward is absent OR its distance is >= the
    // backward distance (tie → backward, pandas merge_asof nearest rule)
    val backWins = col(bT).isNotNull &&
      (col(fT).isNull || (lt - col(bT)) <= (col(fT) - lt))
    val out = payload.zip(bCols.zip(fCols)).map { case (c, (b, f)) =>
      when(backWins, col(b)).otherwise(col(f)).as(c)
    }
    both.select(left.columns.map(col).toSeq ++ out: _*)
  }

  /** Long view of a time column for tolerance arithmetic, in the
    * type's native unit (micros / days / raw) — the Column-level twin
    * of [[graft.plans.TimeRepr.extractor]]. TIMESTAMP_NTZ routes
    * through TimestampType; [[graft.Sessions]] pins the session
    * timezone to UTC so the detour is offset-free. */
  private def epochLong(c: Column, dt: org.apache.spark.sql.types.DataType)
      : Column = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => unix_micros(c)
      case TimestampNTZType => unix_micros(c.cast(TimestampType))
      case DateType => datediff(c, lit(java.sql.Date.valueOf("1970-01-01")))
      case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
      case other => throw new IllegalArgumentException(
        s"as-of tolerance does not support time type $other")
    }
  }

  /** [[asof]] through the native sort-merge operator for a SKEWED fact
    * side — the declarative skew mitigation for the custom exec tier.
    *
    * WHY IT EXISTS: Spark's AQE skew handling
    * (`OptimizeSkewedJoin`, sql/core adaptive rules) pattern-matches
    * ONLY `SortMergeJoinExec` and `ShuffledHashJoinExec`, so the
    * ordinary exchanges feeding [[graft.plans.AsOfJoinExec]] /
    * [[graft.plans.BandJoinExec]] are coalesced by AQE but NEVER
    * runtime-SPLIT — at 100 TB one hot key (one coin, one viral user)
    * is a single straggler task however many executors idle beside it.
    *
    * RECIPE ([[SkewRoute.salt]]): the left salts into `buckets`
    * sub-keys from stable row content; the right REPLICATES into every
    * salt bucket, so each sub-key still sees its key's FULL right
    * timeline and every left row's match is exactly the unsalted one,
    * whichever direction the merge scans and whatever the tolerance or
    * strictness (SkewAsOfSpec pins value equality). The native
    * sort-merge then runs on the composite key (key, salt): the hot
    * key's rows spread over `buckets` partitions of the SAME exchange.
    * Cost: the right side shuffles `buckets`×, so use a dim-sized
    * right — or pre-split hot keys (filter + union) when both sides
    * are big.
    *
    * `stable` defaults to the left TIME column — under the hot-key
    * skew this operator targets, the hot key's many distinct times
    * spread uniformly; pass an id column instead when times themselves
    * concentrate on few values. Nearest requires a time type with
    * distance arithmetic (the exec contract); there is no composed
    * fallback in salted form, so unsupported types are rejected
    * loudly rather than silently un-salted. */
  def asofSalted(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTime: String, rightTime: String,
                 payload: Seq[String],
                 buckets: Int,
                 direction: String = "backward",
                 stable: Option[Column] = None,
                 tolerance: Option[Long] = None,
                 strict: Boolean = false): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    if (direction == "nearest")
      require(graft.plans.AsOfNearest.supported(left.schema(leftTime).dataType),
        s"salted nearest as-of needs distance arithmetic on the time type; " +
          s"${left.schema(leftTime).dataType} has none (use the composed form)")
    val saltC = "__asof_salt"
    val (saltedLeft, replRight) = SkewRoute.salt(left, right, saltC, buckets,
      stable.getOrElse(col(leftTime)))
    lower(saltedLeft, replRight,
      Seq(leftKey, saltC), Seq(rightKey, saltC),
      leftTime, rightTime, payload, broadcast = Some(false),
      forward = direction == "forward", nearest = direction == "nearest",
      tolerance = tolerance, strict = strict)
      .drop(saltC)
  }

  /** Lowering to [[graft.plans.AsOfJoinPlan]]. The execs join on
    * `Seq[Expression]` keys; the composite form exists for
    * [[asofSalted]]'s (key, salt) pairs. */
  private def lower(left: DataFrame, right: DataFrame,
                    leftKeys: Seq[String], rightKeys: Seq[String],
                    leftTime: String, rightTime: String,
                    payload: Seq[String],
                    broadcast: Option[Boolean],
                    forward: Boolean,
                    nearest: Boolean,
                    tolerance: Option[Long],
                    strict: Boolean): DataFrame =
    graft.plans.TimeJoinInputs.lower(left, right, leftKeys, rightKeys,
        leftTime, rightTime, payload) { j =>
      graft.plans.AsOfJoinPlan(j.left, j.right, j.leftKeys, j.rightKeys,
        j.leftTime, j.rightTime, j.payload, j.payloadOut, broadcast,
        forward, nearest, tolerance, strict)
    }

  /** [[asof]] with SKEW-AWARE automatic strategy selection — the
    * routing tier that makes the salt recipe automatic, so a caller
    * needs to know neither that the right side is dim-sized nor that
    * AQE will never runtime-split the custom exec's exchanges.
    * [[SkewRoute.route]] decides: broadcast when the right fits the
    * threshold, else [[asofSalted]] with the guarded bucket count when
    * the left key is measured hot, else the plain sort-merge. Every
    * route is value-identical; only the physical shape changes. The
    * hot-key measurement runs one eager, bounded sampling job at call
    * time — the price of measured (rather than guessed) routing.
    *
    * Nearest on a distance-free time type delegates straight to
    * [[asof]]'s composed fallback (no salted spelling exists — the
    * composition's internal joins re-shuffle the left anyway). */
  def asofAutoSkew(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   payload: Seq[String],
                   direction: String = "backward",
                   tolerance: Option[Long] = None,
                   allowExactMatches: Boolean = true,
                   hotShare: Option[Double] = None,
                   buckets: Option[Int] = None,
                   stable: Option[Column] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    def plain(strategy: String) =
      asof(left, right, leftKey, rightKey, leftTime, rightTime, payload,
        direction = direction, strategy = strategy,
        tolerance = tolerance, allowExactMatches = allowExactMatches)
    val distanceFree = direction == "nearest" &&
      !graft.plans.AsOfNearest.supported(left.schema(leftTime).dataType)
    if (distanceFree) plain("sortmerge")
    else SkewRoute.route(left, right, leftKey, hotShare, buckets) match {
      case SkewRoute.Broadcast => plain("broadcast")
      case SkewRoute.Salted(b) =>
        asofSalted(left, right, leftKey, rightKey, leftTime, rightTime,
          payload, b, direction, stable,
          tolerance, strict = !allowExactMatches)
      case SkewRoute.SortMerge => plain("sortmerge")
    }
  }

  /** KEYLESS (global) as-of — pandas `merge_asof` with no `by`: every
    * left row matches against ONE global right timeline. Supports the
    * full [[asof]] matrix (direction, tolerance, allowExactMatches)
    * but the physical strategy is pinned to BROADCAST, deliberately:
    * a keyless join clusters on a constant, so the sort-merge form
    * would exchange the ENTIRE left side into a single partition — a
    * one-task straggler at any scale. Broadcast is the correct shape
    * and the only one offered: the right side (a global quote feed, a
    * market-state table, a config timeline) must be dim-sized; the
    * left is never shuffled and never sorted — each row pays one
    * binary search of the single broadcast timeline.
    */
  def asofGlobal(left: DataFrame, right: DataFrame,
                 leftTime: String, rightTime: String,
                 payload: Seq[String],
                 direction: String = "backward",
                 tolerance: Option[Long] = None,
                 allowExactMatches: Boolean = true): DataFrame = {
    val gk = "__asof_gk"
    require(!(left.columns ++ right.columns).contains(gk),
      s"input column $gk collides with the keyless join's synthetic key" +
        " — rename it first")
    asof(left.withColumn(gk, lit(1)), right.withColumn(gk, lit(1)),
      gk, gk, leftTime, rightTime, payload,
      direction = direction, strategy = "broadcast",
      tolerance = tolerance, allowExactMatches = allowExactMatches)
      .drop(gk)
  }
}
