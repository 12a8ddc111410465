package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Brute-force re-derivations for the q198-q204 association/decision
  * batch (market basket, sweep-line concurrency, skyline, LOO target
  * encoding, multi-touch attribution, triangles, quota allocation).
  * The DuckDB gate certifies engine-vs-engine parity at sf0.01; these
  * suites re-derive the SEMANTICS independently in plain Scala on
  * sf0.001 — catching the class of bug where both SQL formulations
  * share the same misreading (e.g. an attribution whose remainder goes
  * to the WRONG touch in both engines, or a skyline that drops
  * equal-point twins).
  */
class AssocQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val events: Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSeq
  }

  test("q198 market basket == brute-force pair counts and exact lift arithmetic") {
    import spark.implicits._
    val got = SparkEntry.queries("q198_market_basket")(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      .as[(Long, Long)].collect()
    val brandOf = Tables.part(spark, dir).select("p_partkey", "p_brand")
      .as[(Long, String)].collect().toMap
    val baskets = li.map { case (ok, pk) => (ok, brandOf(pk)) }.distinct
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val brandN = baskets.groupBy(_._2).map { case (b, g) => b -> g.length.toLong }
    val pairN = baskets.groupBy(_._1).values.flatMap { items =>
      val bs = items.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length) yield (bs(i), bs(j))
    }.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    assert(got.length == pairN.size)
    got.foreach { case (a, b, nAb, nA, nB, nO, support, confidence, lift) =>
      assert(nAb == pairN((a, b)), s"n_ab for ($a,$b)")
      assert(nA == brandN(a) && nB == brandN(b) && nO == nOrders)
      assert(support == nAb.toDouble / nOrders)
      assert(confidence == nAb.toDouble / nA)
      assert(lift == nAb.toDouble * nOrders / (nA * nB))
    }
  }

  test("q199 peak concurrency == brute-force sweep over sessionized intervals") {
    import spark.implicits._
    val got = SparkEntry.queries("q199_peak_concurrency")(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val gap = 30L * 60 * 1000000
    // Sessionize: per user, split sorted timestamps at gaps > 30 min.
    val sessions = events.groupBy(_._2).values.flatMap { rows =>
      val ts = rows.map(_._3).sorted
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = ts.head; var last = ts.head
      ts.tail.foreach { t =>
        if (t - last > gap) { bounds += ((start, last)); start = t }
        last = t
      }
      bounds += ((start, last))
      bounds
    }.toSeq
    // Sweep at minute grain, with the carry-in seed: each day a delta
    // touches also gets a zero delta at its first minute, so an
    // overnight plateau competes for that day's peak.
    val raw = sessions.flatMap { case (s, e) =>
      Seq((s / 60000000L, 1L), (e / 60000000L + 1, -1L))
    }.groupBy(_._1).map { case (m, g) => m -> g.map(_._2).sum }
    val seeds = raw.keys.map(m => (m / 1440L) * 1440L).toSet
    val deltas = (raw.keySet ++ seeds).map(m => m -> raw.getOrElse(m, 0L)).toMap
    var conc = 0L
    val concAt = deltas.toSeq.sortBy(_._1).map { case (m, d) =>
      conc += d; (m, conc)
    }
    val want = concAt.groupBy(_._1 / 1440).map { case (day, rows) =>
      val peak = rows.map(_._2).max
      day -> ((peak, rows.filter(_._2 == peak).map(_._1).min))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (day, (peak, firstM)) =>
      assert(got(day) == ((peak, firstM)), s"day $day")
    }
    // Conservation: every session opens once and closes once.
    assert(deltas.values.sum == 0L)
  }

  test("q199 carry-in plateau: an overnight carry can BE the day's peak") {
    import spark.implicits._
    // 3 sessions span midnight into day 1 and END there (day 1's first
    // real deltas are -1s), plus one midday session of concurrency 1.
    // Day 1's true maximum is the CARRY-IN level 3 at its first
    // minute — the case the zero-delta seed exists for (pre-seed, the
    // report said 2: the level after the first in-day delta).
    val day = 1440L * 60000000L
    val ev = Seq.tabulate(3) { i =>
      Seq((100L + i, day - 10L * 60000000L),          // day 0, 23:50
        (100L + i, day + (10L + i) * 60000000L))      // day 1, ~00:10 (gap < 30 min)
    }.flatten ++ Seq(
      (200L, day + 720L * 60000000L),                 // day 1, 12:00
      (200L, day + 730L * 60000000L))
    val out = graft.Q.fresh(spark, "q199_carryin", "spec")
    ev.toDF("user_id", "us")
      .select(col("user_id"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .write.parquet(s"$out/events.parquet")
    val got = SparkEntry.queries("q199_peak_concurrency")(spark, out)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 1440L)),
      s"day 1 peak must be the carry-in plateau at the day's first minute: $got")
    assert(got(0L)._1 == 3L, s"day 0 peak: $got")
  }

  test("q218 Spearman == midrank re-derivation, identical op sequence") {
    import spark.implicits._
    val got = SparkEntry.queries("q218_spearman_rank_corr")(spark, dir)
      .as[(Long, Double, Double, Double, Option[Double])].collect().head
    val li = Tables.lineitem(spark, dir)
      .select("l_quantity", "l_extendedprice")
      .as[(Double, Double)].collect()
      .map { case (q, p) =>
        (BigDecimal(q).setScale(2).toLong,
          BigDecimal(p).setScale(2).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
      }
    // doubled midranks per variable: 2*cumBefore + t + 1
    def r2(vs: Seq[Long]): Map[Long, Long] = {
      val byV = vs.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      byV.map { case (v, t) => val r = cum * 2 + t + 1; cum += t; v -> r }.toMap
    }
    val rx = r2(li.map(_._1)); val ry = r2(li.map(_._2))
    val n = li.length.toLong
    val (sx, sy, sxx, syy, sxy) = li.foldLeft((BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))) {
      case ((a, b, c, d, e), (x, y)) =>
        val (u, v) = (BigInt(rx(x)), BigInt(ry(y)))
        (a + u, b + v, c + u * u, d + v * v, e + u * v)
    }
    // replicate the engine's exact op sequence (decimal->double casts,
    // then the pinned IEEE tree) so the comparison is bit-for-bit
    val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
    val denX = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
    val denY = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
    assert(got._1 == n && got._2 == num && got._3 == denX && got._4 == denY)
    assert(got._5.contains(num / math.sqrt(denX * denY)))
    // sanity: the synthetic generator draws quantity and price
    // INDEPENDENTLY (unlike TPC-H's quantity-scaled extendedprice), so
    // the rank correlation must be near zero — and always in [-1, 1]
    assert(math.abs(got._5.get) < 0.1, s"independent draws, got ${got._5}")
  }

  test("q200 skyline == brute-force dominance filter, twins kept") {
    import spark.implicits._
    val got = SparkEntry.queries("q200_pareto_skyline")(spark, dir)
      .as[(Long, Double, Int)].collect().map(_._1).toSet
    val parts = Tables.part(spark, dir)
      .select("p_partkey", "p_retailprice", "p_size")
      .as[(Long, Double, Int)].collect()
    val want = parts.filter { case (_, pr, sz) =>
      !parts.exists { case (_, qr, qz) =>
        qr <= pr && qz >= sz && (qr < pr || qz > sz)
      }
    }.map(_._1).toSet
    assert(got == want)
    // Twins: inject a duplicated skyline point and re-check on a frame.
    val pr = parts.filter(p => want.contains(p._1)).head
    val twin = parts :+ ((-1L, pr._2, pr._3))
    val twinSky = twin.filter { case (_, p2, s2) =>
      !twin.exists { case (_, q2, z2) =>
        q2 <= p2 && z2 >= s2 && (q2 < p2 || z2 > s2) }
    }.map(_._1).toSet
    assert(twinSky.contains(-1L) && twinSky.contains(pr._1),
      "equal (price,size) twins must both survive dominance")
  }

  test("q201 LOO encoding == BigDecimal re-derivation; singleton is NULL") {
    import spark.implicits._
    val got = SparkEntry.queries("q201_target_encoding_loo")(spark, dir)
      .select(col("o_orderkey"), col("enc_loo"))
      .as[(Long, Option[Double])].collect().toMap
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .as[(Long, String, Double)].collect()
    val byPrio = orders.groupBy(_._2)
    orders.foreach { case (ok, prio, price) =>
      val grp = byPrio(prio)
      val sum = grp.map(r => BigDecimal(r._3).setScale(2)).sum
      val n = grp.length
      got(ok) match {
        case Some(g) if n > 1 =>
          // Exact decimal numerator, then the engine's one IEEE division.
          val exact = (sum - BigDecimal(price).setScale(2)).toDouble / (n - 1)
          assert(g == exact, s"enc for order $ok")
        case None if n == 1 => ()
        case other => fail(s"order $ok (n=$n): $other")
      }
    }
  }

  test("q202 attribution conserves the ppm budget and routes the remainder to the latest touch") {
    import spark.implicits._
    val got = SparkEntry.queries("q202_multitouch_attribution")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val W = 7L * 24 * 3600 * 1000000L
    val purchases = events.filter(_._4 == "purchase")
    val touchesByUser = events.filter(e => e._4 == "view" || e._4 == "click")
      .groupBy(_._2)
    // Brute force: per purchase, the in-window touches; floor credit to
    // each, remainder to the (t_us, event_id)-max touch.
    val credits = purchases.flatMap { case (convId, user, cUs, _) =>
      val ts = touchesByUser.getOrElse(user, Seq.empty)
        .filter(t => t._3 >= cUs - W && t._3 < cUs)
      if (ts.isEmpty) Seq(("(none)", convId, None: Option[Long], 1000000L))
      else {
        val n = ts.length
        val last = ts.maxBy(t => (t._3, t._1))
        ts.map { t =>
          val credit = 1000000L / n + (if (t == last) 1000000L % n else 0L)
          (t._4, convId, Some(t._1), credit)
        }
      }
    }
    val want = credits.groupBy(_._1).map { case (ch, rows) =>
      ch -> ((rows.map(_._2).distinct.length.toLong,
        rows.count(_._3.isDefined).toLong, rows.map(_._4).sum))
    }
    assert(got == want)
    // Conservation: the engine's total credit is exactly 1e6 per purchase.
    assert(got.values.map(_._3).sum == 1000000L * purchases.length)
  }

  test("q203 triangle count == naive ordered 3-way join over thresholded edges") {
    import spark.implicits._
    val Seq((nNodes, nEdges, nTri)) =
      SparkEntry.queries("q203_triangle_count")(spark, dir)
        .as[(Long, Long, Long)].collect().toSeq
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
      .as[(Long, Long)].collect().distinct
    val edges = li.groupBy(_._1).values.flatMap { rows =>
      val sk = rows.map(_._2).sorted
      for (i <- sk.indices; j <- (i + 1) until sk.length) yield (sk(i), sk(j))
    }.groupBy(identity).filter(_._2.size >= 5).keys.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    // count, not a for-yield over the Set (mapping a Set to a constant
    // would dedupe the 1s and collapse the tally to edges-with-any-apex)
    val tri = edges.toSeq.map { case (a, b) =>
      nodes.count(c => c > b && edges.contains((b, c)) && edges.contains((a, c)))
    }.sum
    assert(nNodes == nodes.size.toLong)
    assert(nEdges == edges.size.toLong)
    assert(nTri == tri.toLong)
  }

  test("q205 Gini == BigDecimal brute force over sorted customer revenue") {
    import spark.implicits._
    val Seq((nCust, totalRev, gini, topShare)) =
      SparkEntry.queries("q205_revenue_concentration")(spark, dir)
        .as[(Long, Double, Double, Double)].collect().toSeq
    val revC = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice").as[(Long, Double)].collect()
      .groupBy(_._1).map { case (ck, rows) =>
        val cents = rows.map(r => BigDecimal(r._2).setScale(2)).sum * 100
        (ck, cents.toLongExact)
      }.toSeq.sortBy(r => (r._2, r._1))
    val n = revC.length.toLong
    val s = revC.map(r => BigInt(r._2)).sum
    val a = revC.zipWithIndex.map { case ((_, c), idx) =>
      BigInt(idx + 1) * BigInt(c)
    }.sum
    val k = n / 10
    val t = revC.drop((n - k).toInt).map(r => BigInt(r._2)).sum
    assert(nCust == n)
    assert(totalRev == s.toDouble / 100.0)
    val wantGini = 2.0 * a.toDouble / (n.toDouble * s.toDouble) -
      (n + 1).toDouble / n.toDouble
    assert(gini == wantGini, s"gini $gini vs $wantGini")
    assert(topShare == t.toDouble / s.toDouble)
    assert(gini >= 0.0 && gini <= 1.0 && topShare >= 0.1)
  }

  test("q206 z-score == scalar re-derivation; guard survives a degenerate arm") {
    import spark.implicits._
    val row = SparkEntry.queries("q206_ab_test")(spark, dir)
      .as[(Long, Long, Long, Long, Option[Double], Option[Double], Double,
        Option[Double])].collect().head
    val (n0, c0, n1, c1, p0, p1, pp, z) = row
    val byUser = events.groupBy(_._2)
    val conv = byUser.map { case (uid, rows) =>
      uid -> (if (rows.count(_._4 == "purchase") >= 14) 1L else 0L)
    }
    val arm0 = conv.filter(_._1 % 2 == 0)
    val arm1 = conv.filter(_._1 % 2 == 1)
    assert(n0 == arm0.size && c0 == arm0.values.sum)
    assert(n1 == arm1.size && c1 == arm1.values.sum)
    assert(p0.contains(c0.toDouble / n0) && p1.contains(c1.toDouble / n1))
    assert(pp == (c0 + c1).toDouble / (n0 + n1))
    val wantZ = (p1.get - p0.get) /
      math.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0))
    assert(z.contains(wantZ))
    // the guard: a saturated pooled rate must yield NULL, not an ANSI
    // DIVIDE_BY_ZERO (the >= 1-purchase definition would have hit it)
    assert(!(pp == 0.0 || pp == 1.0), "threshold must split this corpus")
  }

  test("q207 Benford digits == integer-cents brute force; shares sum to 1") {
    import spark.implicits._
    val got = SparkEntry.queries("q207_benford_digits")(spark, dir)
      .as[(Int, Long, Double, Double, Double)].collect()
    val digits = Tables.orders(spark, dir).select("o_totalprice")
      .as[Double].collect()
      .map(p => (BigDecimal(p).setScale(2) * 100).toLongExact.toString.head
        .asDigit)
    val n = digits.length.toLong
    val want = digits.groupBy(identity).map { case (d, g) => d -> g.length.toLong }
    assert(got.map(r => r._1 -> r._2).toMap == want)
    got.foreach { case (d, c, share, p, dev) =>
      assert(share == c.toDouble / n)
      // compare against the literal table, not math.log10 — log10 is
      // not guaranteed correctly rounded, the literals are the contract
      assert(math.abs(p - math.log10(1.0 + 1.0 / d)) < 1e-15,
        s"benford_p for digit $d")
      assert(dev == math.abs(share - p))
    }
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
  }

  test("q208 correlation matrix == BigDecimal power-sum brute force, symmetric domain") {
    import spark.implicits._
    val got = SparkEntry.queries("q208_correlation_matrix")(spark, dir)
      .as[(String, String, Long, Option[Double])].collect()
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows = Tables.lineitem(spark, dir)
      .select(cols.head, cols.tail: _*)
      .as[(Double, Double, Double, Double)].collect()
      .map(t => Array(t._1, t._2, t._3, t._4)
        .map(v => BigDecimal(v).setScale(2)))
    val n = rows.length
    def r(i: Int, j: Int): Double = {
      val sx = rows.map(_(i)).sum; val sy = rows.map(_(j)).sum
      val sxx = rows.map(v => v(i) * v(i)).sum
      val syy = rows.map(v => v(j) * v(j)).sum
      val sxy = rows.map(v => v(i) * v(j)).sum
      val num = (BigDecimal(n) * sxy - sx * sy).toDouble
      val dx = (BigDecimal(n) * sxx - sx * sx).toDouble
      val dy = (BigDecimal(n) * syy - sy * sy).toDouble
      num / (math.sqrt(dx) * math.sqrt(dy))
    }
    assert(got.length == 6)
    got.foreach { case (a, b, gn, gr) =>
      assert(gn == n.toLong)
      val want = r(cols.indexOf(a), cols.indexOf(b))
      assert(gr.contains(want), s"corr($a,$b): $gr vs $want")
      assert(math.abs(gr.get) <= 1.0)
    }
  }

  test("q204 quota allocation sums exactly to the budget, Hamilton rule") {
    import spark.implicits._
    val got = SparkEntry.queries("q204_quota_allocation")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    val budget = 100000L
    assert(got.map(_._5).sum == budget, "allocations must sum to the budget")
    got.foreach { case (src, nDocs, nTotal, base, alloc) =>
      assert(base == budget * nDocs / nTotal, s"base for $src")
      assert(alloc == base || alloc == base + 1, s"alloc for $src")
    }
    // The +1s go to the largest remainders (ties by source name asc).
    val ranked = got.sortBy { case (src, nDocs, nTotal, _, _) =>
      (-(budget * nDocs % nTotal), src)
    }
    val spare = (budget - got.map(_._4).sum).toInt
    ranked.zipWithIndex.foreach { case ((src, _, _, base, alloc), i) =>
      val wantAlloc = if (i < spare) base + 1 else base
      assert(alloc == wantAlloc, s"Hamilton rank for $src")
    }
  }
}
