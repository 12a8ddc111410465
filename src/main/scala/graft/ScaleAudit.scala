package graft

/** Scale-growth audit (SCALING.md): time a fixed query set on the two
  * [[ScaleGen]] corpora and print one JSON line of per-query times +
  * ratios. `runMain graft.ScaleAudit <dirA> <dirB> [passes] [prefixes]`
  * — `prefixes` (comma-separated, e.g. `q38,q49,q55`) restricts the
  * measured set, for targeted deep-scale runs (1x vs 100x) where the
  * full set would take too long.
  *
  * Method: all tables of BOTH corpora are footer-warmed first; the 1x
  * suite runs before the 10x suite so the JIT is hot by the time any
  * 10x sample is taken (inflating 10x times would bias AGAINST the
  * linearity claim, never for it); `passes` full interleaved passes per
  * scale (Bench's anti-contention discipline), per-query MIN reported.
  * The ratio column is what SCALING.md reads: ~10 means the plan grew
  * with the data; ~100 on an all-queries x all-candidates query means
  * the DATA grew quadratically while per-query work stayed linear —
  * the distinction the audit exists to surface.
  */
object ScaleAudit {

  /** The round-5 verdict's worst-5 (q85/q92/q84/q95/q33) + the dedup /
    * ANN family. Prefixes resolve against the registry. */
  val measured: Seq[String] = Seq(
    "q32", "q33", "q34", "q35", "q36", // shingle/minhash dedup family
    "q37", "q38", "q49", "q55", "q98", // embedding ANN family
    "q62", "q84", "q88", "q95",        // components + curation composites
    "q85", "q92", "q105",              // rollup replay: waves / stream / deferred view
    "q106", "q107", "q111",            // MOR deletes/time-travel + pruned/bloom point lookups
    "q100",                            // index-intersection scan
    "q103", "q104", "q108", "q109",    // incremental index/stats maintenance
    "q110", "q112",                    // MOR change feed + feed-maintained view
    "q99",                             // count-min heavy hitters
    "q101", "q102",                    // learned ANN serve cost (artifacts
                                       // pre-trained by pass 1; min-of-passes
                                       // reports the train-once-serve-many
                                       // path the sidecars exist for)
    "q114", "q115",                    // incremental IVF lists + streaming
                                       // CDC->view (q113/q116 are excluded by
                                       // design: their generated media corpora
                                       // are fixed-size decode gates, not
                                       // scale-sensitive workloads)
    "q122",                            // native as-of exec (family
                                       // representative; q123 broadcast is
                                       // dim-side-only BY DESIGN — its right
                                       // side here grows with the corpus and
                                       // would OOM like any fact-sized
                                       // broadcast, see SCALING.md r11)
    "q126", "q128", "q130",            // time-series family representatives:
                                       // spine+2-frame gap fill, recursive
                                       // keyed EWMA fold, and its 4-batch
                                       // incremental maintenance
    "q125",                            // FUSED nearest as-of (r12): one
                                       // merge pass for both directions
    "q138", "q140",                    // r12 feature family reps: 5-power-sum
                                       // rolling corr, cross-sectional winsor
    "q143", "q144",                    // BM25 zero-shuffle scoring + inverted
                                       // postings build/search
    "q145",                            // streaming watermark dedup replay
    "q146", "q147",                    // native + broadcast band join
                                       // (attribution via the custom exec)
    "q149", "q150",                    // cross-sectional median/MAD;
                                       // running-distinct ranking rewrite
    "q184", "q189", "q193",            // r15 reps: salted band, drift TVD
                                       // (bucket-grain exchange), PIT probe
    "q198", "q199", "q203",            // basket pairs (order-grain self-join),
                                       // sweep line (minute-grain window),
                                       // thresholded triangles (oriented wedges)
    "q205", "q208",                    // Gini via q167 global rank;
                                       // one-pass correlation matrix
    "q209", "q213")                    // r16 reps: incremental SCD2
                                       // (run-fragment stitch), rank-sum
                                       // U (dollar-grain midranks)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleAudit <dirA> <dirB> [passes] [prefixes]")
    val dir1 = args(0)
    val dir10 = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val subset =
      if (args.length > 3) args(3).split(",").map(_.trim).toSeq else measured
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    val names = subset.map { p =>
      SparkEntry.queries.keys.toSeq.sorted.find(_.startsWith(p))
        .getOrElse(sys.error(s"no query matches prefix $p"))
    }
    Seq(dir1, dir10).foreach { d =>
      Tables.all.foreach(t => Tables.df(spark, d, t).count())
    }

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      // shuffle files are only reclaimed when the ContextCleaner sees
      // their ShuffleDependency collected — at deep scale (1x vs 100x)
      // the accumulated spills of a whole suite otherwise fill the disk
      // before the run ends; a driver GC between queries bounds the
      // footprint to one query's shuffles (outside the timed window)
      System.gc()
      t
    }

    def suite(dir: String): Map[String, Double] = {
      val samples = collection.mutable.Map(names.map(_ -> Vector.empty[Double]): _*)
      for (_ <- 1 to passes; n <- names)
        samples(n) = samples(n) :+ time(n, dir)
      samples.view.mapValues(_.min).toMap
    }

    val t1 = suite(dir1)   // also serves as the JIT warm-up for 10x
    val t10 = suite(dir10)
    val rows = names.map { n =>
      f""""$n":{"t1x":${t1(n)}%.3f,"t10x":${t10(n)}%.3f,"ratio":${t10(n) / t1(n)}%.2f}"""
    }
    println(s"""{"passes":$passes,"queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
