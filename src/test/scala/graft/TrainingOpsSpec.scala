package graft

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force parity + plan-shape pins for the q163-q167 training-data
  * operator batch (hard negatives, int8 quantization, contamination
  * score, epoch upsampling, curriculum buckets). The DuckDB gate
  * certifies value parity at sf0.01; these suites re-derive the math
  * independently in plain Scala and pin the physical shapes whose 100 TB
  * viability the values alone cannot prove.
  */
class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs(): Seq[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
  }

  test("q164 int8 codes, saturation and MSE match a plain-Scala re-derivation") {
    import spark.implicits._
    val got = SparkEntry.queries("q164_int8_quantization")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    assert(embs.nonEmpty && got.nonEmpty)
    embs.foreach { case (id, v) =>
      val absmax = v.foldLeft(0.0)((a, x) => math.max(a, math.abs(x.toDouble)))
      if (absmax > 0.0) {
        val scale = absmax / 127.0
        val codes = v.map(x =>
          math.min(127L, math.max(-127L, math.floor(x.toDouble / scale + 0.5).toLong)))
        val mse = v.zip(codes).foldLeft(0.0) { case (a, (x, c)) =>
          val d = x.toDouble - c.toDouble * scale; a + d * d
        } / v.size
        val (scaleQ, codeSum, codeL1, nSat, mseQ) = got(id)
        assert(scaleQ == math.floor(scale * 1e9 + 0.5).toLong, s"vec $id scale")
        assert(codeSum == codes.sum, s"vec $id code_sum")
        assert(codeL1 == codes.map(math.abs).sum, s"vec $id code_l1")
        assert(nSat == codes.count(c => c == 127L || c == -127L), s"vec $id n_sat")
        assert(mseQ == math.floor(mse * 1e12 + 0.5).toLong, s"vec $id mse")
      } else assert(!got.contains(id), s"zero vector $id must be excluded")
    }
  }

  test("q165 contamination fraction matches a plain-Scala trigram containment") {
    import spark.implicits._
    val got = SparkEntry.queries("q165_contamination_score")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def tris(t: String): Set[String] = {
      val toks = t.trim.split(" +").toSeq
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs()
    val evalSet = all.filter(_._1 % 97 == 0).flatMap(d => tris(d._2)).toSet
    val train = all.filter(_._1 % 97 != 0)
    assert(train.nonEmpty && evalSet.nonEmpty)
    train.foreach { case (id, t) =>
      val ts = tris(t)
      if (ts.isEmpty) assert(!got.contains(id), s"trigram-less doc $id must drop")
      else {
        val hits = ts.count(evalSet.contains)
        val (nTris, nHits, fq) = got(id)
        assert(nTris == ts.size && nHits == hits, s"doc $id counts")
        assert(fq == math.floor(hits.toDouble / ts.size * 1e6 + 0.5).toLong, s"doc $id frac")
      }
    }
  }

  test("q166 upsampling is deterministic, covers every doc, and extends q90's draw") {
    import spark.implicits._
    def run() = SparkEntry.queries("q166_epoch_upsampling")(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq
    val a = run(); val b = run()
    assert(a == b, "a task retry must draw identical copies")
    val perDoc = a.groupBy(_._1)
    assert(perDoc.size == docs().size, "w >= 1 for every source: every doc appears")
    perDoc.foreach { case (id, rows) =>
      val n = rows.head._3
      assert(rows.map(_._4).sorted == (1L to n), s"doc $id copy_idx must be 1..n_copies")
    }
  }

  test("q167 global rank and buckets match a driver-side full sort") {
    import spark.implicits._
    val got = SparkEntry.queries("q167_curriculum_buckets")(spark, dir)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    val exp = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
      .sortBy(p => (p._2, p._1)).zipWithIndex
      .map { case ((id, sc), i) =>
        (id, sc, i + 1L, (i.toLong * 8 / got.length).toInt)
      }.sortBy(_._1)
    assert(got.toSeq == exp.toSeq)
  }

  test("q167 plan: range exchange, no corpus-wide window (windows touch only pid metadata)") {
    val df = SparkEntry.queries("q167_curriculum_buckets")(spark, dir)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"global order must be a range exchange:\n$plan")
    val winSpecs = "Window \\[[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(plan).toList
    winSpecs.foreach(w => assert(w.contains("pid") || w.contains("cnt"),
      s"window over non-metadata input (single-task corpus sort):\n$w"))
  }

  test("q163 plan: one window pass serves top-1 and the exclusion count; no cartesian") {
    val df = SparkEntry.queries("q163_hard_negative_mining")(spark, dir)
    val out = df.collect()
    assert(out.nonEmpty)
    // AdaptiveSparkPlan.toString prints Final AND Initial plan sections —
    // count WindowExecs in the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), plan)
    // row_number and the dup count must share ONE WindowExec (same
    // partitioning + ordering -> one exchange, one sort)
    assert(plan.split("Window \\[").length - 1 == 1,
      s"expected exactly one WindowExec:\n$plan")
    // every emitted hard negative sits below the near-dup threshold
    out.foreach { r =>
      assert(r.getAs[Double]("cosine_sim") < 0.35, r.toString)
    }
  }

  test("q168 keeps exactly the top-30% integer-rank slice per source, one window pass") {
    import spark.implicits._
    val df = SparkEntry.queries("q168_source_quality_gate")(spark, dir)
    val got = df.as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // per source: ranks are 1..floor-ish contiguous and sized rank*10 <= n*3
    got.groupBy(_._2).foreach { case (src, rows) =>
      val n = rows.head._5
      val kept = rows.map(_._4).sorted
      assert(kept == (1L to kept.size), s"$src ranks not contiguous from 1")
      assert(kept.size * 10 <= n * 3 && (kept.size + 1) * 10 > n * 3,
        s"$src kept ${kept.size} of $n")
      // kept scores dominate: rank order must follow score_q desc
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank == byRank.sorted(Ordering[Long].reverse), s"$src rank/score order")
    }
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.split("Window \\[").length - 1 == 1,
      s"rank and source count must share one WindowExec:\n$plan")
  }

  test("q171 LmIndex: a REPLAYED batch replaces its delta; maintained counts == one-shot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("lmidx").toString
    val docBi = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", expr("split(trim(text), ' +')"))
      .where(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("bi"))
      .withColumn("w1", split(col("bi"), " ").getItem(0))
    val idx = graft.operators.LmIndex(root)
    (0 to 3).foreach { k =>
      idx.compactBefore(spark, k, maxDeltas = 1)
      idx.appendBatch(spark, docBi.where(col("doc_id") % 4 === k), k)
    }
    // checkpoint replay of batch 2: the grouped delta must be REPLACED,
    // never double-counted
    idx.appendBatch(spark, docBi.where(col("doc_id") % 4 === 2), 2)
    val gotBi = idx.counts(spark, "bi")
      .as[(String, Long)].collect().toMap
    val gotUni = idx.counts(spark, "uni")
      .as[(String, Long)].collect().toMap
    val rows = docBi.select("bi", "w1").as[(String, String)].collect()
    val expBi = rows.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expUni = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    assert(gotBi == expBi, "bi counts diverge from one-shot recompute")
    assert(gotUni == expUni, "uni counts diverge from one-shot recompute")
  }

  test("q176 partitioned layout: the lang predicate lands in PartitionFilters") {
    val df = SparkEntry.queries("q176_partition_pruned_scan")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"lang filter must prune partitions, not scan-and-filter:\n$plan")
    // the layout on disk is directory-encoded per language
    val out = Q.scratch(spark, "q176_part", dir)
    val langDirs = Option(new java.io.File(out).listFiles()).get
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(langDirs.length == 5, langDirs.mkString(","))
  }

  test("q178 bucketed join: no exchange below the SMJ; only the aggregate shuffles") {
    val df = SparkEntry.queries("q178_bucketed_colocated_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"), s"bucket layout must drive an SMJ:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(([^,)]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(_.startsWith("c_mktsegment")),
      s"only the final aggregate may exchange; found: $exchanges\n$plan")
  }

  test("q181 SketchIndex: replayed batch replaces its delta; merged sketches == one-shot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sketchidx").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val idx = graft.operators.SketchIndex(root)
    (0 to 3).foreach { k =>
      idx.compactBefore(spark, k, maxDeltas = 1)
      idx.appendBatch(spark, ev.where(col("event_id") % 4 === k), k)
    }
    // checkpoint replay of batch 3: grouped delta replaced, never doubled
    idx.appendBatch(spark, ev.where(col("event_id") % 4 === 3), 3)
    // CMS cells == one-shot (counts additive; the one-shot cell value is
    // the sum over types colliding into the cell)
    val gotCms = idx.cms(spark)
      .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val perType = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("etk", graft.operators.SketchIndex.etkCol)
      .select("etk", "event_type", "n")
      .as[(Long, String, Long)].collect()
    val p = graft.operators.SketchIndex.P
    val w = graft.operators.SketchIndex.W
    val expCms = graft.operators.SketchIndex.seeds.zipWithIndex.flatMap {
      case ((a, b0), i) =>
        perType.map { case (etk, _, n) =>
          (i, java.lang.Math.floorMod(java.lang.Math.floorMod(a * etk + b0, p), w)) -> n
        }
    }.groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).sum }
    assert(gotCms == expCms, "cms cells diverge from one-shot")
    // KMV: the k-th smallest distinct hash per type == one-shot
    val gotKmv = idx.kmv(spark)
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (t, hs) => t -> hs.map(_._2).sorted.toSeq }
    val expHashes = ev.select(col("event_type"),
        pmod(lit(950706376L) * col("user_id") + lit(12345L), lit(p)).as("h"))
      .distinct().as[(String, Long)].collect().groupBy(_._1)
      .map { case (t, hs) =>
        t -> hs.map(_._2).sorted.take(graft.operators.SketchIndex.K).toSeq
      }
    gotKmv.foreach { case (t, hs) =>
      assert(hs.take(graft.operators.SketchIndex.K) == expHashes(t),
        s"$t: maintained k-min pool diverges from one-shot k smallest")
    }
  }

  test("q169 bigram fluency matches a plain-Scala corpus LM") {
    import spark.implicits._
    val got = SparkEntry.queries("q169_bigram_fluency")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val all = docs().map { case (id, t) => id -> t.trim.split(" +").toSeq }
    val bis = all.flatMap { case (id, toks) =>
      if (toks.size < 2) Nil else toks.sliding(2).map(p => id -> (p(0), p(1))).toSeq
    }
    val cBi = bis.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val cUni = bis.groupBy(_._2._1).map { case (k, v) => k -> v.size.toLong }
    assert(bis.nonEmpty && got.nonEmpty)
    bis.groupBy(_._1).foreach { case (id, rows) =>
      val pqs = rows.map { case (_, b) =>
        math.floor(cBi(b).toDouble / cUni(b._1).toDouble * 1e9 + 0.5).toLong
      }
      val (nB, sumP, fq) = got(id)
      assert(nB == pqs.size && sumP == pqs.sum && fq == pqs.sum / pqs.size, s"doc $id")
    }
  }
}
