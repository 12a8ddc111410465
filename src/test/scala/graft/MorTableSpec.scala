package graft

import graft.operators.{DeltaStore, MorTable}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** MorTable: LSM merge-on-read last-write-wins table — fold order
  * across batches, replay idempotence, compaction covering rules, and
  * bucket-pruned point lookups. */
class MorTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_mor_").toString

  private def mor(root: String) =
    MorTable(DeltaStore(root, buckets = 8), Seq("k"), schema)

  private def rows(df: DataFrame): Seq[(String, Int)] =
    df.select("k", "v").as[(String, Int)].collect().sorted.toSeq

  private val schema = Seq(("x", 0)).toDF("k", "v").schema

  test("later batches win per key; untouched keys survive") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("b", 2)).toDF("k", "v"), 1)
    t.upsert(Seq(("a", 3), ("d", 3)).toDF("k", "v"), 2)
    assert(rows(t.snapshot(spark)) ==
      Seq(("a", 3), ("b", 2), ("c", 1), ("d", 3)))
  }

  test("re-upserting a batch id replaces its own delta (replay idempotence)") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    val before = rows(t.snapshot(spark))
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1) // checkpoint replay of batch 1
    assert(rows(t.snapshot(spark)) == before)
    assert(before == Seq(("a", 2), ("b", 1)))
  }

  test("compaction preserves the snapshot and later deltas outrank the base") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    val before = rows(t.snapshot(spark))
    t.compact(spark)
    // deltas folded away: exactly one live base and no live delta remain
    val live = t.store.live()
    assert(live.count(_._1) == 1, live)
    assert(!live.exists(!_._1), live)
    assert(rows(t.snapshot(spark)) == before)
    t.upsert(Seq(("a", 9)).toDF("k", "v"), 2)
    assert(rows(t.snapshot(spark)) == Seq(("a", 9), ("b", 1)))
  }

  test("lookup equals the snapshot restricted to the probe keys") {
    val t = mor(tmp())
    t.upsert((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"), 0)
    t.upsert(Seq(("k7", 700)).toDF("k", "v"), 1)
    val probe = Seq("k7", "k42", "nope").toDF("k")
    assert(rows(t.lookup(spark, probe)) ==
      Seq(("k42", 42), ("k7", 700)))
  }

  test("a snapshot narrowed before the fold equals the snapshot narrowed after it") {
    val t = mor(tmp())
    t.upsert((1 to 30).map(i => (s"k$i", 0)).toDF("k", "v"), 0)
    t.upsert((10 to 40).map(i => (s"k$i", 1)).toDF("k", "v"), 1)
    t.compact(spark)
    t.delete(Seq("k5", "k12", "k33", "k34").toDF("k"), 2)
    t.upsert(((20 to 25).map(i => (s"k$i", 3)) :+ (("k5", 3))).toDF("k", "v"), 3)
    // a key-derived group semi-joined against the kept groups: the
    // rollup's shape of restriction
    val groups = Seq(0, 2).toDF("g")
    def keep(df: DataFrame) =
      df.withColumn("g", $"k".substr(2, 9).cast("int") % 3)
        .join(org.apache.spark.sql.functions.broadcast(groups), Seq("g"), "left_semi")
    val narrowed = t.snapshot(spark, keep)
    val want = rows(keep(t.snapshot(spark)))
    assert(want.map(_._1).toSet == (1 to 40).filter(_ % 3 != 1)
      .filterNot(Set(12, 33)).map(i => s"k$i").toSet)
    assert(rows(narrowed) == want)
    // the semi join runs below the last-write-wins Window, so the fold
    // covers the kept groups only; with `keep` applied to the folded
    // frame instead, Catalyst leaves the join above the Window's
    // `_rn = 1` filter and this fails
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val window = narrowed.queryExecution.optimizedPlan
      .collectFirst { case w: Window => w }
    assert(window.isDefined)
    assert(window.get.child.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    }, narrowed.queryExecution.optimizedPlan)
  }

  test("snapshotAsOf time-travels back to the last compact, not past it") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    t.upsert(Seq(("b", 3)).toDF("k", "v"), 2)
    assert(rows(t.snapshotAsOf(spark, 1)) == Seq(("a", 2), ("b", 1)))
    assert(rows(t.snapshotAsOf(spark, 0)) == Seq(("a", 1), ("b", 1)))
    t.compact(spark) // folds through batch 2: history below is gone
    assert(rows(t.snapshotAsOf(spark, 2)) == Seq(("a", 2), ("b", 3)))
    intercept[IllegalArgumentException] {
      t.snapshotAsOf(spark, 1).collect()
    }
  }

  test("delete tombstones hide keys now, time travel still sees them, compaction removes the bytes") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.delete(Seq("a").toDF("k"), 1)
    assert(rows(t.snapshot(spark)) == Seq(("b", 1)))
    assert(rows(t.snapshotAsOf(spark, 0)) == Seq(("a", 1), ("b", 1)))
    // a later upsert resurrects the key
    t.upsert(Seq(("a", 5)).toDF("k", "v"), 2)
    assert(rows(t.snapshot(spark)) == Seq(("a", 5), ("b", 1)))
    // delete again, then compact: the key's bytes physically leave storage
    t.delete(Seq("a").toDF("k"), 3)
    t.compact(spark)
    assert(rows(t.snapshot(spark)) == Seq(("b", 1)))
    val base = t.store.live().collectFirst { case (true, 3, d) => d.getPath }
    assert(base.isDefined, t.store.live())
    assert(spark.read.parquet(base.get)
      .where($"k" === "a").count() == 0, "no tombstone or version of 'a' survives compaction")
    // ...and no file left anywhere under the store holds it, without a heal()
    val parts = Files.walk(java.nio.file.Paths.get(root)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty)
    assert(parts.forall(p => spark.read.parquet(p).where($"k" === "a").count() == 0),
      s"deleted key 'a' still on disk in one of $parts")
  }

  /** The stream upsert body: each micro-batch, deduped on the key,
    * becomes the delta of its stream batch id. */
  private def upsertBody(t: MorTable)(b: DataFrame, id: Int): Unit =
    t.upsert(b.dropDuplicates("k"), id)

  test("streaming sink drains, resumes with new data, and late batches win") {
    val root = tmp()
    val in = root + "/in"
    val t = mor(root + "/tbl")
    Seq(("a", 1), ("b", 1)).toDF("k", "v").write.parquet(in)
    graft.streaming.Replay.drain(spark, root, schema)(upsertBody(t))
    assert(rows(t.snapshot(spark)) == Seq(("a", 1), ("b", 1)))
    // second drain from the SAME checkpoint: only the new file, next batch id
    Seq(("a", 9), ("c", 9)).toDF("k", "v").write.mode("append").parquet(in)
    graft.streaming.Replay.drain(spark, root, schema)(upsertBody(t))
    assert(rows(t.snapshot(spark)) ==
      Seq(("a", 9), ("b", 1), ("c", 9)))
  }

  test("compactBefore in a drain folds the committed tail; folded state stays right") {
    val root = tmp()
    val in = root + "/in"
    val tbl = root + "/tbl"
    val t = mor(tbl)
    val fired = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    def body(b: DataFrame, id: Int): Unit = {
      fired += id -> t.compactBefore(spark, id, maxDeltas = 1)
      upsertBody(t)(b, id)
    }
    Seq(("a", 1)).toDF("k", "v").write.parquet(in)
    graft.streaming.Replay.drain(spark, root, schema, perFile = true)(body)
    Seq(("b", 2)).toDF("k", "v").write.mode("append").parquet(in)
    Seq(("a", 3)).toDF("k", "v").write.mode("append").parquet(in)
    graft.streaming.Replay.drain(spark, root, schema, perFile = true)(body)
    // batches 0,1,2 ran; the policy fired at the start of batch 2 →
    // base 1 + delta 2
    assert(fired == Seq(0 -> false, 1 -> false, 2 -> true))
    val live = t.store.live().map { case (isBase, id, _) => (isBase, id) }
    assert(live.contains((true, 1)), s"expected base 1 in $live")
    assert(!live.contains((false, 0)) && !live.contains((false, 1)), live.toString)
    assert(rows(t.snapshot(spark)) == Seq(("a", 3), ("b", 2)))
  }

  test("manifest protocol: same LWW/compact/as-of/replay semantics, zero renames of data") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    assert(rows(t.snapshot(spark)) == Seq(("a", 2), ("b", 1)))
    assert(rows(t.snapshotAsOf(spark, 0)) == Seq(("a", 1), ("b", 1)))
    // replay of batch 1 replaces its manifest entry (new epoch prefix)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    assert(rows(t.snapshot(spark)) == Seq(("a", 2), ("b", 1)))
    t.compact(spark)
    assert(rows(t.snapshot(spark)) == Seq(("a", 2), ("b", 1)))
    // a replayed delta at/below the base id is ignored by the covering rule
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    t.upsert(Seq(("b", 9)).toDF("k", "v"), 2)
    assert(rows(t.snapshot(spark)) == Seq(("a", 2), ("b", 9)))
    // layout is pointer + manifests + data prefixes — no delta=/base= dirs
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names.contains("_current") && names.contains("data"), names.toString)
    assert(!names.exists(n => n.startsWith("delta=") || n.startsWith("base=")))
  }

  test("manifest protocol: unreferenced prefixes are invisible and GC'd by heal") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1)).toDF("k", "v"), 0)
    // simulate a crash mid-append: a data prefix written but never committed
    val orphan = new java.io.File(root, "data/d9_e99/gbucket=0")
    orphan.mkdirs()
    Seq(("zz", 666)).toDF("k", "v").write.mode("overwrite")
      .parquet(orphan.getPath)
    assert(rows(t.snapshot(spark)) == Seq(("a", 1)), "orphan invisible")
    t.store.heal()
    assert(!new java.io.File(root, "data/d9_e99").exists(), "orphan GC'd")
    assert(rows(t.snapshot(spark)) == Seq(("a", 1)))
  }

  test("schema evolution: a column added in later deltas null-fills older ones") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    val wide = Seq(("b", 2, "x")).toDF("k", "v", "w")
    t.upsert(wide, 1)
    val tw = t.copy(schema = wide.schema)
    val got = tw.snapshot(spark)
      .select("k", "v", "w").as[(String, Int, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 1, None), ("b", 2, Some("x"))))
    // as-of reads stay correct across the schema boundary, in both
    // directions: the wide schema over pre-widening history null-fills,
    // and the fold still orders by batch
    val asOf0 = tw.snapshotAsOf(spark, 0)
      .select("k", "v", "w").as[(String, Int, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(asOf0 == Seq(("a", 1, None), ("b", 1, None)))
    // compaction folds across the boundary under the wide schema
    tw.compact(spark)
    val folded = tw.snapshot(spark)
      .select("k", "v", "w").as[(String, Int, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(folded == got)
  }

  test("schema evolution: SAFE WIDENING (int->long, decimal precision growth) is exact across the boundary") {
    import org.apache.spark.sql.types._
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0) // v: int
    val wide = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    // batch 1 writes under the widened schema, with a value only the
    // wide type can hold
    t.upsert(Seq(("b", 3L), ("c", 9000000000L)).toDF("k", "v"), 1)
    val tw = t.copy(schema = wide)
    def snap() = tw.snapshot(spark)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(snap() == Seq(("a", 1L), ("b", 3L), ("c", 9000000000L)),
      "int history must read exactly under the widened long schema")
    // as-of back across the widening boundary
    val asOf0 = tw.snapshotAsOf(spark, 0)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(asOf0 == Seq(("a", 1L), ("b", 2L)))
    // compaction folds mixed-width history under the wide schema
    tw.compact(spark)
    assert(snap() == Seq(("a", 1L), ("b", 3L), ("c", 9000000000L)))

    // decimal precision growth: decimal(5,2) history under decimal(9,2)
    val root2 = tmp()
    val t2 = mor(root2)
    val d52 = Seq(("a", BigDecimal("123.45"))).toDF("k", "v")
      .select($"k", $"v".cast(DecimalType(5, 2)).as("v"))
    t2.upsert(d52, 0)
    val wideDec = StructType(Seq(
      StructField("k", StringType), StructField("v", DecimalType(9, 2))))
    val d92 = Seq(("b", BigDecimal("1234567.89"))).toDF("k", "v")
      .select($"k", $"v".cast(DecimalType(9, 2)).as("v"))
    t2.upsert(d92, 1)
    val got2 = t2.copy(schema = wideDec).snapshot(spark)
      .as[(String, BigDecimal)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq(("a", BigDecimal("123.45")), ("b", BigDecimal("1234567.89"))),
      "decimal(5,2) history must read exactly under decimal(9,2)")
  }

  test("schema evolution rejects NARROWING loudly (long history under an int schema)") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 9000000000L)).toDF("k", "v"), 0) // v: long
    val narrow = Seq(("x", 0)).toDF("k", "v").schema    // v: int
    intercept[Exception] {
      t.copy(schema = narrow).snapshot(spark).collect()
    }
  }

  test("schema evolution rejects TYPE changes loudly at scan time (no silent coercion)") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 1)).toDF("k", "v"), 0)
    // reading the int column under a string schema must throw when the
    // rows are actually materialized — never silently coerce
    val retyped = Seq(("x", "s")).toDF("k", "v").schema
    intercept[Exception] {
      t.copy(schema = retyped).snapshot(spark).collect()
    }
  }

  test("opening a store under the wrong commit protocol fails loudly instead of reading empty") {
    // a store in the retired per-delta rename layout holds no manifest
    val root = tmp()
    Seq(("a", 1)).toDF("k", "v").write.parquet(root + "/delta=0/gbucket=0")
    intercept[IllegalArgumentException] {
      mor(root).snapshot(spark).collect()
    }
  }

  test("bloom sidecars skip deltas that cannot contain a probe key, without changing any result") {
    val root = tmp()
    val t = MorTable(DeltaStore(root, buckets = 8), Seq("k"), schema,
      bloomItems = Some(1000L))
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("c", 2)).toDF("k", "v"), 1)
    t.upsert(Seq(("d", 3)).toDF("k", "v"), 2)
    t.delete(Seq("a").toDF("k"), 3)
    // probing d keeps its own delta and drops the c-only delta
    // (xxhash64 and the bloom are deterministic, so this is a fixed
    // outcome, not a flaky 1%-fpp draw)
    val keptD = t.bloomLiveEntries(Seq("d").toDF("k"))
    assert(keptD.exists(e => !e._1 && e._2 == 2))
    assert(!keptD.exists(e => !e._1 && e._2 == 1),
      s"the c-only delta cannot contain 'd': $keptD")
    // a probe for a DELETED key must keep the tombstone delta — a
    // skipped tombstone would resurrect the old version
    val keptA = t.bloomLiveEntries(Seq("a").toDF("k"))
    assert(keptA.exists(e => !e._1 && e._2 == 3))
    assert(t.lookup(spark, Seq("a").toDF("k")).count() == 0,
      "delta skipping must not hide the delete")
    // identical results to the same store read without blooms
    val plain = mor(root)
    val probe = Seq("a", "b", "c", "d", "nope").toDF("k")
    assert(rows(t.lookup(spark, probe)) ==
      rows(plain.lookup(spark, probe)))
    // after compaction the base (no bloom) is always read
    t.compact(spark)
    assert(rows(t.lookup(spark, probe)) ==
      Seq(("b", 1), ("c", 2), ("d", 3)))
  }

  test("change feed labels inserts/updates/deletes between two batches and skips no-op rewrites") {
    val t = mor(tmp())
    t.upsert(Seq(("a", 1), ("b", 1), ("c", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("b", 2)).toDF("k", "v"), 1)
    t.delete(Seq("c").toDF("k"), 2)
    // batch 3 re-upserts "a" with the SAME value — touched but unchanged
    t.upsert(Seq(("a", 1), ("d", 4)).toDF("k", "v"), 3)
    def feed(from: Int, to: Int): Seq[(String, String, Option[Int])] =
      t.changes(spark, from, to)
        .select("k", "op", "v").as[(String, String, Option[Int])]
        .collect().sortBy(_._1).toSeq
    assert(feed(0, 3) == Seq(
      ("b", "update", Some(2)),
      ("c", "delete", Some(1)),
      ("d", "insert", Some(4))),
      "b updated, c deleted with its OLD value, d inserted; a's " +
        "same-value re-upsert must not appear")
    assert(feed(2, 3) == Seq(("d", "insert", Some(4))),
      "a's same-value rewrite is not a change")
    assert(feed(3, 3).isEmpty, "an empty range is an empty feed")
    // a key inserted AND deleted inside the range nets to nothing
    t.upsert(Seq(("e", 9)).toDF("k", "v"), 4)
    t.delete(Seq("e").toDF("k"), 5)
    assert(feed(3, 5).isEmpty)
  }

  test("exportSnapshot hands off a plain-parquet snapshot with provenance, current and as-of") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1), ("b", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("a", 2)).toDF("k", "v"), 1)
    t.delete(Seq("b").toDF("k"), 2)
    // current export: readable WITHOUT the library, fold already paid
    t.exportSnapshot(spark, root + "/exp")
    val plain = spark.read.parquet(root + "/exp")
      .select("k", "v").as[(String, Int)].collect().sorted.toSeq
    assert(plain == Seq(("a", 2)))
    val prov = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root + "/exp", "_PROVENANCE").toPath))
    assert(prov.contains("asOfBatch=2") && prov.contains("keys=k"), prov)
    // as-of export pins the pre-delete horizon
    t.exportSnapshot(spark, root + "/exp1", asOf = Some(1))
    assert(spark.read.parquet(root + "/exp1")
      .select("k", "v").as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 2), ("b", 1)))
    // partitioned layout for downstream pruning
    t.exportSnapshot(spark, root + "/expp", partitionCols = Seq("k"))
    assert(new java.io.File(root + "/expp").listFiles()
      .exists(_.getName == "k=a"))
  }

  test("rename-protocol compact GCs replayed deltas already covered by an older base") {
    val root = tmp()
    val t = mor(root)
    t.upsert(Seq(("a", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("b", 2)).toDF("k", "v"), 1)
    t.compact(spark) // base 1
    // checkpoint replay of batch 0 after the compact: covered, dead bytes
    t.upsert(Seq(("a", 1)).toDF("k", "v"), 0)
    t.upsert(Seq(("c", 3)).toDF("k", "v"), 2)
    t.compact(spark) // base 2 — must also GC the dead delta 0
    val base = t.store.live().collectFirst { case (true, 2, d) => d.getName }
    val left = new java.io.File(root, "data").list().toSeq
    assert(base.isDefined && left == base.toSeq, left.toString)
    assert(rows(t.snapshot(spark)) ==
      Seq(("a", 1), ("b", 2), ("c", 3)))
  }
}
