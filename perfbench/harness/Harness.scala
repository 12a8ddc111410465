package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry, Tables}

/** JVM side of the benchmark: one closed-loop client that drives the
  * engine only through its public entry points (`Sessions.local()`,
  * `Tables.df`, `SparkEntry.queries` and a `noop` write of the returned
  * frame) and times those calls from outside.
  *
  * `java perfbench.Harness --data D --out O --orders F --seconds S
  *   --trace 0|1`
  *
  *  - `--orders F`: one pass per line, query names in the order to run
  *    them. Line 1 is the set-up's warm-up pass; timed pass `i` uses
  *    line `i + 2` (wrapping).
  *  - set-up, in the cold JVM: `Sessions.local()`, the table footer
  *    warm-up and one untimed pass. That pass, the first execution of
  *    every query in the run, writes each result to `O/check/<name>`
  *    for the oracle comparison. One more untimed pass follows, with the
  *    same order and a `noop` sink, so timing starts past the steepest
  *    part of JIT warm-up.
  *  - timed passes repeat until `S` seconds have elapsed (at least
  *    three: the first one after set-up runs slower than the rest, and
  *    a median over three leaves it out).
  *    With `--trace 1`, even passes run with the listeners of [[Trace]]
  *    registered and odd passes without (at least two of each), so the
  *    tracing overhead is a same-process comparison.
  *
  * Raw samples go to `O/samples.json` and, when traced, spans and
  * listener records to `O/trace.json`; the Python side computes every
  * statistic. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val orders = Files.readAllLines(Paths.get(opt("orders"))).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toVector).toVector
    Files.createDirectories(Paths.get(out))

    val queries = SparkEntry.queries
    val clock = new Clock
    val trace = if (traced) Some(new Trace(clock)) else None
    val heap = new OldGenPeak
    val runSpan = clock.open("run", "run", 0L)

    // ---- set-up ----------------------------------------------------------
    val setupSpan = clock.open("setup", "setup", runSpan)
    val t0 = System.nanoTime()
    val spark = Sessions.local()
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    trace.foreach(_.attach(spark))
    val warmSpan = clock.open("warm", "tables", setupSpan)
    spark.sparkContext.setLocalProperty(Trace.SpanKey, warmSpan.toString)
    Tables.all.foreach(t => Tables.df(spark, data, t).count())
    spark.sparkContext.setLocalProperty(Trace.SpanKey, null)
    clock.close(warmSpan)
    val t2 = System.nanoTime()
    val setupFailed = orders.head.count(q =>
      runQuery(spark, queries, data, q, clock, setupSpan, Some(s"$out/check")).isEmpty)
    val t3 = System.nanoTime()
    clock.close(setupSpan)
    val setup = Map("total_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
      "warm_s" -> (t2 - t1) / 1e9, "pass_s" -> (t3 - t2) / 1e9, "failed" -> setupFailed)

    // ---- one more untimed pass: the JVM's second pass still runs 15-35 %
    // slower than its fourth on 4 cores, so timing starts at the third
    trace.foreach(_.detach(spark))
    val settleSpan = clock.open("settle", "settle", runSpan)
    val ts0 = System.nanoTime()
    val settleFailed = orders.head.count(q =>
      runQuery(spark, queries, data, q, clock, settleSpan).isEmpty)
    val settle = Map("pass_s" -> (System.nanoTime() - ts0) / 1e9, "failed" -> settleFailed)
    clock.close(settleSpan)

    // ---- timed passes ----------------------------------------------------
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs()
    val loop0 = System.nanoTime()
    val passes = Vector.newBuilder[Map[String, Any]]
    val minPasses = if (traced) 4 else 3
    var p = 0
    while (p < minPasses || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val on = traced && p % 2 == 0
      if (on) trace.foreach(_.attach(spark))
      val passSpan = clock.open("pass", s"pass$p", runSpan)
      val tp0 = System.nanoTime()
      val execs = orders(1 + p % (orders.length - 1)).map { q =>
        val qs = clock.open("query", q, passSpan)
        val r = runQuery(spark, queries, data, q, clock, qs)
        clock.close(qs)
        if (on) trace.foreach(_.afterQuery(spark, qs))
        Map("name" -> q, "ok" -> r.isDefined, "body_s" -> r.fold(-1.0)(_._1),
          "sink_s" -> r.fold(-1.0)(_._2), "span" -> qs)
      }
      val passS = (System.nanoTime() - tp0) / 1e9
      clock.close(passSpan)
      if (on) trace.foreach(_.detach(spark))
      passes += Map("pass_s" -> passS, "traced" -> on, "span" -> passSpan,
        "queries" -> execs)
      p += 1
    }
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcLoop = gcMs() - gc0
    heap.stop()
    clock.close(runSpan)

    writeJson(s"$out/samples.json", Map(
      "setup" -> setup, "settle" -> settle, "passes" -> passes.result(),
      "cpu_s" -> cpuS, "gc_ms" -> gcLoop, "heap_old_peak_mb" -> heap.peakMb,
      "oracle" -> orders.head.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    trace.foreach { t => t.drain(); writeJson(s"$out/trace.json", t.records) }
    spark.stop()
  }

  /** One timed execution: the registry call, then the `noop` write, or
    * a parquet write to `check/q` when a check directory is given.
    * Returns (body seconds, sink seconds), or None when it threw. */
  def runQuery(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame], data: String,
      q: String, clock: Clock, parent: Long,
      check: Option[String] = None): Option[(Double, Double)] = {
    val sc = spark.sparkContext
    try {
      val b = clock.open("body", q, parent)
      sc.setLocalProperty(Trace.SpanKey, b.toString)
      val t0 = System.nanoTime()
      val df = queries(q)(spark, data)
      val t1 = System.nanoTime()
      clock.close(b)
      val s = clock.open("sink", q, parent)
      sc.setLocalProperty(Trace.SpanKey, s.toString)
      check match {
        case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$q")
        case None => df.write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      clock.close(s)
      Some(((t1 - t0) / 1e9, (t2 - t1) / 1e9))
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $q failed: $e"); None
    } finally sc.setLocalProperty(Trace.SpanKey, null)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(value))
}

/** Span clock: epoch microseconds, from one wall-clock reading plus
  * `nanoTime` offsets, so span bounds are monotonic and comparable with
  * the epoch-millisecond times in Spark's listener events. Spans stay in
  * memory until the run ends. */
final class Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val spans = new java.util.concurrent.ConcurrentHashMap[Long, Clock.Span]
  private val next = new java.util.concurrent.atomic.AtomicLong(0L)

  def open(kind: String, name: String, parent: Long): Long = {
    val id = next.incrementAndGet()
    spans.put(id, Clock.Span(id, kind, name, parent, nowUs))
    id
  }
  def close(id: Long): Unit = spans.get(id).end_us = nowUs
  def all: Seq[Clock.Span] = spans.values.asScala.toSeq.sortBy(_.id)
}

object Clock {
  final case class Span(id: Long, kind: String, name: String, parent: Long,
      start_us: Long, var end_us: Long = -1L)
}

/** Largest old-generation occupancy reported after any GC, from creation
  * until `stop()`. Read from the GC notifications' after-collection pool
  * usage, so no collection is forced. */
final class OldGenPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var on = true
  @volatile var peakMb: Double = 0.0
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old") || pool.contains("Tenured"))
            peakMb = math.max(peakMb, u.getUsed / 1048576.0)
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def stop(): Unit = on = false
}
