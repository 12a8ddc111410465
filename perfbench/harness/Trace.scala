package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Trace {
  /** Local property carrying the id of the harness span that issued a
    * job. Set on the calling thread; stream and pool threads inherit it
    * (possibly stale, which the Python side corrects by time). */
  val SpanKey = "perfbench.span"

  /** Operators of an executed plan, following adaptive re-plans into
    * their final query stages and into subqueries. */
  def countNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => 1 + countNodes(a.executedPlan)
    case s: QueryStageExec => 1 + countNodes(s.plan)
    case _ => 1 + p.children.map(countNodes).sum + p.subqueries.map(countNodes).sum
  }
}

/** Per-layer recorder built only from Spark's public hooks: a
  * `SparkListener` (jobs, stages, tasks, RDD blocks), a
  * `QueryExecutionListener` (planning phases, executed-plan size) and a
  * `StreamingQueryListener` (micro-batch progress). Records stay in
  * memory; the Python side attributes them to spans. */
final class Trace(clock: Clock) {
  private type Rec = Map[String, Any]
  private val jobs, stages, blocks, execs, streams, progress, afterQ =
    new ConcurrentLinkedQueue[Rec]
  private val openStages = new ConcurrentHashMap[Int, StageAcc]
  private val liveJobs, liveStreams = new AtomicLong(0L)
  @volatile private var lastEventUs = clock.nowUs
  private val rddBytes = new ConcurrentHashMap[String, Long]
  private val rddTotal = new AtomicLong(0L)

  private final class StageAcc(val job: Int) {
    var tasks, runMs, cpuNs, shW, shR, spill, out, in = 0L
    val durs = scala.collection.mutable.ArrayBuffer.empty[Long]
  }

  private def touch(): Unit = lastEventUs = clock.nowUs

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch(); liveJobs.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      e.stageIds.foreach(s => openStages.putIfAbsent(s, new StageAcc(e.jobId)))
      jobs.add(Map("ev" -> "start", "job" -> e.jobId, "t_ms" -> e.time,
        "span" -> span.fold(0L)(_.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch(); liveJobs.decrementAndGet()
      jobs.add(Map("ev" -> "end", "job" -> e.jobId, "t_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val acc = openStages.get(e.stageId)
      if (acc != null && e.taskMetrics != null) acc.synchronized {
        val m = e.taskMetrics
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.shW += m.shuffleWriteMetrics.bytesWritten
        acc.shR += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.diskBytesSpilled
        acc.out += m.outputMetrics.bytesWritten
        acc.in += m.inputMetrics.bytesRead
        acc.durs += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val acc = openStages.remove(e.stageInfo.stageId)
      if (acc != null) acc.synchronized {
        val d = acc.durs.sorted
        stages.add(Map("stage" -> e.stageInfo.stageId, "job" -> acc.job,
          "tasks" -> acc.tasks, "run_ms" -> acc.runMs, "cpu_ms" -> acc.cpuNs / 1e6,
          "shuffle_write" -> acc.shW, "shuffle_read" -> acc.shR,
          "spill" -> acc.spill, "output" -> acc.out, "input" -> acc.in,
          "task_max_ms" -> d.lastOption.getOrElse(0L),
          "task_med_ms" -> (if (d.isEmpty) 0L else d(d.length / 2))))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        touch()
        val now = b.memSize + b.diskSize
        val before = Option(rddBytes.put(b.blockId.name, now)).getOrElse(0L)
        if (now == 0L) rddBytes.remove(b.blockId.name)
        blocks.add(Map("t_us" -> clock.nowUs, "bytes" -> rddTotal.addAndGet(now - before)))
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(f, qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(f, qe, ok = false)
    private def rec(f: String, qe: QueryExecution, ok: Boolean): Unit = {
      touch()
      val nodes = try Trace.countNodes(qe.executedPlan) catch { case _: Throwable => 0 }
      execs.add(Map("func" -> f, "ok" -> ok, "nodes" -> nodes,
        "phases" -> qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      touch(); liveStreams.incrementAndGet()
      streams.add(Map("t_ms" -> Instant.parse(e.timestamp).toEpochMilli, "id" -> e.id.toString))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      progress.add(Map("t_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      touch(); liveStreams.decrementAndGet()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener buses are quiet, then unregisters. */
  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously and Spark exposes no public
    * flush: wait (at most 10 s) until every started job and stream has
    * ended and no event has arrived for 300 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (liveJobs.get() > 0 || liveStreams.get() > 0 || clock.nowUs - lastEventUs < 300000L))
      Thread.sleep(20)
  }

  /** State the engine leaves behind when a query returns: RDD blocks
    * still held, and the size of the scratch tree. Runs after the query
    * span has closed. */
  def afterQuery(spark: SparkSession, span: Long): Unit = {
    val held = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    var files, bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { files += 1; bytes += f.length }
    spark.conf.getOption("spark.graft.scratch.dir").foreach(d => walk(new java.io.File(d)))
    afterQ.add(Map("span" -> span, "block_left" -> held,
      "scratch_files" -> files, "scratch_bytes" -> bytes))
  }

  def records: Map[String, Any] = {
    def all(q: ConcurrentLinkedQueue[Rec]) = q.asScala.toVector
    Map("spans" -> clock.all, "jobs" -> all(jobs), "stages" -> all(stages),
      "blocks" -> all(blocks), "execs" -> all(execs), "streams" -> all(streams),
      "progress" -> all(progress), "after_query" -> all(afterQ))
  }
}
