package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from Spark's own channels: a SparkListener (jobs, stages,
  * tasks, task time, shuffle, spill, GC), a QueryExecutionListener (Catalyst
  * phase times from `QueryExecution.tracker`, files and bytes of every
  * write command) and a StreamingQueryListener (per-query progress). */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskNs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0, gcMs: Long = 0,
    analysisNs: Long = 0, optimizationNs: Long = 0, planningNs: Long = 0,
    filesWritten: Long = 0, bytesWritten: Long = 0) {
  def +(o: Counters): Counters = this - (Counters() - o)
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskNs - o.taskNs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    gcMs - o.gcMs, analysisNs - o.analysisNs, optimizationNs - o.optimizationNs,
    planningNs - o.planningNs, filesWritten - o.filesWritten,
    bytesWritten - o.bytesWritten)
}

/** One streaming micro-batch as its StreamingQueryProgress reports it. */
final case class Progress(query: String, batchId: Long, triggerMs: Long,
                          addBatchMs: Long, inputRows: Long)

/** A timed interval around one call into a layer. Spans of one unit of work
  * (a query, a round, a stream run) share `trace`; `parent` is the span that
  * was open on the same thread when this one started (0 = none). */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long)

/** Tracing for the `--trace 1` run. With `on = false` nothing is registered
  * with Spark and `span` only runs its body, so the untraced run measures
  * the program alone. */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val jobs, stages, tasks, taskNs, shW, shR, spill, gcMs = new AtomicLong
  private val anNs, optNs, planNs, files, bytes = new AtomicLong
  /** Jobs per streaming query id, from the `sql.streaming.queryId` job property. */
  private val jobsByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  private val progress = new ConcurrentLinkedQueue[Progress]
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextSpan = new AtomicInteger
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(q => jobsByQuery.computeIfAbsent(q, _ => new AtomicLong).incrementAndGet())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskNs.addAndGet(m.executorRunTime * 1000000L)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          gcMs.addAndGet(m.jvmGCTime)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress.add(Progress(Option(p.name).getOrElse(p.id.toString), p.batchId,
          d("triggerExecution"), d("addBatch"), p.numInputRows))
      }
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def add(a: AtomicLong, k: String): Unit =
      ph.get(k).foreach(s => a.addAndGet((s.endTimeMs - s.startTimeMs) * 1000000L))
    add(anNs, "analysis"); add(optNs, "optimization"); add(planNs, "planning")
    qe.executedPlan.foreach {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => files.addAndGet(m.value))
        w.cmd.metrics.get("numOutputBytes").foreach(m => bytes.addAndGet(m.value))
      case _ =>
    }
  }

  /** Wait until every queued listener event has been delivered, so counters
    * read right after an action include that action's jobs. */
  def drain(): Unit =
    if (on) GraftListenerBus.drain(spark.sparkContext, 10000L)

  /** Current counter values (drained first). */
  def counters(): Counters = {
    drain()
    Counters(jobs.get, stages.get, tasks.get, taskNs.get, shW.get, shR.get,
      spill.get, gcMs.get, anNs.get, optNs.get, planNs.get, files.get, bytes.get)
  }

  def jobsOfQuery(queryId: String): Long =
    Option(jobsByQuery.get(queryId)).map(_.get).getOrElse(0L)

  def progresses(query: String): Seq[Progress] =
    progress.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)

  /** Time `body` as a span named `name` in unit of work `trace`. */
  def span[T](name: String, trace: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextSpan.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0), trace, name, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
