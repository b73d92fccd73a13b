package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and engine counters for the traced run.
  *
  * A span wraps one call from the benchmark into a module's public
  * function: name, start, end, parent span and operation id (the op a
  * span belongs to — one ETL batch, one catalog query, one ANN request).
  * Spans live in memory and are written out when the run ends.
  *
  * Spark work is attributed to spans through job local properties: the
  * innermost open span's id is set on the calling thread before its body
  * runs, every job started under it carries that id, and the listener
  * charges the job's stages and tasks to it. Nothing inside the program
  * is instrumented.
  */
object Trace {

  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Per-span engine work, filled by [[Listener]]. */
  final class Work {
    var jobs, stages, tasks, failedTasks = 0L
    var taskRunMs, taskQueueMs = 0L
    var inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes,
        outputBytes = 0L
    def add(o: Work): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
      taskQueueMs += o.taskQueueMs; inputBytes += o.inputBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
      outputBytes += o.outputBytes
    }
  }

  val SpanProp = "perfbench.span"
  val NoSpan = 0L

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var currentOp = 0L
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = spark = s

  /** Start a new operation; spans opened until the next call share it. */
  def beginOp(): Unit = currentOp += 1

  /** Run `body` inside a span named `name` (a plain call when tracing
    * is off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(NoSpan)
      val sc = spark.sparkContext
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(SpanProp,
          if (parent == NoSpan) null else parent.toString)
        spans.synchronized {
          spans += Span(id, parent, currentOp, name, t0, t1)
        }
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span: its duration minus the union of the intervals
    * its direct children cover. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** Engine counters for the traced run: Spark jobs/stages/tasks charged
    * to the span that launched them, Catalyst phase times, streaming
    * progress. Only jobs carrying a span id are counted; the run
    * registers the listener for traced passes only, so Catalyst phases of
    * untraced passes are left out too. */
  final class Listener extends SparkListener with QueryExecutionListener {
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    private val perSpan = new ConcurrentHashMap[Long, Work]()
    private val tracedJobs = ConcurrentHashMap.newKeySet[Int]()
    val jobsStarted = new AtomicLong(0)
    val jobsEnded = new AtomicLong(0)
    // Catalyst phases (ms) summed over traced executions
    val analysisMs = new AtomicLong(0)
    val optimizationMs = new AtomicLong(0)
    val planningMs = new AtomicLong(0)

    private def work(span: Long): Work =
      perSpan.computeIfAbsent(span, _ => new Work)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      sp.foreach { s =>
        val id = s.toLong
        jobsStarted.incrementAndGet()
        tracedJobs.add(e.jobId)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        work(id).synchronized {
          val w = work(id); w.jobs += 1; w.stages += e.stageIds.size
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (tracedJobs.remove(e.jobId)) jobsEnded.incrementAndGet()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = stageSpan.get(e.stageId)
      if (sp != null) {
        val w = work(sp.longValue())
        w.synchronized {
          w.tasks += 1
          if (!e.taskInfo.successful) w.failedTasks += 1
          val sub = stageSubmit.get(e.stageId)
          if (sub != null)
            w.taskQueueMs += math.max(0L, e.taskInfo.launchTime - sub.longValue())
          val m = e.taskMetrics
          if (m != null) {
            w.taskRunMs += m.executorRunTime
            w.inputBytes += m.inputMetrics.bytesRead
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            w.spillBytes += m.diskBytesSpilled
            w.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    /** Work charged to each span id (snapshot). */
    def bySpan: Map[Long, Work] = perSpan.asScala.toMap

    /** Wait until every traced job's end event has been delivered. */
    def drain(timeoutMs: Long = 20000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (jobsEnded.get() < jobsStarted.get() &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200) // execution-listener bus is separate; let it settle
    }
  }

  /** Streaming progress totals (micro-batches, trigger and addBatch ms). */
  final class StreamListener extends StreamingQueryListener {
    val microBatches = new AtomicLong(0)
    val triggerMs = new AtomicLong(0)
    val addBatchMs = new AtomicLong(0)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val d = e.progress.durationMs
        microBatches.incrementAndGet()
        Option(d.get("triggerExecution")).foreach(v => triggerMs.addAndGet(v.longValue()))
        Option(d.get("addBatch")).foreach(v => addBatchMs.addAndGet(v.longValue()))
      }
  }

  /** Filesystem calls counted so far (see [[CountingFileSystem]]; zero
    * unless the run installed it). */
  def fsOps(): Long = CountingFileSystem.ops.get()
}
