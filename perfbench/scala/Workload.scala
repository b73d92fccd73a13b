package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark workload. `setup` runs before measurement (its time is
  * `setup_s`); `pass` runs one fixed unit of work and is repeated until
  * the run's measuring time is spent. Every operation a pass attempts is
  * counted, and one that throws or returns a wrong result is a failure. */
trait Workload {
  def setup(): Unit

  def pass(): Unit

  /** End-to-end metrics from the untraced passes, under the names every
    * workload shares. */
  def endToEnd(): Map[String, Double]

  /** Workload-specific numbers under their module names, for people. */
  def detail(): Map[String, Double]

  /** Per-layer metrics from the traced passes, exactly [[layerNames]]. */
  def layers(t: TraceResult): Map[String, Double]

  /** The module-layer metrics this workload reports; on the other
    * workloads these modules are not called and read 0. */
  def layerNames: Seq[String]

  /** Correctness facts the outside gate needs (paths, counts). */
  def gateInfo(): Map[String, Any] = Map.empty

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation, counting it and recording any exception. */
  protected def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed")
        e.printStackTrace()
        if (failures.size < 20)
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }
}

/** Spans and engine work of the traced passes, with helpers to aggregate
  * them by span name. */
final class TraceResult(val spans: Seq[Trace.Span],
                        val work: Map[Long, Trace.Work],
                        val listener: Trace.Listener,
                        val stream: Trace.StreamListener) {
  val self: Map[Long, Long] = Trace.selfNs(spans)
  private val kids = spans.groupBy(_.parent)

  /** Distinct operations seen in the traced passes. */
  val ops: Int = math.max(1, spans.map(_.op).distinct.size)

  /** A span's kind: its name up to the first '/' (the rest tags the
    * input or codec it ran on). */
  def kind(s: Trace.Span): String = s.name.takeWhile(_ != '/')

  def ofKind(k: String): Seq[Trace.Span] = spans.filter(kind(_) == k)

  /** Mean inclusive duration (ms) per call of spans of this kind. */
  def meanMs(k: String): Double = {
    val ss = ofKind(k)
    if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size
  }

  /** Spark jobs per call of spans of these kinds, descendants included. */
  def jobsPerCall(kinds: String*): Double = {
    val ss = spans.filter(s => kinds.contains(kind(s)))
    subtreeWork(ss).jobs.toDouble / math.max(1, ss.size)
  }

  /** Engine work of these spans and all their descendants. */
  def subtreeWork(roots: Seq[Trace.Span]): Trace.Work = {
    val acc = new Trace.Work
    def go(s: Trace.Span): Unit = {
      work.get(s.id).foreach(acc.add)
      kids.getOrElse(s.id, Nil).foreach(go)
    }
    roots.foreach(go)
    acc
  }

  def totalWork: Trace.Work = {
    val acc = new Trace.Work
    work.values.foreach(acc.add)
    acc
  }

  /** The spans as JSON lines, in start order, with self time and the
    * jobs and tasks charged to each. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      val w = work.getOrElse(s.id, new Trace.Work)
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.quote(s.name)},"start_ms":${(s.startNs - t0) / 1e6},""" +
        s""""end_ms":${(s.endNs - t0) / 1e6},"self_ms":${self(s.id) / 1e6},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Layer metrics every workload reports: driver build time, Catalyst
    * phases and Spark engine counters, each per operation. */
  def engine(): Map[String, Double] = {
    val w = totalWork
    val n = ops.toDouble
    val buildNs = spans.filter(s => kind(s).endsWith("_build"))
      .map(s => self(s.id)).sum
    Map(
      "driver.build_ms" -> buildNs / 1e6 / n,
      "catalyst.analysis_ms" -> listener.analysisMs.get / n,
      "catalyst.optimization_ms" -> listener.optimizationMs.get / n,
      "catalyst.planning_ms" -> listener.planningMs.get / n,
      "spark.jobs" -> w.jobs / n,
      "spark.stages" -> w.stages / n,
      "spark.tasks" -> w.tasks / n,
      "spark.task_run_ms" -> w.taskRunMs / n,
      "spark.task_queue_ms" -> w.taskQueueMs / n,
      "spark.failed_tasks" -> w.failedTasks / n,
      "spark.input_bytes" -> w.inputBytes / n,
      "spark.shuffle_write_bytes" -> w.shuffleWriteBytes / n,
      "spark.shuffle_read_bytes" -> w.shuffleReadBytes / n,
      "spark.spill_bytes" -> w.spillBytes / n,
      "spark.output_bytes" -> w.outputBytes / n,
      "streaming.micro_batches" -> stream.microBatches.get / n,
      "streaming.trigger_ms" ->
        (if (stream.microBatches.get == 0) 0.0
         else stream.triggerMs.get.toDouble / stream.microBatches.get),
      "streaming.add_batch_ms" ->
        (if (stream.microBatches.get == 0) 0.0
         else stream.addBatchMs.get.toDouble / stream.microBatches.get))
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }
}
