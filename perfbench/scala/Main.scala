package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** JVM side of the benchmark: builds the session, sets up one workload,
  * measures it for the given time and writes its figures as JSON for
  * `run.py`, which adds the outside correctness gates and prints the
  * result line.
  *
  * Usage: perfbench.Main <workload> <workDir> <seconds> <trace 0|1>
  *        <seed> <cores>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(name, work, seconds, trace, seed, cores) = argv
    val spark = GraftSession.local(cores.toInt, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    Trace.attach(spark)

    val w: Workload = name match {
      case "etl_batches" => new EtlBatches(spark, work)
      case "ann_serving" => new AnnServing(spark, work, seed.toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    note("session up")
    w.setup()
    note("set-up done")
    val setupEndMs = System.currentTimeMillis()

    val traced = trace == "1"
    val listener = new Trace.Listener
    val stream = new Trace.StreamListener
    val budgetNs = (seconds.toDouble * 1e9).toLong
    val plainWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    // A traced run alternates untraced and traced passes (at least
    // untraced, traced, untraced, so a drift in speed over the run does
    // not read as overhead) and reads the tracing overhead from them.
    val minPasses = if (traced) 3 else 1
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || System.nanoTime() - t0 < budgetNs) {
      val on = traced && i % 2 == 1
      if (on) startTracing(spark, listener, stream)
      val p0 = System.nanoTime()
      w.pass()
      val wall = (System.nanoTime() - p0) / 1e9
      if (on) { stopTracing(spark, listener, stream); tracedWalls += wall }
      else plainWalls += wall
      note(f"pass $i ${if (on) "traced" else "untraced"} $wall%.2f s")
      i += 1
    }

    val out = mutable.LinkedHashMap[String, Any](
      "setup_end_ms" -> setupEndMs,
      "passes" -> i,
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "failures" -> w.failures.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "gate" -> w.gateInfo())
    if (!traced) {
      out("metrics") = w.endToEnd()
      out("detail") = w.detail()
    } else {
      val tr = new TraceResult(Trace.recorded, listener.bySpan, listener, stream)
      val overhead =
        Stats.median(tracedWalls.toSeq) / Stats.median(plainWalls.toSeq) - 1.0
      val own = w.layers(tr)
      require(own.keySet == w.layerNames.toSet,
        s"$name reported layers ${own.keySet} instead of ${w.layerNames}")
      val notCalled = (EtlBatches.LayerNames ++ AnnServing.LayerNames)
        .filterNot(own.contains).map(_ -> 0.0)
      out("layers") = tr.engine() ++ own ++ notCalled ++
        Map("trace.overhead_frac" -> overhead)
      tr.writeSpans(Paths.get(work, "spans.jsonl"))
    }
    Files.writeString(Paths.get(work, "jvm.json"), Json(out))
    spark.stop()
  }

  private def startTracing(spark: org.apache.spark.sql.SparkSession,
                           l: Trace.Listener, s: Trace.StreamListener): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spark.streams.addListener(s)
    Trace.enabled = true
  }

  private def stopTracing(spark: org.apache.spark.sql.SparkSession,
                          l: Trace.Listener, s: Trace.StreamListener): Unit = {
    Trace.enabled = false
    l.drain()
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    spark.streams.removeListener(s)
  }

  private val started = System.nanoTime()

  /** A progress line on stderr (the run's log), with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $msg")

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val hwm = lines.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    hwm.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
