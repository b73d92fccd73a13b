package graft

/** Catalyst-phase profiler (optimization-round measurement tool): for
  * each named query (or all), reports DataFrame BUILD time, execution
  * wall, the QueryPlanningTracker phase breakdown
  * (analysis/optimization/planning ms) and the top optimizer rules by
  * time — separating driver-side planning cost from executed work,
  * which per-job logs cannot (guide §1/§7.3).
  *
  * Usage: runMain graft.PhaseProf [queryName ...]
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.)
  */
object PhaseProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val only = args.toSet
    val spark = GraftSession.local(cpus, "graft-phaseprof")
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        (1 to 2).foreach { pass =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val tBuild = (System.nanoTime() - t0) / 1e6
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val tExec = (System.nanoTime() - t1) / 1e6
          val ph = df.queryExecution.tracker.phases
            .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
            .mkString(" ")
          val rules = df.queryExecution.tracker.topRulesByTime(5)
            .map { case (r, s) =>
              f"${r.split('.').last}=${s.totalTimeNs / 1e6}%.0fms(${s.numInvocations})" }
            .mkString(" ")
          println(f"$name pass$pass build=$tBuild%.0fms exec=$tExec%.0fms  $ph")
          println(s"   top rules: $rules")
        }
      }
    spark.stop()
  }
}
