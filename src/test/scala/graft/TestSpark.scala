package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (lazy; never stopped), built
  * through the session contract every entry point uses. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The rows of `df` as a multiset: each row's values with its count. */
  def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }

  /** Copies the local directory tree `from` to `to` (hidden `.crc`
    * sidecars included): the same files under a path no open has seen. */
  def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  /** Runs `body` under a job group of its own and returns, per Spark job
    * it launched, the long call sites of the job's stages. A marker job
    * in the same group is awaited before the count is read, so every
    * earlier job start has reached the listener. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val marker = "jobsOf marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty("spark.job.description") == marker))
            markerSeen.countDown()
          else seen.add(e.stageInfos.map(_.details).mkString("\n"))
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try {
      val out = body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` and returns the executed physical plans of the queries
    * it ran, in completion order, read by a `QueryExecutionListener`. A
    * marker query is awaited before the plans are read, so every earlier
    * query's end has reached the listener. */
  def plansOf[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = s"plansOf_marker_${java.util.UUID.randomUUID.toString.replace('-', '_')}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerSeen.countDown()
        else seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker query never reached the listener")
      (out, seen.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
