package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pin

/** Pin's two-tier contract: [[Pin.data]] upgrades to a RELIABLE
  * checkpoint when the session has a checkpoint dir (cluster
  * fault-tolerance for corpus-sized frames), and both tiers fall back
  * to executor-local checkpointing without one. */
class PinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Reset the context's checkpoint dir after the test so the other
    * suites keep the (faster) local-checkpoint path. The setter is
    * private[spark], hence the reflective call. */
  private def resetCheckpointDir(): Unit = {
    val m = classOf[org.apache.spark.SparkContext]
      .getMethod("checkpointDir_$eq", classOf[Option[String]])
    m.invoke(spark.sparkContext, None)
  }

  test("Pin.data takes the reliable checkpoint path when a dir is configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pinned = Pin.data(spark.range(1000).toDF("id"))
      assert(pinned.count() == 1000)
      // reliable checkpoints materialize RDD part-files under the dir —
      // executor-local checkpoints write nothing there
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      assert(files > 0, s"no checkpoint part-files under $dir — " +
        "Pin.data did not take the reliable path")
      // and the frame survives as a plain scan of the checkpoint data
      assert(pinned.filter(pinned("id") < 10).count() == 10)
    } finally resetCheckpointDir()
  }

  test("Pin.param stays executor-local even with a checkpoint dir configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_p").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pinned = Pin.param(spark.range(100).toDF("id"))
      assert(pinned.count() == 100)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      assert(files == 0,
        "Pin.param wrote a reliable checkpoint — parameter-sized frames " +
          "should stay executor-local")
    } finally resetCheckpointDir()
  }

  test("lazy reliable pin releases its pre-checkpoint cache once materialized") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_l").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val src = spark.range(500).toDF("id")
      val pinned = Pin.data(src, eager = false)
      assert(Pin.pendingLazyPinCount == 1,
        "lazy reliable pin not registered for cache release")
      // first action materializes the deferred checkpoint (reading the
      // persist, not recomputing lineage)
      assert(pinned.count() == 500)
      // the NEXT pin call sweeps: the materialized pin's cache must be
      // released (CacheManager holds strong refs — GC never frees it)
      Pin.data(spark.range(10).toDF("id")).count()
      assert(Pin.pendingLazyPinCount == 0,
        "materialized lazy pin's persist was not released on sweep")
      // the pinned frame still reads fine from its reliable checkpoint
      assert(pinned.filter(pinned("id") < 5).count() == 5)
    } finally resetCheckpointDir()
  }

  test("Pin.data without a checkpoint dir falls back to local checkpointing") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite-shared context must have no checkpoint dir here")
    val pinned = Pin.data(spark.range(50).toDF("id"))
    assert(pinned.count() == 50)
  }

  test("query-path pins do not accumulate across repeated invocations " +
       "(ContextCleaner releases blocks once results are unreachable)") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_pin_clean")
    // a 4-dim, two-cell IVF-PQ index; a batch above the snapshot cap
    // pins its rows for the pruned search's two reads
    val annDir = out.resolve("ann").toString
    val vecs = (n: Long) => spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)), j =>
        when(j === col("id") % 2 * 2, 10.0).otherwise(0.0) + sin(col("id") + j))
        .as("embedding"))
    graft.sources.AnnIndex.buildIvfPq(vecs(40), "vec_id", "embedding", annDir,
      Array(Array(1.0, 0, 0, 0), Array(0, 0, 1.0, 0)),
      graft.operators.Pq.codebooks(Array.tabulate(4)(i =>
        Array.tabulate(4)(j => (i * j % 3).toDouble)), m = 2))
    val ann = graft.sources.AnnIndex.load(spark, annDir)
    val bigBatch = vecs(graft.sources.AnnIndex.snapshotCollectMax + 1L)
    // warm-up invocation so lazily-initialized session state doesn't
    // count against the baseline
    def invoke(): Unit = {
      val df = spark.range(2000).toDF("id")
        .select(col("id"), (col("id") % 17).cast("double").as("s"),
          (col("id") % 3 === 0).as("y"))
      graft.operators.Eval.prCurve(df, col("s"), col("y")).collect()
      graft.operators.Eval.calibration(df, col("s"), col("y")).collect()
      graft.operators.Dsir.resampleKeep(
        spark.range(300).toDF("id")
          .select(col("id"), concat(lit("tok"), col("id") % 40, lit(" x "),
            col("id") % 7).as("text")),
        "text", "id", isTarget = col("id") % 2 === 0).collect()
      val flights = graft.pipelines.CleaningPipelines.cleanFile("flights",
        Seq(("AA100", "JK", "LAX", "boeing 737"), ("AA100", "ORD", "ORD", "x"))
          .toDF("flightkey", "originairportkey", "destinationairportkey", "aircrafttype"),
        airlineKeys = Some(Seq("AA").toDF("airlinekey")),
        airportKeys = Some(Seq("JFK", "LAX", "ORD").toDF("airportkey")))
      graft.sources.CsvSource.writeClean(flights.clean, out.resolve("clean").toString)
      graft.sources.CsvSource.writeQuarantine(flights.quarantine,
        out.resolve("quarantine").toString)
      graft.sources.AnnIndex.topK(ann, bigBatch, "vec_id", "embedding", k = 2,
        nprobe = 1).collect()
    }
    // A collection that does not depend on System.gc(), which a JVM run
    // with -XX:+DisableExplicitGC ignores: drop the only reference to a
    // sentinel, then allocate until the collector has cleared it.
    def collectGarbage(): Unit = {
      val sentinel = new java.lang.ref.WeakReference(new Array[Byte](1 << 10))
      var churn: Array[Byte] = null
      System.gc()
      while (sentinel.get != null) churn = new Array[Byte](1 << 20)
      churn = null
      Thread.sleep(300)
    }
    invoke()
    collectGarbage()
    val base = sc.getPersistentRDDs.size
    (1 to 4).foreach(_ => invoke())
    // every result frame above is now unreachable — the pins inside
    // prCurve/calibration/resampleKeep (and their prefix-scan internals),
    // the clean/quarantine split of cleanFile and the above-cap topK's
    // query batch
    // must be ContextCleaner-released on GC, not accumulate per call
    val deadline = System.currentTimeMillis() + 30000
    var live = sc.getPersistentRDDs.size
    while (live > base && System.currentTimeMillis() < deadline) {
      collectGarbage()
      live = sc.getPersistentRDDs.size
    }
    assert(live <= base,
      s"pinned RDDs accumulated across invocations: baseline=$base live=$live")
  }
}
