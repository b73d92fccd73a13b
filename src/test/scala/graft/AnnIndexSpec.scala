package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Pq
import graft.sources.{AnnIndex, IndexLog}

/** Persisted IVF-PQ index ([[graft.sources.AnnIndex]]): the
  * build→publish→load→search round trip must be lossless vs the
  * in-memory [[Pq.ivfPqTopK]] path, the probe set must reach the codes
  * scan as a pushed parquet filter on `cell` that skips the row groups of
  * unprobed cells (the build-once/query-many scale contract), and publish
  * must be atomic when a build dies midway and under rebuild. */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark.jobsOf
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def corpus(n: Int) = {
    val rng = new scala.util.Random(11)
    (0L until n.toLong).map { i =>
      val base = Array.tabulate(dim)(j =>
        if (j == (i % 4).toInt * 2) 10.0f else 0.0f)
      val v = base.map(x => x + rng.nextGaussian().toFloat * 0.2f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def model(e: org.apache.spark.sql.DataFrame) = {
    val cents = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    import graft.plans.SketchExpressions.nearestCentroids
    val samples = e.filter(col("vec_id") < 16).orderBy("vec_id")
      .select(Pq.residualExpr(col("embedding"),
        element_at(nearestCentroids(col("embedding"), cents, 1), 1), cents).as("r"))
      .collect().map(_.getSeq[Double](0).toArray)
    (cents, Pq.codebooks(samples, m = 4))
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("ann_index_spec").toString

  /** Runs a search and returns its result with the executed plan of
    * the search itself: the one query `body` ran over the index
    * segments (a serving search returns a local relation, so the
    * result frame's own plan no longer shows the scan). */
  private def searchPlan[T](body: => T)
      : (T, org.apache.spark.sql.execution.SparkPlan) = {
    val (out, plans) = TestSpark.plansOf(body)
    val overSegments = plans.filter(_.exists {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.rootPaths.exists(_.toString.contains("/data/batch-"))
      case _ => false
    })
    assert(overSegments.size == 1,
      s"expected one search plan over the segments, got ${overSegments.size}")
    (out, overSegments.head)
  }

  /** The cells the query rows `q` probe: each row's `nprobe` nearest
    * centroids. */
  private def probedCells(q: org.apache.spark.sql.DataFrame,
                          cents: Array[Array[Double]], nprobe: Int): Set[Int] = {
    import graft.plans.SketchExpressions.nearestCentroids
    q.select(explode(nearestCentroids(col("embedding"), cents, nprobe)))
      .distinct().collect().map(_.getInt(0)).toSet
  }

  /** The codes-segment scans of `plan`. */
  private def segmentScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    plan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("/data/batch-"))
        => sc
    }

  /** Every codes-segment scan of `plan` carries the probe as a pushed
    * parquet filter on `cell` naming exactly the `probed` cells: the
    * filter whose row-group statistics skip every other cell. */
  private def assertProbePushed(plan: org.apache.spark.sql.execution.SparkPlan,
                                probed: Set[Int], clue: String): Unit = {
    val scans = segmentScans(plan)
    assert(scans.nonEmpty, "no parquet scan over the codes segments found")
    val want = probed.toSeq.sorted match {
      case Seq(c) => s"EqualTo(cell,$c)"
      case cs => s"In(cell, [${cs.mkString(",")}])"
    }
    scans.foreach { scan =>
      val pushed = scan.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains(want), s"$clue: pushed $pushed, expected $want\n$scan")
    }
  }

  test("round trip: persisted search equals the in-memory ivfPqTopK path") {
    val e = corpus(80).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nlist == 4 && idx.m == 4 && idx.nrows == 80)
    val q = e.filter(col("vec_id") % 10 === 0)
    val got = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val want = Pq.ivfPqTopK(q, e, "vec_id", "embedding", cents, cbs,
      k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    assert(got == want)
    // model literals survive the parquet round trip bit-exactly
    assert(idx.centroids.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(idx.cbs.map(_.map(_.toSeq).toSeq).toSeq ==
      cbs.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("probe set reaches the codes scan as a partition filter") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    // one query, nprobe=1 → exactly one probed cell. AQE wraps the plan
    // in an opaque leaf (the PlanAuditSpec convention) — disable it for
    // the inspection.
    val q = e.filter(col("vec_id") === 0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (res, plan) =
      try searchPlan(AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 1))
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // only the probed cell passes the pushed filter — 1 of 4 cells
    assertProbePushed(plan, probedCells(q, cents, 1),
      "probe filter did not reach the scan as a pushed cell filter")
    assert(res.count() == 3)
  }

  test("append: build(part)+append(rest) searches identically to build(all); snapshots pin") {
    val e = corpus(80).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val full = s"$root/full"
    val inc = s"$root/inc"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cents, cbs)
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      inc, cents, cbs)
    val before = AnnIndex.load(spark, inc)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id", "embedding",
      inc)
    val q = e.filter(col("vec_id") % 10 === 0)
    val after = AnnIndex.load(spark, inc)
    assert(after.nrows == 80 && after.batches == Seq(0L, 1L))
    val got = AnnIndex.topK(after, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val want = AnnIndex.topK(AnnIndex.load(spark, full), q, "vec_id",
      "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    assert(got == want, "incremental index diverged from the full build")
    // the pre-append handle is a pinned snapshot: still 40 rows
    assert(before.nrows == 40 && before.codes.count() == 40)
    assert(after.codes.count() == 80)
  }

  test("appendIvfPq with a dedupKey is idempotent (at-least-once replay)") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    val delta = e.filter(col("vec_id") >= 20)
    AnnIndex.appendIvfPq(delta, "vec_id", "embedding", dir, Some(1L))
    AnnIndex.appendIvfPq(delta, "vec_id", "embedding", dir, Some(1L)) // replay
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 40 && idx.batches == Seq(0L, 1L),
      "replayed append must be a no-op, not a duplicate segment")
  }

  test("compaction never collides with stream segment ids: the first post-compact " +
      "micro-batch LANDS (regression: deterministic id+1 scheme silently dropped it)") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    // micro-batch 0 (keyed append, the streamAppend path)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir, Some(0L))
    // compaction consumes the next id from the SHARED high-water mark
    AnnIndex.compact(spark, dir)
    val compacted = AnnIndex.load(spark, dir)
    assert(compacted.nrows == 40)
    // micro-batch 1 replays with its deterministic key after the compact:
    // it must be recognized as NEW work and land — not be mistaken for
    // the compacted segment and silently skipped
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir, Some(1L))
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60,
      s"post-compact micro-batch was dropped: segments ${idx.batches}")
    assert(idx.batches == idx.batches.distinct,
      s"segment id reused across compaction: ${idx.batches}")
    // and the replay of that same batch is still a no-op
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir, Some(1L))
    assert(AnnIndex.load(spark, dir).nrows == 60)
  }

  test("streamAppend survives a mid-stream compaction: resume after compact loses nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    def landRange(lo: Long, hi: Long): Unit =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(landing)
    def ingest(): Unit = {
      val stream = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      AnnIndex.streamAppend(stream, "vec_id", "embedding", dir, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    landRange(20, 40); ingest()
    AnnIndex.compact(spark, dir) // the production maintenance step
    landRange(40, 60); ingest()  // resume from the same checkpoint
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60,
      s"compaction ate the first post-compact micro-batch: ${idx.batches}")
    val q = e.filter(col("vec_id") % 10 === 0)
    val full = s"$root/full"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cents, cbs)
    val got = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val want = AnnIndex.topK(AnnIndex.load(spark, full), q, "vec_id",
      "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("an empty delta is a no-op, not a wedged zero-row segment") {
    val e = corpus(30).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val before = AnnIndex.versionsOf(spark, dir)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") < 0), "vec_id", "embedding",
      dir, Some(0L)) // empty micro-batch
    assert(AnnIndex.versionsOf(spark, dir) == before,
      "empty delta must not publish a manifest generation")
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 30 && idx.codes.count() == 30)
    // the index is not wedged: the next real append still lands
    AnnIndex.appendIvfPq(e.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100),
      "vec_id", "embedding", dir, Some(1L))
    assert(AnnIndex.load(spark, dir).nrows == 35)
  }

  test("delete: tombstones mask rows at read; pinned pre-delete reader still sees them") {
    import spark.implicits._
    val e = corpus(50).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val pinned = AnnIndex.load(spark, dir) // snapshot taken pre-delete
    val dead = (0L until 50L by 5).toDF("vec_id")
    AnnIndex.delete(dead, "vec_id", dir)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.count() == 40, "tombstoned rows still visible")
    assert(idx.codes.filter(col("neighbor_id") % 5 === 0).count() == 0)
    // the pinned snapshot's manifest lists no tombstone — untouched
    assert(pinned.codes.count() == 50)
    // deleted ids never surface as neighbors
    val q = e.filter(col("vec_id") % 10 === 3)
    val res = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
    assert(res.filter(col("neighbor_id") % 5 === 0).count() == 0)
    // deleting nothing is a no-op generation-wise
    val gens = AnnIndex.versionsOf(spark, dir)
    AnnIndex.delete(spark.emptyDataset[Long].toDF("vec_id"), "vec_id", dir)
    assert(AnnIndex.versionsOf(spark, dir) == gens)
  }

  test("delete then re-append: the tombstone masks only OLDER segments (reinsert works)") {
    import spark.implicits._
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    AnnIndex.delete(Seq(7L).toDF("vec_id"), "vec_id", dir)
    assert(AnnIndex.load(spark, dir).codes
      .filter(col("neighbor_id") === 7).count() == 0)
    // the corrected vector arrives later as a normal append
    AnnIndex.appendIvfPq(e.filter(col("vec_id") === 7), "vec_id",
      "embedding", dir)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.filter(col("neighbor_id") === 7).count() == 1,
      "tombstone must not mask the segment appended after it")
  }

  test("compact physically drops tombstoned rows and clears the tombstones; expire reclaims") {
    import spark.implicits._
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
      "embedding", dir)
    AnnIndex.delete((0L until 40L by 4).toDF("vec_id"), "vec_id", dir)
    val visBefore = AnnIndex.load(spark, dir).codes
      .collect().map(_.toSeq).toSet
    AnnIndex.compact(spark, dir)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.batches.length == 1 && idx.nrows == 30,
      s"compact kept tombstoned rows: nrows=${idx.nrows}")
    assert(idx.codes.collect().map(_.toSeq).toSet == visBefore)
    AnnIndex.expire(spark, dir)
    val tombDir = new java.io.File(s"$dir/tomb")
    assert(!tombDir.exists() || tombDir.listFiles()
        .count(_.getName.startsWith("t-")) == 0,
      "expire left unreachable tombstone sets")
    assert(AnnIndex.load(spark, dir).codes.count() == 30)
  }

  test("delete works on the SQ8 family too") {
    import spark.implicits._
    import graft.operators.Sq
    val e = corpus(30).cache()
    val m = Sq.fit(e, "embedding")
    val dir = s"${tmpDir()}/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", dir, m)
    AnnIndex.delete(Seq(3L, 4L, 5L).toDF("vec_id"), "vec_id", dir)
    val idx = AnnIndex.loadSq(spark, dir)
    assert(idx.codes.count() == 27)
    val q = e.filter(col("vec_id") === 3)
    val res = AnnIndex.topKSq(idx, q, "vec_id", "embedding", k = 5)
    assert(res.filter(col("neighbor_id").isin(3L, 4L, 5L)).count() == 0)
  }

  test("compact rewrites to one segment, expire drops the rest; search unchanged") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 30), "vec_id",
      "embedding", dir)
    val q = e.filter(col("vec_id") % 10 === 0)
    val before = AnnIndex.topK(AnnIndex.load(spark, dir), q, "vec_id",
      "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    val pinned = AnnIndex.load(spark, dir) // snapshot taken pre-compact
    AnnIndex.compact(spark, dir)
    val compacted = AnnIndex.load(spark, dir)
    assert(compacted.batches == Seq(2L) && compacted.nrows == 60)
    val after = AnnIndex.topK(compacted, q, "vec_id", "embedding",
      k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed search results")
    // the pre-compact snapshot still scans — its segments are untouched
    assert(pinned.codes.count() == 60)
    // expire drops the now-unreachable segments and older manifests
    AnnIndex.expire(spark, dir)
    // exactly the compacted segment's (unique-named) dir remains
    val dataDirs = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet
    assert(dataDirs.size == 1, s"expire left $dataDirs")
    val manifests = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).filter(_.startsWith("m-")).toSet
    assert(manifests == Set("m-2"))
    val reloaded = AnnIndex.load(spark, dir)
    assert(reloaded.nrows == 60 &&
      AnnIndex.topK(reloaded, q, "vec_id", "embedding", k = 3,
        nprobe = 2).collect().map(_.toSeq).toSet == before)
    // compact on a single-segment index is a no-op
    AnnIndex.compact(spark, dir)
    assert(AnnIndex.load(spark, dir).batches == Seq(2L))
  }

  test("streamAppend resumes from its checkpoint: two-phase ingest equals one-shot build") {
    import org.apache.spark.sql.streaming.Trigger
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    def landRange(lo: Long, hi: Long): Unit =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(landing)
    def ingest(): Unit = {
      val stream = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      AnnIndex.streamAppend(stream, "vec_id", "embedding", dir, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    landRange(20, 40); ingest()       // phase 1: one micro-batch
    assert(AnnIndex.load(spark, dir).nrows == 40)
    landRange(40, 60); ingest()       // restart from the same checkpoint
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60,
      s"resume double-applied or skipped a batch: ${idx.batches}")
    // the resumed run must NOT have re-applied phase 1's batch: segment
    // ids are contiguous and unique
    assert(idx.batches == idx.batches.distinct.sorted)
    val q = e.filter(col("vec_id") % 10 === 0)
    val full = s"$root/full"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cents, cbs)
    val got = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val want = AnnIndex.topK(AnnIndex.load(spark, full), q, "vec_id",
      "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("SQ streaming: streamAppendSq resumes from its checkpoint; upsertBatchSq corrects atomically") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val e = corpus(60).cache()
    val m = graft.operators.Sq.fit(e, "embedding")
    val root = tmpDir()
    val dir = s"$root/sq"
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    AnnIndex.buildSq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, m)
    def landRange(lo: Long, hi: Long): Unit =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(landing)
    def ingest(): Unit = {
      val stream = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      AnnIndex.streamAppendSq(stream, "vec_id", "embedding", dir, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    landRange(20, 40); ingest()
    assert(AnnIndex.loadSq(spark, dir).nrows == 40)
    landRange(40, 60); ingest() // restart from the same checkpoint
    val idx = AnnIndex.loadSq(spark, dir)
    assert(idx.nrows == 60,
      s"resume double-applied or skipped a batch: ${idx.batches}")
    assert(idx.batches == idx.batches.distinct.sorted)
    val q = e.filter(col("vec_id") % 10 === 0)
    val full = s"$root/full"
    AnnIndex.buildSq(e, "vec_id", "embedding", full, m)
    assert(AnnIndex.topKSq(idx, q, "vec_id", "embedding", k = 3)
        .collect().map(_.toSeq).toSet ==
      AnnIndex.topKSq(AnnIndex.loadSq(spark, full), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet,
      "streamed SQ ingest diverged from the one-shot build")
    // correction: vec 7 gets vec 3's embedding — the stale copy must
    // never surface again, and a replay of the same key is a no-op
    val v3 = e.filter(col("vec_id") === 3).select("embedding")
      .collect().head.getSeq[Float](0)
    val corr = Seq((7L, v3)).toDF("vec_id", "embedding")
    AnnIndex.upsertBatchSq(corr, "vec_id", "embedding", dir,
      dedupKey = Some(100L))
    AnnIndex.upsertBatchSq(corr, "vec_id", "embedding", dir,
      dedupKey = Some(100L)) // duplicate delivery
    val fixed = AnnIndex.loadSq(spark, dir)
    assert(fixed.codes.filter(col("neighbor_id") === 7L).count() == 1,
      "correction duplicated or dropped the row")
    // the corrected index scores 7 exactly as an index built with the
    // corrected corpus does
    val eFixed = e.filter(col("vec_id") =!= 7L)
      .unionByName(corr.select(col("vec_id"), col("embedding")))
    val fullFixed = s"$root/fullFixed"
    AnnIndex.buildSq(eFixed, "vec_id", "embedding", fullFixed, m)
    assert(AnnIndex.topKSq(fixed, q, "vec_id", "embedding", k = 3)
        .collect().map(_.toSeq).toSet ==
      AnnIndex.topKSq(AnnIndex.loadSq(spark, fullFixed), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet,
      "SQ correction diverged from the corrected-corpus build")
    // the same correction, streamed through streamUpsertSq onto a fresh
    // build of the uncorrected corpus (its own checkpoint: independent
    // keyed streams must not share an index)
    val streamed = s"$root/streamed"
    AnnIndex.buildSq(e, "vec_id", "embedding", streamed, m)
    corr.coalesce(1).write.parquet(s"$root/corrLanding")
    AnnIndex.streamUpsertSq(spark.readStream.schema(corr.schema)
        .parquet(s"$root/corrLanding"), "vec_id", "embedding", streamed,
      s"$root/corrCkpt", Trigger.AvailableNow()).awaitTermination()
    val streamedIdx = AnnIndex.loadSq(spark, streamed)
    assert(streamedIdx.codes.filter(col("neighbor_id") === 7L).count() == 1,
      "streamed SQ correction duplicated or dropped the row")
    assert(AnnIndex.topKSq(streamedIdx, q, "vec_id", "embedding", k = 3)
        .collect().map(_.toSeq).toSet ==
      AnnIndex.topKSq(AnnIndex.loadSq(spark, fullFixed), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet,
      "streamed SQ correction diverged from the corrected-corpus build")
  }

  test("an uncommitted segment (no manifest entry) is invisible to readers") {
    val e = corpus(30).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // simulate an appender that died after its segment write but before
    // the manifest publish: a complete batch dir, no manifest entry
    graft.operators.Pq.ivfPqEncode(e.filter(col("vec_id") < 5), "vec_id",
        "embedding", cents, cbs)
      .select(col("neighbor_id"), col("codes"), col("_cell").as("cell"))
      .coalesce(1).sortWithinPartitions("cell").write.parquet(s"$dir/data/batch-99")
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 30 && idx.codes.count() == 30 &&
      idx.batches == Seq(0L))
  }

  test("pruned searches leave nothing behind in the cache manager (serving-path leak)") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    val q = e.filter(col("vec_id") % 10 === 0)
    // several serving calls on the same query frame — the round-13
    // persist-based pin left the CALLER's frame cached forever (and
    // logged CacheManager re-cache warnings from the second call on)
    (1 to 3).foreach { _ =>
      assert(AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2,
        prune = true).count() > 0)
    }
    assert(q.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      s"pruned search silently pinned the caller's query frame: ${q.storageLevel}")
    // a batch above the snapshot cap runs the operator plan over a pinned
    // copy of the batch, never a cache of the caller's frame
    val big = spark.range(AnnIndex.snapshotCollectMax + 1).select(
      col("id").as("vec_id"), transform(sequence(lit(0), lit(dim - 1)),
        j => when(j === col("id") % 4 * 2, 10.0f).otherwise(0.0f)).as("embedding"))
    assert(AnnIndex.topK(idx, big, "vec_id", "embedding", k = 3, nprobe = 2)
      .count() > 0)
    assert(big.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // and the SQ pruned path makes the same promise
    val sqDir = s"${tmpDir()}/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", sqDir,
      graft.operators.Sq.fit(e, "embedding"), Some(cents))
    val sqIdx = AnnIndex.loadSq(spark, sqDir)
    assert(AnnIndex.topKSq(sqIdx, q, "vec_id", "embedding", k = 3,
      nprobe = 2, prune = true).count() > 0)
    assert(q.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("prune=false equals prune=true") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    val q = e.filter(col("vec_id") % 7 === 0)
    val a = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 2, nprobe = 2,
      prune = true).collect().map(_.toSeq).toSet
    val b = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 2, nprobe = 2,
      prune = false).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("publish is atomic: a dead builder's _tmp orphan is invisible; rebuild swaps cleanly") {
    val e = corpus(30).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // simulate a builder that died mid-stage: partial _tmp tree beside it
    val orphan = new java.io.File(s"$root/_tmp.idx/codes")
    assert(orphan.mkdirs())
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 30)
    // rebuild over the live index (and over the orphan) replaces both
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    val idx2 = AnnIndex.load(spark, dir)
    assert(idx2.nrows == 20)
    assert(!new java.io.File(s"$root/_tmp.idx").exists())
  }

  test("time travel: load asOf an older manifest reproduces the pre-append snapshot") {
    val e = corpus(50).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 25), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 25), "vec_id",
      "embedding", dir)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(0L, 1L))
    val old = AnnIndex.load(spark, dir, asOf = Some(0L))
    assert(old.nrows == 25 && old.batches == Seq(0L))
    assert(AnnIndex.load(spark, dir).nrows == 50)
    // unknown / expired generation fails loudly, not silently-current
    val ex = intercept[IllegalArgumentException](
      AnnIndex.load(spark, dir, asOf = Some(9L)))
    assert(ex.getMessage.contains("m-9"))
    AnnIndex.expire(spark, dir)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(1L))
  }

  test("SQ8 tier: round trip, model survival, incremental==full, flat-segment compact") {
    import graft.operators.Sq
    val e = corpus(60).cache()
    val m = Sq.fit(e, "embedding")
    val root = tmpDir()
    val dir = s"$root/sq"
    AnnIndex.buildSq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      dir, m)
    AnnIndex.appendSq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      dir)
    val idx = AnnIndex.loadSq(spark, dir)
    assert(idx.nrows == 60 && idx.batches == Seq(0L, 1L) && idx.dim == dim)
    // model literals survive the parquet round trip bit-exactly
    assert(idx.model.mins.toSeq == m.mins.toSeq &&
      idx.model.steps.toSeq == m.steps.toSeq &&
      idx.model.invSteps.toSeq == m.invSteps.toSeq)
    val q = e.filter(col("vec_id") % 10 === 0)
    val got = AnnIndex.topKSq(idx, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val want = Sq.topK(q, Sq.encode(e, "vec_id", "embedding", m),
      "vec_id", "embedding", m, k = 3).collect().map(_.toSeq).toSet
    assert(got == want, "persisted SQ search diverged from the in-memory path")
    // compact flattens two segments into one; search unchanged
    AnnIndex.compact(spark, dir)
    AnnIndex.expire(spark, dir)
    val idx2 = AnnIndex.loadSq(spark, dir)
    assert(idx2.batches == Seq(2L) && idx2.nrows == 60)
    assert(AnnIndex.topKSq(idx2, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet == want)
    // an IVF-PQ loader must refuse an sq8 directory
    val ex = intercept[IllegalArgumentException] {
      val (cents, cbs) = model(e)
      AnnIndex.buildIvfPq(e, "vec_id", "embedding", s"$root/pq", cents, cbs)
      AnnIndex.loadSq(spark, s"$root/pq")
    }
    assert(ex.getMessage.contains("sq8"))
    // ...and every IVF-PQ verb refuses an sq8 directory, leaving the
    // destination's manifest chain untouched
    val pqVersions = AnnIndex.versionsOf(spark, s"$root/pq")
    val sqVersions = AnnIndex.versionsOf(spark, dir)
    intercept[IllegalArgumentException](AnnIndex.load(spark, dir))
    intercept[IllegalArgumentException](AnnIndex.appendIvfPq(
      e.filter(col("vec_id") < 5), "vec_id", "embedding", dir))
    assert(AnnIndex.versionsOf(spark, dir) == sqVersions)
    intercept[IllegalArgumentException](
      AnnIndex.merge(spark, s"$root/pq", dir))
    assert(AnnIndex.versionsOf(spark, s"$root/pq") == pqVersions)
  }

  test("upsertBatchIvfPq: correction atomically replaces the stale vector; replay is a no-op") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    val stale = e.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(5.0f)).otherwise(x)).as("embedding"))
    AnnIndex.buildIvfPq(stale, "vec_id", "embedding", dir, cents, cbs)
    val fix = e.filter(col("vec_id") < 20)
    AnnIndex.upsertBatchIvfPq(fix, "vec_id", "embedding", dir, Some(0L))
    AnnIndex.upsertBatchIvfPq(fix, "vec_id", "embedding", dir, Some(0L)) // replay
    val idx = AnnIndex.load(spark, dir)
    assert(idx.batches.length == 2,
      s"replay must be a no-op, not a new segment: ${idx.batches}")
    // exactly one visible row per id: corrected for <20, stale for >=20
    assert(idx.codes.count() == 40)
    assert(idx.codes.groupBy(col("neighbor_id")).count()
      .filter(col("count") > 1).count() == 0, "stale copy still visible")
    // corrected rows carry the TRUE encodes (bit-equal to a true build)
    val trueDir = s"$root/true"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", trueDir, cents, cbs)
    def rows(d: String, pred: org.apache.spark.sql.Column) =
      AnnIndex.load(spark, d).codes.filter(pred)
        .collect().map(_.toSeq).toSet
    assert(rows(dir, col("neighbor_id") < 20) ==
      rows(trueDir, col("neighbor_id") < 20))
    // ...and the uncorrected rows still carry the stale encodes
    val staleDir = s"$root/stale"
    AnnIndex.buildIvfPq(stale, "vec_id", "embedding", staleDir, cents, cbs)
    assert(rows(dir, col("neighbor_id") >= 20) ==
      rows(staleDir, col("neighbor_id") >= 20))
    // compact physically drops the masked stale copies
    AnnIndex.compact(spark, dir)
    val compacted = AnnIndex.load(spark, dir)
    assert(compacted.nrows == 40 && compacted.codes.count() == 40)
    // the same correction, streamed: a fresh stale build corrected
    // through streamUpsert from one landing file searches exactly like
    // the true build
    import org.apache.spark.sql.streaming.Trigger
    val streamed = s"$root/streamed"
    AnnIndex.buildIvfPq(stale, "vec_id", "embedding", streamed, cents, cbs)
    e.coalesce(1).write.parquet(s"$root/landing")
    AnnIndex.streamUpsert(spark.readStream.schema(e.schema)
        .parquet(s"$root/landing"), "vec_id", "embedding", streamed,
      s"$root/ckpt", Trigger.AvailableNow()).awaitTermination()
    val fixedIdx = AnnIndex.load(spark, streamed)
    assert(fixedIdx.codes.filter(col("neighbor_id") === 7L).count() == 1,
      "streamed correction duplicated or dropped the row")
    val q = e.filter(col("vec_id") % 10 === 0)
    assert(AnnIndex.topK(fixedIdx, q, "vec_id", "embedding", k = 3,
        nprobe = 2).collect().map(_.toSeq).toSet ==
      AnnIndex.topK(AnnIndex.load(spark, trueDir), q, "vec_id", "embedding",
        k = 3, nprobe = 2).collect().map(_.toSeq).toSet,
      "streamed correction diverged from the corrected-corpus build")
  }

  test("cell-partitioned SQ8: full scan == flat layout; pruned probe is a partition filter") {
    import graft.operators.Sq
    import graft.plans.SketchExpressions.nearestCentroids
    val e = corpus(60).cache()
    val m = Sq.fit(e, "embedding")
    val (cents, _) = model(e)
    val root = tmpDir()
    val flat = s"$root/flat"
    val celled = s"$root/cells"
    AnnIndex.buildSq(e, "vec_id", "embedding", flat, m)
    AnnIndex.buildSq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      celled, m, Some(cents))
    AnnIndex.appendSq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      celled)
    val fi = AnnIndex.loadSq(spark, flat)
    val ci = AnnIndex.loadSq(spark, celled)
    assert(fi.centroids.isEmpty && ci.centroids.isDefined && ci.nlist == 4)
    val q = e.filter(col("vec_id") % 10 === 0)
    // the cell column is pure LAYOUT: default full scan hash-identical
    val flatRes = AnnIndex.topKSq(fi, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    assert(AnnIndex.topKSq(ci, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet == flatRes)
    // pruned mode: one query, nprobe=1 -> the probe reaches the segment
    // scans as a pushed parquet filter naming only the probed cell
    val q1 = e.filter(col("vec_id") === 0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (res, plan) =
      try {
        val (r, plan) = searchPlan(AnnIndex.topKSq(ci, q1, "vec_id",
          "embedding", k = 3, nprobe = 1, prune = true))
        (r.collect().map(_.toSeq).toSet, plan)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assertProbePushed(plan, probedCells(q1, cents, 1),
      "SQ probe did not reach the scan as a pushed cell filter")
    // pruned correctness: equals the in-memory SQ search restricted to
    // the probed cells (the IVF-SQ semantic)
    val probed = q1.select(explode(nearestCentroids(col("embedding"),
        cents, 1)).as("c")).distinct().collect().map(_.getInt(0)).toSet
    val sub = e.filter(element_at(nearestCentroids(col("embedding"),
      cents, 1), 1).isin(probed.toSeq.map(Int.box): _*))
    val want = Sq.topK(q1, Sq.encode(sub, "vec_id", "embedding", m),
      "vec_id", "embedding", m, k = 3).collect().map(_.toSeq).toSet
    assert(res == want, "pruned SQ search diverged from the restricted scan")
    // pruning a FLAT index fails loudly, never silently full-scans
    val ex = intercept[IllegalArgumentException](
      AnnIndex.topKSq(fi, q1, "vec_id", "embedding", k = 3, prune = true))
    assert(ex.getMessage.contains("cell-partitioned"))
    // compact keeps the cell column; full scan unchanged
    AnnIndex.compact(spark, celled)
    assert(AnnIndex.topKSq(AnnIndex.loadSq(spark, celled), q, "vec_id",
      "embedding", k = 3).collect().map(_.toSeq).toSet == flatRes)
  }

  test("upsertBatchIvfPq: a correction of a correction — last write wins, once") {
    val e = corpus(30).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    def shifted(by: Float) = e.filter(col("vec_id") === 7)
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(by)).otherwise(x)).as("embedding"))
    AnnIndex.upsertBatchIvfPq(shifted(3.0f), "vec_id", "embedding", dir, Some(0L))
    AnnIndex.upsertBatchIvfPq(shifted(9.0f), "vec_id", "embedding", dir, Some(1L))
    val idx = AnnIndex.load(spark, dir)
    val rows7 = idx.codes.filter(col("neighbor_id") === 7)
      .collect().map(_.toSeq)
    assert(rows7.length == 1,
      s"expected exactly the last correction, got ${rows7.length} copies")
    // the surviving row is the SECOND correction's encode: bit-equal to
    // a fresh build containing only that version of id 7
    val refDir = s"${tmpDir()}/ref"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") =!= 7).unionByName(shifted(9.0f)),
      "vec_id", "embedding", refDir, cents, cbs)
    val want = AnnIndex.load(spark, refDir).codes
      .filter(col("neighbor_id") === 7).collect().map(_.toSeq)
    assert(rows7.toSet == want.toSet, "stale correction survived")
    // compaction purges both stale copies and stays at one row
    AnnIndex.compact(spark, dir)
    assert(AnnIndex.load(spark, dir).codes
      .filter(col("neighbor_id") === 7).count() == 1)
  }

  test("topKWhere: pre-filter semantics — equals an index built on only the allowed rows") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val full = s"$root/full"
    val subset = s"$root/subset"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cents, cbs)
    val allowedPred = col("vec_id") % 3 =!= 0 // 2/3 of the corpus
    AnnIndex.buildIvfPq(e.filter(allowedPred), "vec_id", "embedding",
      subset, cents, cbs)
    val q = e.filter(col("vec_id") % 10 === 0)
    val got = AnnIndex.topKWhere(AnnIndex.load(spark, full), q, "vec_id",
        "embedding", allowed = e.filter(allowedPred), allowedIdCol = "vec_id",
        k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    // no disallowed neighbor anywhere
    assert(got.forall(r => r(1).asInstanceOf[Long] % 3 != 0),
      "filtered search surfaced a disallowed neighbor")
    // pre-filter semantics: identical to searching an index that only
    // ever contained the allowed rows (deterministic per-row encode)
    val want = AnnIndex.topK(AnnIndex.load(spark, subset), q, "vec_id",
        "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want, "mask-at-read diverged from the allowed-only build")
  }

  test("probe partition filter survives tombstones (pushdown through the anti-join)") {
    import spark.implicits._
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    AnnIndex.delete(Seq(11L, 22L, 33L).toDF("vec_id"), "vec_id", dir)
    val idx = AnnIndex.load(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try searchPlan(AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3,
        nprobe = 1))._2
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assertProbePushed(plan, probedCells(q, cents, 1),
      "the tombstone mask blocked the probe filter from reaching the scan")
  }

  test("SQ filtered search: pre-filter semantics, literal hatch semantics-neutral, asOf pins") {
    import spark.implicits._
    val e = corpus(60).cache()
    val (cents, _) = model(e)
    val dir = s"${tmpDir()}/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", dir,
      graft.operators.Sq.fit(e, "embedding"), Some(cents))
    val idx = AnnIndex.loadSq(spark, dir)
    val q = e.filter(col("vec_id") % 10 === 0)
    val allowedPred = col("vec_id") % 3 =!= 0
    val got = AnnIndex.topKWhereSq(idx, q, "vec_id", "embedding",
        allowed = e.filter(allowedPred), allowedIdCol = "vec_id", k = 3)
      .collect().map(_.toSeq).toSet
    // no disallowed neighbor anywhere, and k allowed neighbors returned
    assert(got.nonEmpty &&
      got.forall(r => r(1).asInstanceOf[Long] % 3 != 0),
      "SQ filtered search surfaced a disallowed neighbor")
    // identical to manually restricting the codes scan (the model was
    // fitted on the FULL corpus — mask-at-read must not refit)
    val want = AnnIndex.topKSq(
        idx.copy(codes = idx.codes.filter(col("neighbor_id") % 3 =!= 0)),
        q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // the literal hatch (40 allowed ids <= smallMask) ranks identically
    // to the big-mask plan
    val big = AnnIndex.topKWhereSq(idx, q, "vec_id", "embedding",
        allowed = e.filter(allowedPred), allowedIdCol = "vec_id", k = 3,
        smallMask = 0)
      .collect().map(_.toSeq).toSet
    assert(got == big, "SQ tiny-mask hatch changed ranking semantics")
    // asOf: a generation pinned before an append never sees its rows
    AnnIndex.appendSq(e.select(col("vec_id") + lit(1000L) as "vec_id",
      col("embedding")), "vec_id", "embedding", dir)
    assert(AnnIndex.loadSq(spark, dir).nrows == 120)
    assert(AnnIndex.loadSq(spark, dir, asOf = Some(0L)).codes.count() == 60)
    val ex = intercept[IllegalArgumentException](
      AnnIndex.loadSq(spark, dir, asOf = Some(9L)))
    assert(ex.getMessage.contains("m-9"))
  }

  test("SQ filtered + pruned compose: mask semi-join under the probe partition filter") {
    val e = corpus(60).cache()
    val (cents, _) = model(e)
    val dir = s"${tmpDir()}/sqc"
    AnnIndex.buildSq(e, "vec_id", "embedding", dir,
      graft.operators.Sq.fit(e, "embedding"), Some(cents))
    val idx = AnnIndex.loadSq(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val allowed = e.filter(col("vec_id") % 3 =!= 0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val res =
      try {
        val (r, plan) = searchPlan(AnnIndex.topKWhereSq(idx, q, "vec_id",
          "embedding", allowed = allowed, allowedIdCol = "vec_id", k = 3,
          nprobe = 1, prune = true))
        assertProbePushed(plan, probedCells(q, cents, 1),
          "mask semi-join blocked the SQ probe filter from the scan")
        r.collect().map(_.toSeq).toSet
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(res.nonEmpty &&
      res.forall(r => r(1).asInstanceOf[Long] % 3 != 0))
  }

  test("SQ pruned probe partition filter survives tombstones too") {
    import spark.implicits._
    val e = corpus(60).cache()
    val (cents, _) = model(e)
    val dir = s"${tmpDir()}/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", dir,
      graft.operators.Sq.fit(e, "embedding"), Some(cents))
    AnnIndex.delete(Seq(11L, 22L, 33L).toDF("vec_id"), "vec_id", dir)
    val idx = AnnIndex.loadSq(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try searchPlan(AnnIndex.topKSq(idx, q, "vec_id", "embedding", k = 3,
        nprobe = 1, prune = true))._2
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assertProbePushed(plan, probedCells(q, cents, 1),
      "the tombstone mask blocked the SQ probe filter from reaching the scan")
  }

  test("topKWhere tiny allowlist: mask re-plants as a broadcast literal, probe filter still prunes") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val allowed = e.filter(col("vec_id").isin(5L, 6L, 7L, 8L, 9L))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (small, big) =
      try {
        val (s, plan) = searchPlan(AnnIndex.topKWhere(idx, q, "vec_id",
          "embedding", allowed = allowed, allowedIdCol = "vec_id", k = 3,
          nprobe = 1))
        // the allowed-side subplan collapsed to a literal local relation
        assert(plan.exists {
          case _: org.apache.spark.sql.execution.LocalTableScanExec => true
          case _ => false
        }, s"tiny mask was not re-planted as a literal:\n$plan")
        // ... without a SECOND parquet scan for the mask: every file
        // scan in the plan reads index segments, none the corpus
        val scans = plan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
        assert(scans.nonEmpty && scans.forall(
          _.relation.location.rootPaths.exists(_.toString.contains("/data/batch-"))),
          "the literal-mask path still scanned the allowed-side source")
        // and the probe's pushed cell filter survives the semi-join
        assertProbePushed(plan, probedCells(q, cents, 1),
          "the literal mask blocked the probe filter from the scan")
        // semantics identical to the big-mask plan (smallMask = 0
        // disables the hatch): same oracle covers both paths
        (s.collect().map(_.toSeq).toSet,
          AnnIndex.topKWhere(idx, q, "vec_id", "embedding",
            allowed = allowed, allowedIdCol = "vec_id", k = 3, nprobe = 1,
            smallMask = 0).collect().map(_.toSeq).toSet)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(small == big, "escape hatch changed ranking semantics")
    assert(small.nonEmpty &&
      small.forall(r => Set(5L, 6L, 7L, 8L, 9L)(r(1).asInstanceOf[Long])))
  }

  test("describe: one row per generation x artifact, high-waters visible, no data reads") {
    import spark.implicits._
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
      "embedding", dir, Some(0L))
    AnnIndex.delete(Seq(3L).toDF("vec_id"), "vec_id", dir)
    val d = AnnIndex.describe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(d == Set(
      (0L, "segment", 0L, 20L, 0L, -1L, 0L),
      (1L, "segment", 0L, 20L, 1L, 0L, 0L),
      (1L, "segment", 1L, 20L, 1L, 0L, 0L),
      (2L, "segment", 0L, 20L, 2L, 0L, 0L),
      (2L, "segment", 1L, 20L, 2L, 0L, 0L),
      (2L, "tombstone", 2L, 1L, 2L, 0L, 0L)), s"describe mismatch: $d")
    // post-compact: one segment, no tombstones, high-water advanced
    AnnIndex.compact(spark, dir)
    AnnIndex.expire(spark, dir)
    val after = AnnIndex.describe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(after == Set((3L, "segment", 3L, 39L, 3L, 0L, 0L)),
      s"post-maintenance describe mismatch: $after")
  }

  test("load validates model tables against meta") {
    val e = corpus(30).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    AnnIndex.load(spark, dir) // warm: the rewrite below must still miss
    // corrupt: drop a codebook row
    val cbPath = s"$dir/codebooks"
    val rows = spark.read.parquet(cbPath).filter(col("code") =!= 1 || col("s") =!= 0)
    val tmp = s"$dir/codebooks_tmp"
    rows.write.parquet(tmp)
    val f = new java.io.File(cbPath)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
    }
    rm(f)
    assert(new java.io.File(tmp).renameTo(f))
    val ex = intercept[IllegalArgumentException](AnnIndex.load(spark, dir))
    assert(ex.getMessage.contains("codebooks"))
    // an SQ8 cell index whose centroids table lost an interior row must
    // not open: its probes would route to the wrong cells
    val sq = s"${tmpDir()}/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", sq,
      graft.operators.Sq.fit(e, "embedding"), Some(cents))
    AnnIndex.loadSq(spark, sq)
    val centPath = s"$sq/centroids"
    val centTmp = s"$sq/centroids_tmp"
    spark.read.parquet(centPath).filter(col("cell") =!= 2)
      .write.parquet(centTmp)
    rm(new java.io.File(centPath))
    assert(new java.io.File(centTmp).renameTo(new java.io.File(centPath)))
    val exSq = intercept[IllegalArgumentException](AnnIndex.loadSq(spark, sq))
    assert(exSq.getMessage.contains("centroids"), exSq.getMessage)
  }

  test("re-opening an unchanged index launches no Spark job; a warm append reads no model") {
    import graft.operators.Sq
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val pq = s"$root/pq"
    val sq = s"$root/sq"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      pq, cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", sq, Sq.fit(e, "embedding"),
      Some(cents))
    val pq1 = AnnIndex.load(spark, pq)
    val sq1 = AnnIndex.loadSq(spark, sq)
    val (pq2, pqJobs) = jobsOf(AnnIndex.load(spark, pq))
    assert(pqJobs.size == 0, "jobs launched by the second load")
    val (sq2, sqJobs) = jobsOf(AnnIndex.loadSq(spark, sq))
    assert(sqJobs.size == 0, "jobs launched by the second loadSq")
    // a memo hit is what the uncached read returned
    assert(pq2.centroids.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(pq2.cbs.map(_.map(_.toSeq).toSeq).toSeq ==
      pq1.cbs.map(_.map(_.toSeq).toSeq).toSeq)
    assert(pq2.codes.collect().map(_.toSeq).toSet ==
      pq1.codes.collect().map(_.toSeq).toSet)
    assert(sq2.model.mins.toSeq == sq1.model.mins.toSeq &&
      sq2.model.steps.toSeq == sq1.model.steps.toSeq &&
      sq2.model.invSteps.toSeq == sq1.model.invSteps.toSeq)
    assert(sq2.centroids.map(_.map(_.toSeq).toSeq) ==
      sq1.centroids.map(_.map(_.toSeq).toSeq))
    // every handle owns its arrays: mutating one never reaches the next
    pq2.centroids(0)(0) = 99.0
    sq2.model.mins(0) = 99.0
    assert(AnnIndex.load(spark, pq).centroids(0)(0) == cents(0)(0))
    assert(AnnIndex.loadSq(spark, sq).model.mins(0) == sq1.model.mins(0))
    // the append's encode model comes from the memo; only its write
    // runs. A model read starts with the `meta` collect on the calling
    // thread, whose call site names readModel
    val (_, appendJobs) = jobsOf(AnnIndex.appendIvfPq(
      e.filter(col("vec_id") >= 30), "vec_id", "embedding", pq))
    assert(appendJobs.nonEmpty, "the append wrote nothing")
    assert(!appendJobs.exists(_.contains("readModel")),
      "appendIvfPq launched a job to read the model")
    assert(AnnIndex.load(spark, pq).nrows == 40)
    val (_, sqAppendJobs) = jobsOf(AnnIndex.appendSq(
      e.filter(col("vec_id") < 5), "vec_id", "embedding", sq))
    assert(sqAppendJobs.nonEmpty, "the SQ append wrote nothing")
    assert(!sqAppendJobs.exists(_.contains("readModel")),
      "appendSq launched a job to read the model")
    // positive control: the first append onto an index no one has opened
    // reads its model, and that job's call site names readModel
    val coldPq = s"$root/coldPq"
    val coldSq = s"$root/coldSq"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      coldPq, cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", coldSq,
      Sq.fit(e, "embedding"), Some(cents))
    val (_, coldPqJobs) = jobsOf(AnnIndex.appendIvfPq(
      e.filter(col("vec_id") >= 30), "vec_id", "embedding", coldPq))
    assert(coldPqJobs.exists(_.contains("readModel")),
      "a cold appendIvfPq launched no job named readModel: " + coldPqJobs)
    val (_, coldSqJobs) = jobsOf(AnnIndex.appendSq(
      e.filter(col("vec_id") < 5), "vec_id", "embedding", coldSq))
    assert(coldSqJobs.exists(_.contains("readModel")),
      "a cold appendSq launched no job named readModel: " + coldSqJobs)
  }

  test("a rebuild in place within the same second opens the new model") {
    import graft.operators.Sq
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val cents2 = e.filter(col("vec_id").between(4, 7)).orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val sq1 = Sq.fit(e, "embedding")
    val sq2 = Sq.fit(e.filter(col("vec_id") < 20), "embedding")
    assert(cents2.map(_.toSeq).toSeq != cents.map(_.toSeq).toSeq)
    assert(sq2.mins.toSeq != sq1.mins.toSeq)
    val root = tmpDir()
    val pq = s"$root/pq"
    val sq = s"$root/sq"
    // every model file of both builds carries the same mtime, so only
    // the file names and lengths can tell the two builds apart
    val mtime = 1700000000000L
    def pinMtimes(dir: String): Unit =
      Seq("meta", "centroids", "codebooks", "model").foreach { t =>
        Option(new java.io.File(s"$dir/$t").listFiles())
          .foreach(_.foreach(_.setLastModified(mtime)))
      }
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", pq, cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", sq, sq1, Some(cents))
    pinMtimes(pq); pinMtimes(sq)
    AnnIndex.load(spark, pq)
    AnnIndex.loadSq(spark, sq)
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", pq, cents2, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", sq, sq2, Some(cents2))
    pinMtimes(pq); pinMtimes(sq)

    val q = e.filter(col("vec_id") % 10 === 0)
    val idx = AnnIndex.load(spark, pq)
    assert(idx.centroids.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", s"$root/fresh_pq", cents2,
      cbs)
    assert(AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet ==
      AnnIndex.topK(AnnIndex.load(spark, s"$root/fresh_pq"), q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet)

    val sidx = AnnIndex.loadSq(spark, sq)
    assert(sidx.model.mins.toSeq == sq2.mins.toSeq &&
      sidx.model.steps.toSeq == sq2.steps.toSeq)
    assert(sidx.centroids.map(_.map(_.toSeq).toSeq) ==
      Some(cents2.map(_.toSeq).toSeq))
    AnnIndex.buildSq(e, "vec_id", "embedding", s"$root/fresh_sq", sq2,
      Some(cents2))
    assert(AnnIndex.topKSq(sidx, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet ==
      AnnIndex.topKSq(AnnIndex.loadSq(spark, s"$root/fresh_sq"), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet)
  }

  test("splitCell: the hot cell re-keys under its sub-centroids; everything else is untouched") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx0 = AnnIndex.load(spark, dir)
    val pre = idx0.codes.select(col("neighbor_id"), col("_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hot = pre.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (c, n) => (-n, c) }.head._1
    val members = pre.collect { case (id, c) if c == hot => id }.toSet
    // sub-centroids: two member vectors, normalized (any deterministic
    // derivation works — the verb takes them as parameters)
    val subIds = members.toSeq.sorted.take(2)
    val subs = e.filter(col("vec_id").isin(subIds.map(Long.box): _*))
      .orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    AnnIndex.splitCell(e, "vec_id", "embedding", dir, hot, subs)

    val idx1 = AnnIndex.load(spark, dir)
    val post = idx1.codes.select(col("neighbor_id"), col("_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // content preserved exactly: same ids, one row each
    assert(post.keySet == pre.keySet, "split changed the id set")
    // nlist grew by k-1; the new cell id is the appended slot
    assert(idx1.nlist == idx0.nlist + 1)
    val newCell = idx0.nlist + 1
    // hot members live ONLY in {hot, newCell}; the split is effective
    // (both sub-cells non-empty for a cell seeded by two of its own
    // members); nobody else moved
    assert(members.forall(id => post(id) == hot || post(id) == newCell))
    assert(members.exists(id => post(id) == hot) &&
      members.exists(id => post(id) == newCell),
      "split left the cell whole — sub-centroids did not divide it")
    assert(pre.forall { case (id, c) => members.contains(id) || post(id) == c },
      "a row outside the split cell changed assignment")
    // the hot cell's population strictly shrank — the remediation claim
    assert(post.count(_._2 == hot) < members.size)
    // pinned pre-split reader: old model, old assignment, old nlist
    val pinned = AnnIndex.load(spark, dir, asOf = Some(0L))
    assert(pinned.nlist == idx0.nlist)
    assert(pinned.codes.select(col("neighbor_id"), col("_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap == pre)
    // the post-split snapshot serves
    assert(AnnIndex.topK(idx1, e.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", k = 3, nprobe = 2).count() > 0)
  }

  test("splitCell aborts loudly and cleanly: empty cell, non-covering corpus, concurrent commit") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    val idx0 = AnnIndex.load(spark, dir)
    val pre = idx0.codes.select(col("neighbor_id"), col("_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hot = pre.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (c, n) => (-n, c) }.head._1
    val members = pre.collect { case (id, c) if c == hot => id }.toSet
    val subs = Array(Array.fill(dim)(0.5), Array.fill(dim)(-0.5))

    // an emptied cell has nothing to split — loud, no manifest change
    AnnIndex.delete(members.toSeq.toDF("vec_id"), "vec_id", dir)
    val gens0 = AnnIndex.versionsOf(spark, dir)
    val exEmpty = intercept[IllegalArgumentException](
      AnnIndex.splitCell(e, "vec_id", "embedding", dir, hot, subs))
    assert(exEmpty.getMessage.contains("empty"), exEmpty.getMessage)
    assert(AnnIndex.versionsOf(spark, dir) == gens0)

    // a corpus missing a member row must abort BEFORE any manifest
    // change (splitting would silently drop that row)
    val dir2 = s"${tmpDir()}/idx2"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir2, cents, cbs)
    val missing = members.head
    val exCover = intercept[IllegalArgumentException](
      AnnIndex.splitCell(e.filter(col("vec_id") =!= missing),
        "vec_id", "embedding", dir2, hot, subs))
    assert(exCover.getMessage.contains("does not cover"), exCover.getMessage)
    assert(AnnIndex.versionsOf(spark, dir2) == Seq(0L))
    assert(AnnIndex.load(spark, dir2).codes.count() == 40)

    // a concurrent commit in the split's snapshot window aborts the
    // split (retrain's rule: the racer's rows may sit in the retiring
    // cell); the racer's commit survives untouched
    val subs2 = e.filter(col("vec_id").isin(members.toSeq.sorted.take(2)
        .map(Long.box): _*))
      .orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    IndexLog.testBeforePublish.put(dir2, () =>
      AnnIndex.appendIvfPq(
        Seq((1000L, Array.fill(dim)(9.0f).toSeq)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir2))
    intercept[java.util.ConcurrentModificationException](
      AnnIndex.splitCell(e, "vec_id", "embedding", dir2, hot, subs2))
    val after = AnnIndex.load(spark, dir2)
    assert(after.codes.count() == 41, "the racing append's row was lost")
    assert(after.nlist == cents.length, "an aborted split left a new model")
    // the re-run against the fresh snapshot (now covering the racer's
    // row) succeeds
    AnnIndex.splitCell(
      e.unionByName(Seq((1000L, Array.fill(dim)(9.0f).toSeq))
        .toDF("vec_id", "embedding")),
      "vec_id", "embedding", dir2, hot, subs2)
    assert(AnnIndex.load(spark, dir2).nlist == cents.length + 1)
    assert(AnnIndex.load(spark, dir2).codes.count() == 41)
  }

  test("a warm search is one Spark job, tombstones or not; no job at load after compact") {
    import graft.operators.Sq
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val (pq, sqFlat, sqCells) = (s"$root/pq", s"$root/sqf", s"$root/sqc")
    val m = Sq.fit(e, "embedding")
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", pq, cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", sqFlat, m)
    AnnIndex.buildSq(e, "vec_id", "embedding", sqCells, m, Some(cents))
    // the request carries its vectors (a driver local relation)
    val rows = e.filter(col("vec_id") % 10 === 0).collect()
    val q = spark.createDataFrame(java.util.Arrays.asList(rows: _*), e.schema)
    // each search opens its snapshot; a warm open launches no job
    val searches: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pruned topK" -> (() => AnnIndex.topK(AnnIndex.load(spark, pq), q,
        "vec_id", "embedding", k = 3, nprobe = 2)),
      "flat topKSq" -> (() => AnnIndex.topKSq(AnnIndex.loadSq(spark, sqFlat),
        q, "vec_id", "embedding", k = 3)),
      "pruned topKSq" -> (() => AnnIndex.topKSq(
        AnnIndex.loadSq(spark, sqCells), q, "vec_id", "embedding", k = 3,
        nprobe = 2, prune = true)))
    def jobCounts(): Seq[(String, Int)] = searches.map { case (what, search) =>
      search().collect() // warm: model memo, codegen
      what -> jobsOf(search().collect())._2.size
    }
    jobCounts().foreach { case (what, n) =>
      assert(n == 1, s"$what on a tombstone-free snapshot launched $n jobs")
    }
    Seq(pq, sqFlat, sqCells).foreach(dir =>
      AnnIndex.delete(Seq(11L, 22L, 33L).toDF("vec_id"), "vec_id", dir))
    jobCounts().foreach { case (what, n) =>
      assert(n == 1, s"$what with one tombstone set launched $n jobs")
    }
    // the compacted segment is read with the schema its model already has
    AnnIndex.compact(spark, pq)
    AnnIndex.compact(spark, sqCells)
    val (_, pqLoad) = jobsOf(AnnIndex.load(spark, pq))
    assert(pqLoad.isEmpty, s"a load after compact launched ${pqLoad.size} jobs")
    val (_, sqLoad) = jobsOf(AnnIndex.loadSq(spark, sqCells))
    assert(sqLoad.isEmpty, s"a loadSq after compact launched ${sqLoad.size} jobs")
  }

  /** `df` landed as one parquet file and read back, as a write arrives
    * from a landing directory (a file scan, sized by the optimizer from
    * the file). */
  private def landed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = s"${tmpDir()}/landing"
    df.coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  /** The newest tombstone set of `dir`'s current manifest: its directory
    * and its row count. */
  private def lastTomb(dir: String): (String, Long) = {
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val t = IndexLog.refresh(f, dir)._2.tombs.last
    (s"$dir/tomb/${t.dirName}", t.n)
  }

  private def sparkWritten(tdir: String): Boolean =
    new java.io.File(new java.net.URI(tdir).getPath, "_SUCCESS").exists

  test("a small append, upsert or delete is one Spark job on both codecs; " +
      "the next open launches none and reads no tombstone file") {
    import graft.operators.Sq
    TombReadCountingFs.register(spark)
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val m = Sq.fit(e, "embedding")
    val root = s"${TombReadCountingFs.Scheme}://${tmpDir()}"
    val base = e.filter(col("vec_id") < 40)
    val delta = landed(e.filter(col("vec_id") >= 40))
    val fix = landed(e.filter(col("vec_id") < 10))
    val gone = landed(e.filter(col("vec_id").between(20, 24)).select("vec_id"))
    val (pq, sqFlat, sqCells) = (s"$root/pq", s"$root/sqf", s"$root/sqc")
    AnnIndex.buildIvfPq(base, "vec_id", "embedding", pq, cents, cbs)
    AnnIndex.buildSq(base, "vec_id", "embedding", sqFlat, m)
    AnnIndex.buildSq(base, "vec_id", "embedding", sqCells, m, Some(cents))
    type Verb = org.apache.spark.sql.DataFrame => Unit
    val tiers: Seq[(String, String, Verb, Verb, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("IVF-PQ", pq, AnnIndex.appendIvfPq(_, "vec_id", "embedding", pq),
        AnnIndex.upsertBatchIvfPq(_, "vec_id", "embedding", pq),
        () => AnnIndex.load(spark, pq).codes),
      ("SQ8 flat", sqFlat, AnnIndex.appendSq(_, "vec_id", "embedding", sqFlat),
        AnnIndex.upsertBatchSq(_, "vec_id", "embedding", sqFlat),
        () => AnnIndex.loadSq(spark, sqFlat).codes),
      ("SQ8 cells", sqCells, AnnIndex.appendSq(_, "vec_id", "embedding", sqCells),
        AnnIndex.upsertBatchSq(_, "vec_id", "embedding", sqCells),
        () => AnnIndex.loadSq(spark, sqCells).codes))
    for ((what, dir, append, upsert, open) <- tiers) {
      open() // the model memo, as a serving process has it
      def oneJob(verb: String)(body: => Unit): Unit = {
        val n = jobsOf(body)._2.size
        assert(n == 1, s"$what: a small $verb launched $n jobs")
      }
      def quietOpen(after: String): Unit = {
        val before = TombReadCountingFs.tombOpens.get
        val (_, jobs) = jobsOf(open())
        assert(jobs.isEmpty, s"$what: the open after the $after launched ${jobs.size} jobs")
        assert(TombReadCountingFs.tombOpens.get == before,
          s"$what: the open after the $after read a tombstone file")
      }
      oneJob("append")(append(delta))
      oneJob("upsert")(upsert(fix))
      quietOpen("upsert")
      oneJob("delete")(AnnIndex.delete(gone, "vec_id", dir))
      quietOpen("delete")
      assert(!sparkWritten(lastTomb(dir)._1), s"$what: the small set was a Spark write")
      // positive control: the same files under a path no open has seen are
      // read from disk, and give the codes the memo gave
      val copy = s"$dir-copy"
      TestSpark.copyTree(new java.net.URI(dir).getPath, new java.net.URI(copy).getPath)
      val before = TombReadCountingFs.tombOpens.get
      val fromDisk = TestSpark.multiset(
        if (what == "IVF-PQ") AnnIndex.load(spark, copy).codes
        else AnnIndex.loadSq(spark, copy).codes)
      assert(TombReadCountingFs.tombOpens.get > before,
        s"$what: an open of the copy read no tombstone file")
      assert(TestSpark.multiset(open()) == fromDisk, s"$what: memo and disk differ")
      assert(fromDisk.keys.count(_.head == 22L) == 0, s"$what: a deleted id is visible")
    }
  }

  test("a delta above the size threshold, or without a size estimate, keeps both shuffles") {
    val e = corpus(60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/pq"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding", dir,
      cents, cbs)
    AnnIndex.load(spark, dir)
    val delta = landed(e.filter(col("vec_id") >= 40))
    /** (jobs, whether a plan spread the rows round-robin) of one append. */
    def append(df: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
      val ((_, jobs), plans) = TestSpark.plansOf(jobsOf(
        AnnIndex.appendIvfPq(df, "vec_id", "embedding", dir)))
      (jobs.size, plans.exists(_.treeString.contains("RoundRobinPartitioning")))
    }
    assert(append(delta) == ((1, false)), "a small delta")
    val key = "spark.sql.files.openCostInBytes"
    val was = spark.conf.get(key)
    spark.conf.set(key, "1")
    try assert(append(delta) == ((3, true)), "a delta above the threshold")
    finally spark.conf.set(key, was)
    // an RDD-backed frame carries no size estimate (the default is Long.MaxValue)
    assert(append(spark.createDataFrame(delta.rdd, delta.schema)) == ((3, true)),
      "a delta with no size estimate")
    assert(AnnIndex.load(spark, dir).codes.count() == 100)
  }

  test("tombstone sets above the driver-held cap take the distributed write, " +
      "counted as distinct() counted them") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/pq"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // 5,000 ids, a repeat and two NULLs: 5,001 distinct values
    val many = spark.range(0, 5000).select(col("id").as("vec_id"))
      .unionByName(spark.range(0, 1).select(col("id").as("vec_id")))
      .unionByName(Seq(Option.empty[Long], None).toDF("vec_id"))
    AnnIndex.delete(many, "vec_id", dir)
    val (t1, n1) = lastTomb(dir)
    assert(n1 == 5001 && n1 == many.distinct().count(), s"above-cap delete counted $n1")
    assert(sparkWritten(t1), "an above-cap delete's set was not a Spark write")
    // below the cap the driver writes the set, counted the same way
    AnnIndex.delete(Seq(Some(1L), Some(1L), Some(2L), None, None).toDF("vec_id"),
      "vec_id", dir)
    val (t2, n2) = lastTomb(dir)
    assert(n2 == 3 && !sparkWritten(t2), s"small delete counted $n2")
    // an above-cap upsert: 5,000 vectors with distinct ids and one NULL id
    val big = spark.range(1000, 6000).select(col("id").as("vec_id"),
        array((0 until dim).map(j => (col("id") % (j + 2)).cast("float")): _*)
          .as("embedding"))
      .unionByName(Seq((Option.empty[Long], Seq.fill(dim)(1.0f)))
        .toDF("vec_id", "embedding"))
    AnnIndex.upsertBatchIvfPq(big, "vec_id", "embedding", dir)
    val (t3, n3) = lastTomb(dir)
    assert(n3 == 5001 && sparkWritten(t3), s"above-cap upsert counted $n3")
    assert(AnnIndex.load(spark, dir).batches.size == 2)
    assert(AnnIndex.load(spark, dir).nrows == 40 + 5001)
  }

  test("an upsert batch that repeats an id is rejected before publish, with nothing staged") {
    import graft.operators.Sq
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val (pq, sq) = (s"$root/pq", s"$root/sq")
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", pq, cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", sq, Sq.fit(e, "embedding"))
    val dup = e.filter(col("vec_id") < 5).unionByName(e.filter(col("vec_id") === 3))
    val nullIds = Seq((Option.empty[Long], Seq.fill(dim)(1.0f)),
      (Option.empty[Long], Seq.fill(dim)(2.0f))).toDF("vec_id", "embedding")
    val big = spark.range(1000, 6000).select(col("id").as("vec_id"),
      array((0 until dim).map(j => (col("id") % (j + 2)).cast("float")): _*)
        .as("embedding"))
    val bigDup = big.unionByName(big.filter(col("vec_id") === 1234L))
    def listing(dir: String) = Seq("data", "tomb").flatMap(sub =>
      Option(new java.io.File(s"$dir/$sub").list()).toSeq.flatten).sorted
    for ((what, dir, upsert) <- Seq[(String, String, org.apache.spark.sql.DataFrame => Unit)](
        ("IVF-PQ", pq, AnnIndex.upsertBatchIvfPq(_, "vec_id", "embedding", pq)),
        ("SQ8", sq, AnnIndex.upsertBatchSq(_, "vec_id", "embedding", sq)))) {
      for ((batch, size) <- Seq(dup -> "small", bigDup -> "above-cap")) {
        val before = (AnnIndex.versionsOf(spark, dir), listing(dir))
        val ex = intercept[IllegalArgumentException](upsert(batch))
        assert(ex.getMessage.contains("distinct ids"), ex.getMessage)
        assert((AnnIndex.versionsOf(spark, dir), listing(dir)) == before,
          s"$what: a rejected $size batch committed or left artifacts")
      }
      // NULL ids key nothing, so they may repeat
      upsert(e.filter(col("vec_id") < 3).unionByName(nullIds))
      assert(AnnIndex.versionsOf(spark, dir).size == 2)
    }
  }

  /** The data files of `dir`'s newest segment in its current manifest. */
  private def lastSegmentFiles(dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val seg = IndexLog.refresh(f, dir)._2.segs.last
    val files = f.listFiles(new org.apache.hadoop.fs.Path(s"$dir/data/${seg.dirName}"), true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith(".")).toSeq
  }

  test("a one-task segment write lands one data file on both cell codecs; " +
      "a spread write at most one per write task") {
    import graft.operators.Sq
    val e = corpus(80).cache()
    val (cents, cbs) = model(e)
    val m = Sq.fit(e, "embedding")
    val root = tmpDir()
    for ((what, dir, shard) <- Seq(("IVF-PQ", s"$root/pq", s"$root/pq-shard"),
                                   ("SQ8 cells", s"$root/sq", s"$root/sq-shard"))) {
      val pq = what == "IVF-PQ"
      def build(df: org.apache.spark.sql.DataFrame, at: String): Unit =
        if (pq) AnnIndex.buildIvfPq(df, "vec_id", "embedding", at, cents, cbs)
        else AnnIndex.buildSq(df, "vec_id", "embedding", at, m, Some(cents))
      def cells(at: String): Long =
        (if (pq) AnnIndex.load(spark, at).codes.select("_cell")
         else AnnIndex.loadSq(spark, at).codes.select("cell")).distinct().count()
      def oneFile(verb: String): Unit = {
        val files = lastSegmentFiles(dir)
        assert(files.size == 1, s"$what: a one-task $verb landed ${files.size} files")
      }
      build(e.filter(col("vec_id") < 40), dir)
      oneFile("build")
      if (pq) AnnIndex.appendIvfPq(e.filter(col("vec_id").between(40, 59)),
        "vec_id", "embedding", dir)
      else AnnIndex.appendSq(e.filter(col("vec_id").between(40, 59)),
        "vec_id", "embedding", dir)
      oneFile("append")
      if (pq) AnnIndex.upsertBatchIvfPq(e.filter(col("vec_id") < 8),
        "vec_id", "embedding", dir)
      else AnnIndex.upsertBatchSq(e.filter(col("vec_id") < 8),
        "vec_id", "embedding", dir)
      oneFile("upsert")
      AnnIndex.compact(spark, dir)
      oneFile("compact")
      assert(cells(dir) == 4, s"$what: the compacted segment holds ${cells(dir)} cells")
      build(e.filter(col("vec_id") >= 60), shard)
      if (pq) AnnIndex.merge(spark, dir, shard) else AnnIndex.mergeSq(spark, dir, shard)
      oneFile("merge")
      // a spread write (a delta above the size threshold) shuffles by cell:
      // each write task lands one file, whatever cells it holds
      val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          tasks.add(j.stageInfos.maxBy(_.stageId).numTasks)
      }
      val key = "spark.sql.files.openCostInBytes"
      val was = spark.conf.get(key)
      spark.conf.set(key, "1")
      spark.sparkContext.addSparkListener(listener)
      try jobsOf(if (pq) AnnIndex.appendIvfPq(e, "vec_id", "embedding", dir)
        else AnnIndex.appendSq(e, "vec_id", "embedding", dir))
      finally {
        spark.conf.set(key, was)
        spark.sparkContext.removeSparkListener(listener)
      }
      // jobsOf awaited its marker job: the write job's start was seen
      val writeTasks = tasks.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
        .dropRight(1).last
      val files = lastSegmentFiles(dir).size
      assert(files >= 1 && files <= writeTasks,
        s"$what: a spread write of $writeTasks tasks landed $files files")
    }
  }

  test("the pushed probe skips the row groups of unprobed cells by their statistics") {
    import graft.operators.Sq
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val e = corpus(2000).cache()
    val (cents, cbs) = model(e)
    // row groups of about a hundred rows, written through a session of this
    // spec's own: each one-file segment holds several row groups per cell
    val small = spark.newSession()
    small.conf.set("parquet.block.size", "1024")
    val local = small.createDataFrame(java.util.Arrays.asList(e.collect(): _*), e.schema)
    val root = tmpDir()
    AnnIndex.buildIvfPq(local, "vec_id", "embedding", s"$root/pq", cents, cbs)
    AnnIndex.buildSq(local, "vec_id", "embedding", s"$root/sq",
      Sq.fit(e, "embedding"), Some(cents))
    val q = e.filter(col("vec_id") === 0)
    val probed = probedCells(q, cents, 1)
    val conf = spark.sparkContext.hadoopConfiguration
    for ((what, dir, search) <- Seq[(String, String, () => Unit)](
        ("IVF-PQ", s"$root/pq", () => AnnIndex.topK(AnnIndex.load(spark, s"$root/pq"), q,
          "vec_id", "embedding", k = 3, nprobe = 1).collect()),
        ("SQ8 cells", s"$root/sq", () => AnnIndex.topKSq(AnnIndex.loadSq(spark, s"$root/sq"),
          q, "vec_id", "embedding", k = 3, nprobe = 1, prune = true).collect()))) {
      val Seq(file) = lastSegmentFiles(dir)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      // (rows, min cell, max cell) per row group
      val groups = try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          val st = b.getColumns.asScala.find(_.getPath.toDotString == "cell").get
            .getStatistics
          (b.getRowCount, st.genericGetMin.asInstanceOf[Integer].intValue,
            st.genericGetMax.asInstanceOf[Integer].intValue)
        }
      } finally reader.close()
      assert(groups.size > 4, s"$what: ${groups.size} row groups")
      val holding = groups.filter { case (_, lo, hi) => probed.exists(c => c >= lo && c <= hi) }
      val want = holding.map(_._1).sum
      assert(want > 0 && want < groups.map(_._1).sum,
        s"$what: row groups of the probed cells hold $want rows")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan =
        try searchPlan(search())._2
        finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      val Seq(scan) = segmentScans(plan)
      assert(scan.metrics("numOutputRows").value == want,
        s"$what: the scan read ${scan.metrics("numOutputRows").value} rows, " +
          s"the row groups holding cells $probed hold $want")
    }
  }

  test("a segment in the retired cell-directory layout fails the open loudly, " +
      "never drops rows") {
    val e = corpus(40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding", dir,
      cents, cbs)
    // a hand-written `partitionBy("cell")` segment, published beside the
    // clustered one, and then alone
    Pq.ivfPqEncode(e.filter(col("vec_id") >= 20), "vec_id", "embedding", cents, cbs)
      .withColumnRenamed("_cell", "cell")
      .write.partitionBy("cell").parquet(s"$dir/data/batch-old")
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val (mid, md) = IndexLog.refresh(f, dir)
    val old = IndexLog.Art(md.nextId, 20L, "batch-old")
    assert(IndexLog.publishStaged(f, dir, mid + 1,
      md.copy(segs = md.segs :+ old, hw = md.nextId)))
    assert(IndexLog.publishStaged(f, dir, mid + 2,
      md.copy(segs = Seq(old), hw = md.nextId)))
    for (gen <- Seq(mid + 1, mid + 2)) {
      val ex = intercept[IllegalStateException](
        AnnIndex.load(spark, dir, asOf = Some(gen)).codes.count())
      assert(ex.getMessage.contains("batch-old") &&
        !ex.getMessage.contains(md.segs.head.dirName), s"generation $gen: ${ex.getMessage}")
    }
  }
}
