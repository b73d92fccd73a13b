package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Sq}
import graft.sources.{AnnIndex, IndexLog}

/** Randomized crash-injection soak of the optimistic commit protocol
  * ([[graft.sources.AnnIndex]]): a seeded RNG drives a long random walk
  * of every in-chain verb (append / upsert / delete / compact / retrain
  * / merge / expire / splitCell(Sq) / rebalance(Sq) — the walk adopts
  * each new verb as it is added, so the soak's coverage tracks the
  * API's) on BOTH tiers, killing the writer at seeded points —
  * `stage` (nothing written yet), `staged` (artifacts complete,
  * manifest not attempted), `publish-torn` (destination reserved, body
  * unwritten — the only crash that wedges the chain), `published` (the
  * commit is durable, the caller just never heard). After every crash
  * the walk applies the documented operator runbook — a torn chain must
  * fail LOUDLY until [[AnnIndex.repair]], keyed verbs replay with the
  * same dedup key (the at-least-once contract), non-keyed verbs retry
  * unless the commit was already durable — and the index must end every
  * step either fully committed or invisible-and-recoverable, with the
  * visible id multiset equal to the driver-side ground truth and the
  * final search hash-equal to a crash-free fresh build of the same
  * corpus. This generalizes AnnIndexConcurrencySpec's hand-picked
  * interleavings into protocol-holds-under-arbitrary-death: at 100 TB
  * writers die constantly, and the interesting failures are the ones
  * nobody thought to enumerate. */
class AnnIndexCrashSoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  /** Deterministic per-(id, generation) vector — the walk records in
    * `truth` exactly what it sent, so the reference build is exact. */
  private def vec(id: Long, gen: Int): Seq[Float] = {
    val rng = new scala.util.Random(id * 7919L + gen * 104729L)
    val base = Array.tabulate(dim)(j =>
      if (j == (id % 4).toInt * 2) 10.0f else 0.0f)
    base.map(x => x + rng.nextGaussian().toFloat * 0.2f).toSeq
  }

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  private def ivfModel(e: org.apache.spark.sql.DataFrame) = {
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

  test("crash soak: IVF-PQ tier — 100 seeded kill-steps across all verbs, end state always committed or recoverable") {
    runWalk("ivf", steps = 100, seed = 20251L)
  }

  test("crash soak: SQ8 tier — 100 seeded kill-steps across all verbs, end state always committed or recoverable") {
    runWalk("sq", steps = 100, seed = 20252L)
  }

  test("streaming ingester dies at every kill point: checkpoint replay stays exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files
      .createTempDirectory("ann_stream_crash").toString
    val dir = s"$root/idx"
    // per-DIR retry override: this test wedges ITS index repeatedly and
    // must not sleep the full reader budget — other suites' readers
    // keep the production budget
    IndexLog.manifestRetryOverride.put(dir, 2)
    try {
      val e = df((0L until 80L).map(i => (i, vec(i, 0))))
      val (cents, cbs) = ivfModel(e)
      val landing = s"$root/landing"
      val ckpt = s"$root/ckpt"
      AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id",
        "embedding", dir, cents, cbs)
      def landRange(lo: Long, hi: Long): Unit =
        e.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("append").parquet(landing)
      def ingest(): Unit = {
        val stream = spark.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(landing)
        AnnIndex.streamAppend(stream, "vec_id", "embedding", dir, ckpt,
          Trigger.AvailableNow()).awaitTermination()
      }
      def ingestCrashes(point: String): Unit = {
        IndexLog.testKillPoint.put(dir, point)
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          ingest())
        def injected(t: Throwable): Boolean = t != null &&
          (t.isInstanceOf[IndexLog.InjectedCrash] || injected(t.getCause))
        assert(injected(ex), s"stream failed for another reason: $ex")
      }

      // phase 1: the publisher dies AFTER reserving the manifest slot
      // but before the body — the chain wedges LOUDLY, repair unwedges,
      // and the checkpoint restart replays the batch exactly once
      landRange(20, 40)
      ingestCrashes("publish-torn")
      intercept[java.io.IOException](AnnIndex.load(spark, dir))
      assert(AnnIndex.repair(spark, dir, staleAfterMs = -1))
      ingest()
      assert(AnnIndex.load(spark, dir).nrows == 40,
        "torn-publish replay duplicated or dropped the micro-batch")

      // phase 2: the ingester dies AFTER the commit is durable but
      // before the checkpoint records the batch — the restart
      // re-delivers the same foreachBatch id and the dedup key makes
      // the replay a no-op (the at-least-once -> exactly-once core)
      landRange(40, 60)
      ingestCrashes("published")
      assert(AnnIndex.load(spark, dir).nrows == 60,
        "the published commit should already be visible")
      ingest()
      val afterReplay = AnnIndex.load(spark, dir)
      assert(afterReplay.nrows == 60,
        s"post-publish crash replay double-applied: ${afterReplay.batches}")

      // phase 3: the ingester dies with the segment staged but no
      // manifest attempt — nothing is visible, the restart re-stages
      landRange(60, 80)
      ingestCrashes("staged")
      assert(AnnIndex.load(spark, dir).nrows == 60)
      ingest()
      val idx = AnnIndex.load(spark, dir)
      assert(idx.nrows == 80, s"staged-crash replay lost rows: ${idx.batches}")
      assert(idx.batches == idx.batches.distinct.sorted)

      // the crash-ridden ingest equals the one-shot build
      val full = s"$root/full"
      AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cents, cbs)
      val q = e.filter(col("vec_id") % 10 === 0)
      val got = AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3,
        nprobe = 2).collect().map(_.toSeq).toSet
      val want = AnnIndex.topK(AnnIndex.load(spark, full), q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
      assert(got == want, "crash-ridden stream ingest diverged from the " +
        "one-shot build")
    } finally IndexLog.manifestRetryOverride.remove(dir)
  }

  test("a wedged chain stops concurrent writers LOUDLY; repair restores liveness for all of them") {
    val dir = java.nio.file.Files
      .createTempDirectory("ann_wedge_ccy").toString + "/idx"
    IndexLog.manifestRetryOverride.put(dir, 2)
    try {
      val e = df((0L until 60L).map(i => (i, vec(i, 0))))
      val (cents, cbs) = ivfModel(e)
      AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id",
        "embedding", dir, cents, cbs)
      // writer A dies mid-publish (torn manifest at the top generation)
      IndexLog.testKillPoint.put(dir, "publish-torn")
      intercept[IndexLog.InjectedCrash] {
        AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
          "vec_id", "embedding", dir)
      }
      // every OTHER writer and reader now fails loudly — none can
      // silently base a commit on (or read past) the torn snapshot
      val exW = intercept[java.io.IOException] {
        AnnIndex.delete(Seq(1L).toDF("vec_id"), "vec_id", dir)
      }
      assert(exW.getMessage.contains("truncated"), exW.getMessage)
      intercept[java.io.IOException](AnnIndex.compact(spark, dir))
      intercept[java.io.IOException](AnnIndex.load(spark, dir))
      // repair restores liveness; the dead writer's batch was never
      // visible, so the blocked writers commit against the last
      // COMPLETE generation and nothing is lost or resurrected
      assert(AnnIndex.repair(spark, dir, staleAfterMs = -1))
      AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
        "vec_id", "embedding", dir)
      AnnIndex.delete(Seq(1L).toDF("vec_id"), "vec_id", dir)
      val idx = AnnIndex.load(spark, dir)
      assert(idx.codes.count() == 39,
        "post-repair commits lost rows or resurrected the dead publish")
    } finally IndexLog.manifestRetryOverride.remove(dir)
  }

  test("a torn expire never leaves a half-readable generation; the re-run completes the reclaim") {
    val e = df((0L until 60L).map(i => (i, vec(i, 0))))
    val (cents, cbs) = ivfModel(e)
    val dir = java.nio.file.Files
      .createTempDirectory("ann_expire_crash").toString + "/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
      "embedding", dir)
    // compact so the dropped generations reference segments the kept
    // one does NOT — the artifacts a torn expire actually strands
    AnnIndex.compact(spark, dir)
    // expire dies AFTER deleting the dropped manifests, BEFORE deleting
    // their artifacts (the crash-ordering invariant: manifests first)
    IndexLog.testKillPoint.put(dir, "expire-torn")
    intercept[IndexLog.InjectedCrash] {
      AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = -1000)
    }
    // the dropped generations are GONE loudly (never a manifest whose
    // segments were already deleted scanning into a corruption-shaped
    // error), the current one reads perfectly
    assert(AnnIndex.versionsOf(spark, dir) == Seq(2L))
    intercept[IllegalArgumentException](
      AnnIndex.load(spark, dir, asOf = Some(0L)))
    assert(AnnIndex.load(spark, dir).nrows == 60)
    // the crash stranded the dropped generations' exclusive segments as
    // unreferenced orphans; the RE-RUN reclaims them past the grace
    // window and the index still serves
    AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = -1000)
    val dataDirs = new java.io.File(s"$dir/data").list().length
    assert(dataDirs == AnnIndex.load(spark, dir).batches.length,
      s"re-run expire left torn-expire debris: $dataDirs data dirs")
    assert(AnnIndex.load(spark, dir).nrows == 60)
  }

  private def runWalk(tier: String, steps: Int, seed: Long): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory(s"ann_crash_$tier").toString
    // torn chains are read (loudly) hundreds of times here — don't
    // spend the suite's wall-clock inside the reader's retry sleep.
    // Scoped to THIS walk's index dir: other suites' readers keep the
    // production budget even under parallel execution
    IndexLog.manifestRetryOverride.put(s"$root/idx", 2)
    try walkImpl(tier, steps, seed, root)
    finally IndexLog.manifestRetryOverride.remove(s"$root/idx")
  }

  private def walkImpl(tier: String, steps: Int, seed: Long,
                       root: String): Unit = {
    val rng = new scala.util.Random(seed)
    val dir = s"$root/idx"
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n).toSeq; nextId += n; ids
    }
    // driver-side ground truth: id -> the exact vector last committed
    val truth = scala.collection.mutable.LinkedHashMap[Long, Seq[Float]]()

    val initRows = freshIds(40).map(i => (i, vec(i, 0)))
    initRows.foreach { case (i, v) => truth(i) = v }
    val e0 = df(initRows)
    val (cents, cbs) = ivfModel(e0)
    val sqM = Sq.fit(e0, "embedding")
    if (tier == "ivf")
      AnnIndex.buildIvfPq(e0, "vec_id", "embedding", dir, cents, cbs)
    else
      AnnIndex.buildSq(e0, "vec_id", "embedding", dir, sqM, Some(cents))

    var dedupKey = 0L
    var mergeCount = 0
    val fired = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    // the model the index CURRENTLY encodes with: a committed splitCell
    // grows the centroid table (and a later retrain resets it), and
    // merge shards must be built with the dst's model-of-the-moment or
    // the federation contract rejects them. The SQ tier tracks its
    // coarse quantizer the same way — splitCellSq/rebalanceSq grow it,
    // and mergeSq rejects shards built with a stale table.
    var curCents = cents
    var curSqCents = cents

    def loadIds(): Seq[Long] = {
      val codes =
        if (tier == "ivf") AnnIndex.load(spark, dir).codes
        else AnnIndex.loadSq(spark, dir).codes
      codes.select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    def checkVisible(at: String): Unit = {
      val got = loadIds()
      val want = truth.keys.toSeq.sorted
      assert(got == want,
        s"[$tier/$at] visible ids diverged from ground truth: " +
          s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    }

    for (step <- 1 to steps) {
      // pick the verb (fall back to append when the corpus is too
      // small to upsert/delete without emptying it). The split slot
      // alternates verb (split) and policy (rebalance) by step parity
      // rather than an extra rng draw, keeping the kill schedule
      // bit-identical to the pre-rebalance walks; both run on BOTH
      // tiers — splitCellSq/rebalanceSq get the same arbitrary-death
      // exposure as their IVF twins.
      val v = rng.nextDouble()
      var verb =
        if (v < 0.20) "append" else if (v < 0.38) "upsert"
        else if (v < 0.52) "delete" else if (v < 0.63) "compact"
        else if (v < 0.74) "retrain" else if (v < 0.86) "merge"
        else if (v < 0.94) "expire"
        else if (step % 2 == 0) "rebalance" else "split"
      if ((verb == "upsert" || verb == "delete") && truth.size < 13)
        verb = "append"

      // pre-stage the step's inputs (and, for merge, a crash-free src
      // shard built with the SAME model — the federation contract)
      val liveIds = truth.keys.toVector
      val rows: Seq[(Long, Seq[Float])] = verb match {
        case "append" => freshIds(4).map(i => (i, vec(i, step)))
        case "upsert" =>
          rng.shuffle(liveIds).take(3).map(i => (i, vec(i, step)))
        case "merge" => freshIds(3).map(i => (i, vec(i, step)))
        case _ => Seq.empty
      }
      val delIds: Seq[Long] =
        if (verb == "delete") rng.shuffle(liveIds).take(2) else Seq.empty
      val srcDir: String = if (verb == "merge") {
        mergeCount += 1
        val d = s"$root/shard$mergeCount"
        if (tier == "ivf")
          AnnIndex.buildIvfPq(df(rows), "vec_id", "embedding", d, curCents, cbs)
        else
          AnnIndex.buildSq(df(rows), "vec_id", "embedding", d, sqM,
            Some(curSqCents))
        d
      } else ""
      val key = if (verb == "append" || verb == "upsert") {
        dedupKey += 1; dedupKey
      } else -1L

      def runVerb(): Unit = (tier, verb) match {
        case ("ivf", "append") =>
          AnnIndex.appendIvfPq(df(rows), "vec_id", "embedding", dir, Some(key))
        case ("ivf", "upsert") =>
          AnnIndex.upsertBatchIvfPq(df(rows), "vec_id", "embedding", dir, Some(key))
        case ("ivf", "merge") => AnnIndex.merge(spark, dir, srcDir)
        case ("ivf", "retrain") =>
          AnnIndex.retrain(df(truth.toSeq), "vec_id", "embedding", dir, cents, cbs)
        case ("ivf", "split") =>
          // hottest cell by the index's own encode-time assignment;
          // sub-centroids derive deterministically from a member vector
          // (k-means in production — any deterministic rule here)
          val idx = AnnIndex.load(spark, dir)
          val byCell = idx.codes
            .select(col("_cell").cast("int"), col("neighbor_id"))
            .collect().groupBy(_.getInt(0))
          val (cell, members) = byCell.maxBy(_._2.length)
          val m0 = truth(members.head.getLong(1)).map(_.toDouble).toArray
          AnnIndex.splitCell(df(truth.toSeq), "vec_id", "embedding", dir,
            cell, Array(m0, m0.map(_ + 0.5)))
        case ("sq", "split") =>
          // the SQ twin: same hottest-cell pick over the `cell` layout
          val idx = AnnIndex.loadSq(spark, dir)
          val byCell = idx.codes
            .select(col("cell").cast("int"), col("neighbor_id"))
            .collect().groupBy(_.getInt(0))
          val (cell, members) = byCell.maxBy(_._2.length)
          val m0 = truth(members.head.getLong(1)).map(_.toDouble).toArray
          AnnIndex.splitCellSq(df(truth.toSeq), "vec_id", "embedding", dir,
            cell, Array(m0, m0.map(_ + 0.5)))
        case ("ivf", "rebalance") =>
          // the POLICY under arbitrary death: stats read + seeded
          // 2-means + batched split, same kill seams as the verb. A
          // quiet index (nothing over the bar) is a legal no-op — the
          // armed kill then just stays for the next step's clear.
          AnnIndex.rebalance(df(truth.toSeq), "vec_id", "embedding", dir,
            maxImbalance = 2.0, maxSplits = 2): Unit
        case ("sq", "rebalance") =>
          AnnIndex.rebalanceSq(df(truth.toSeq), "vec_id", "embedding", dir,
            maxImbalance = 2.0, maxSplits = 2): Unit
        case ("sq", "append") =>
          AnnIndex.appendSq(df(rows), "vec_id", "embedding", dir, Some(key))
        case ("sq", "upsert") =>
          AnnIndex.upsertBatchSq(df(rows), "vec_id", "embedding", dir, Some(key))
        case ("sq", "merge") => AnnIndex.mergeSq(spark, dir, srcDir)
        case ("sq", "retrain") =>
          AnnIndex.retrainSq(df(truth.toSeq), "vec_id", "embedding", dir, sqM, Some(cents))
        case (_, "delete") =>
          AnnIndex.delete(delIds.toDF("vec_id"), "vec_id", dir)
        case (_, "compact") => AnnIndex.compact(spark, dir)
        case (_, "expire") =>
          // keepLast = 2 keeps one time-travel target; default grace
          // models production (mid-walk crash debris is NOT reaped —
          // the final expire with a negative grace reclaims it all)
          AnnIndex.expire(spark, dir, keepLast = 2)
        case other => fail(s"unknown verb $other")
      }

      // arm the seeded kill point (maybe none); expire has its own
      // single kill point (between manifest and artifact deletion)
      val k = rng.nextDouble()
      val kill =
        if (verb == "expire") { if (k < 0.5) "" else "expire-torn" }
        else if (k < 0.40) "" else if (k < 0.55) "stage"
        else if (k < 0.70) "staged" else if (k < 0.85) "publish-torn"
        else "published"
      if (kill.nonEmpty) IndexLog.testKillPoint.put(dir, kill)

      // execute with the documented operator runbook as recovery
      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        assert(attempts <= 4, s"[$tier/$step] $verb did not converge")
        try { runVerb(); done = true }
        catch {
          case c: IndexLog.InjectedCrash =>
            fired(c.point) += 1
            if (c.point == "publish-torn") {
              // the wedge must be LOUD — a reader can never silently
              // parse past a sentinel-less top manifest ...
              val ex = intercept[java.io.IOException] {
                if (tier == "ivf") AnnIndex.load(spark, dir)
                else AnnIndex.loadSq(spark, dir)
              }
              assert(ex.getMessage.contains("truncated"), ex.getMessage)
              // ... and repair (stale window elapsed) must unwedge it
              assert(AnnIndex.repair(spark, dir, staleAfterMs = -1),
                "repair found nothing to fix on a wedged chain")
            }
            val keyed = verb == "append" || verb == "upsert"
            // a keyed verb ALWAYS replays (its dedup key makes the
            // replay of an already-durable commit a no-op — that path
            // is exactly what this exercises); a non-keyed verb whose
            // commit was already durable must NOT be re-run blindly
            if (c.point == "published" && !keyed) done = true
        }
      }
      // a verb that legitimately short-circuited (e.g. a no-op
      // compact) may leave its arm unfired — clear it so it cannot
      // leak into the next step
      IndexLog.testKillPoint.remove(dir)

      // the verb is now committed exactly once — fold it into truth
      verb match {
        case "append" | "upsert" | "merge" =>
          rows.foreach { case (i, vv) => truth(i) = vv }
        case "delete" => delIds.foreach(truth.remove)
        case "split" | "rebalance" | "retrain" =>
          // visible set unchanged; the MODEL may have (split/rebalance
          // grow the centroid table, retrain resets it) — re-read it so
          // later shard builds and the final replay use the real one
          if (tier == "ivf")
            curCents = AnnIndex.load(spark, dir).centroids
          else
            curSqCents = AnnIndex.loadSq(spark, dir).centroids
              .getOrElse(curSqCents)
        case _ => // compact/expire never change the visible set
      }

      if (step % 25 == 0) checkVisible(s"step $step")
    }

    // the seed must actually have exercised every kill point
    Seq("stage", "staged", "publish-torn", "published").foreach { p =>
      assert(fired(p) >= 3, s"[$tier] kill point '$p' fired only ${fired(p)} " +
        "times — reweight the seed, the soak is not covering it")
    }
    assert(fired("expire-torn") >= 1,
      s"[$tier] the torn-expire point never fired")

    checkVisible("end")

    // the survivor must be indistinguishable from a crash-free fresh
    // build of the ground-truth corpus under the same model
    val q = df(truth.toSeq.take(8))
    val seqDir = s"$root/seq"
    if (tier == "ivf") {
      // replay under the index's FINAL model (splitCell grows the
      // centroid table; retrain resets it) — per-row encode is
      // deterministic under ONE model, which is what the equality pins
      AnnIndex.buildIvfPq(df(truth.toSeq), "vec_id", "embedding", seqDir,
        AnnIndex.load(spark, dir).centroids, cbs)
      val got = AnnIndex.topK(AnnIndex.load(spark, dir), q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
      val want = AnnIndex.topK(AnnIndex.load(spark, seqDir), q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect().map(_.toSeq).toSet
      assert(got == want, s"[$tier] post-soak search diverged from a " +
        "crash-free build")
    } else {
      // replay under the index's FINAL quantizer (splitCellSq /
      // rebalanceSq grow it) — SQ codes are cell-independent, but the
      // layouts should match like the IVF replay's model does
      AnnIndex.buildSq(df(truth.toSeq), "vec_id", "embedding", seqDir,
        sqM, Some(curSqCents))
      val got = AnnIndex.topKSq(AnnIndex.loadSq(spark, dir), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet
      val want = AnnIndex.topKSq(AnnIndex.loadSq(spark, seqDir), q, "vec_id",
        "embedding", k = 3).collect().map(_.toSeq).toSet
      assert(got == want, s"[$tier] post-soak search diverged from a " +
        "crash-free build")
    }

    // maintenance after the storm: expire reclaims every orphan the
    // crashes strewed about (staged segments, tombs, model dirs), and
    // the index still serves
    AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = -1000)
    checkVisible("post-expire")
    val liveSegs =
      if (tier == "ivf") AnnIndex.load(spark, dir).batches.length
      else AnnIndex.loadSq(spark, dir).batches.length
    val dataDirs = new java.io.File(s"$dir/data").list().length
    assert(dataDirs == liveSegs,
      s"[$tier] expire left ${dataDirs - liveSegs} crash orphans in data/")
    val modelDirs = new java.io.File(dir).list().count(_.startsWith("model-"))
    assert(modelDirs <= 1,
      s"[$tier] expire left $modelDirs model dirs (≤1 may be pinned)")
  }
}
