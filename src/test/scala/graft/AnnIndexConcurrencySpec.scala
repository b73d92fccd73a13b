package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Pq
import graft.sources.{AnnIndex, IndexLog}

/** Concurrent-writer commit safety for the persisted index
  * ([[graft.sources.AnnIndex]]): manifest publish is atomic
  * create-exclusive (put-if-absent), so of two writers racing a
  * generation exactly one wins and the loser re-bases and retries —
  * BOTH commits must survive, and the final search must equal the
  * sequential result. The deterministic tests inject the competing
  * commit through the per-index `testBeforePublish` hook (fired in the
  * read-manifest → publish window — the race a wall-clock interleaving
  * could only hit probabilistically); the threaded test runs real
  * concurrent appenders as a belt-and-braces sweep. Also gates the v2
  * manifest sentinel (truncated manifests fail loudly, never parse as
  * a partial snapshot) and [[AnnIndex.expire]]'s retention/orphan
  * rules. */
class AnnIndexConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def corpus(from: Int, until: Int) = {
    val rng = new scala.util.Random(13)
    val noise = Array.fill(until)(rng.nextGaussian().toFloat * 0.2f)
    (from.toLong until until.toLong).map { i =>
      val base = Array.tabulate(dim)(j =>
        if (j == (i % 4).toInt * 2) 10.0f else 0.0f)
      (i, base.map(x => x + noise(i.toInt)).toSeq)
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
    java.nio.file.Files.createTempDirectory("ann_ccy_spec").toString

  private def search(idx: AnnIndex.Loaded,
                     q: org.apache.spark.sql.DataFrame) =
    AnnIndex.topK(idx, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet

  test("append loses the publish race to a concurrent compact: BOTH commits survive") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir) // m-1: two segments, compactable
    // the append below reads m-1, stages its segment, and THEN the
    // hook compacts (m-2) — the append's publish of m-2 must lose,
    // re-base onto the compacted snapshot, and win m-3
    IndexLog.testBeforePublish.put(dir,
      () => AnnIndex.compact(spark, dir))
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(0L, 1L, 2L, 3L),
      "a commit vanished: expected build, append, compact, re-based append")
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60, s"lost rows: ${idx.nrows}")
    // ids never reused: compact consumed 2, the re-based append took 3
    assert(idx.batches == Seq(2L, 3L), s"unexpected ids: ${idx.batches}")
    // the final search equals the sequential (no-race) result
    val seq = s"$root/seq"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", seq, cents, cbs)
    val q = e.filter(col("vec_id") % 10 === 0)
    assert(search(idx, q) == search(AnnIndex.load(spark, seq), q),
      "racing writers diverged from the sequential result")
  }

  test("compact loses the publish race to a concurrent append: rewrites from the fresh snapshot") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val dir = s"$root/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir)
    // compact reads m-1 and rewrites its union; the hook lands a THIRD
    // segment at m-2. Publishing the stale rewrite would silently drop
    // those 20 rows — the loser must discard it and recompact from m-2.
    IndexLog.testBeforePublish.put(dir,
      () => AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
        "embedding", dir))
    AnnIndex.compact(spark, dir)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60,
      s"compact raced an append and lost its rows: ${idx.nrows}")
    assert(idx.batches.length == 1, "compact did not produce one segment")
    val seq = s"$root/seq"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", seq, cents, cbs)
    val q = e.filter(col("vec_id") % 10 === 0)
    assert(search(idx, q) == search(AnnIndex.load(spark, seq), q))
  }

  test("delete loses the publish race to an append: tombstone re-bases, masks as of its commit") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, cents, cbs)
    IndexLog.testBeforePublish.put(dir,
      () => AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
        "embedding", dir))
    AnnIndex.delete(Seq(1L, 2L, 3L).toDF("vec_id"), "vec_id", dir)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.count() == 57,
      "append or delete vanished under the race")
    assert(AnnIndex.versionsOf(spark, dir) == Seq(0L, 1L, 2L))
  }

  test("threaded: concurrent appenders all commit, none lost") {
    val e = corpus(0, 70).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 10), "vec_id", "embedding",
      dir, cents, cbs)
    val ranges = Seq((10, 20), (20, 30), (30, 40), (40, 50), (50, 60), (60, 70))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = ranges.map { case (a, b) =>
        pool.submit(new Runnable {
          def run(): Unit =
            AnnIndex.appendIvfPq(
              e.filter(col("vec_id") >= a && col("vec_id") < b),
              "vec_id", "embedding", dir)
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 70, s"a concurrent append was lost: ${idx.nrows}")
    assert(idx.batches.sorted == (0L to 6L), s"ids not contiguous: ${idx.batches}")
    assert(AnnIndex.versionsOf(spark, dir) == (0L to 6L),
      "each commit must land its own generation")
    assert(idx.codes.select("neighbor_id").distinct().count() == 70)
  }

  test("a truncated v2 manifest (writer died mid-publish) fails loudly, never parses partially") {
    val e = corpus(0, 20).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // simulate a publisher that died after create-exclusive but before
    // finishing the body: a v2 header with no commit sentinel
    val w = new java.io.FileWriter(s"$dir/manifest/m-1")
    w.write("v2\nmodel 0\nhw 5\nbatch-5 999 batch-dead")
    w.close()
    val ex = intercept[java.io.IOException](AnnIndex.load(spark, dir))
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("expire(keepLast = 2) keeps the previous generation readable; older ones fail loudly") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir)
    AnnIndex.expire(spark, dir, keepLast = 2)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(1L, 2L))
    // both retained generations stay fully scannable
    assert(AnnIndex.load(spark, dir, asOf = Some(1L)).codes.count() == 40)
    assert(AnnIndex.load(spark, dir, asOf = Some(2L)).codes.count() == 60)
    // the dropped one fails loudly
    val ex = intercept[IllegalArgumentException](
      AnnIndex.load(spark, dir, asOf = Some(0L)))
    assert(ex.getMessage.contains("m-0"))
  }

  test("expire reclaims segments only dropped generations reference, keeps shared ones") {
    val e = corpus(0, 40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.unionByName(
        e.withColumn("vec_id", col("vec_id") + lit(1000L))),
      "vec_id", "embedding", dir, cents, cbs)
    AnnIndex.delete(e.select(col("vec_id") + lit(1000L) as "vec_id"),
      "vec_id", dir)
    AnnIndex.compact(spark, dir) // m-2: one fresh segment, no tombstones
    AnnIndex.expire(spark, dir, keepLast = 1)
    // the pre-compact segment and the tombstone set are gone
    val data = new java.io.File(s"$dir/data").list().toSeq
    assert(data.length == 1, s"unreclaimed segments: $data")
    val tomb = new java.io.File(s"$dir/tomb")
    assert(!tomb.exists() || tomb.list().isEmpty,
      "expire left unreachable tombstone sets")
    assert(AnnIndex.load(spark, dir).codes.count() == 40)
  }

  test("retrain: new model, same manifest chain — equals a fresh build; pinned readers keep the old model") {
    val e = corpus(0, 60).cache()
    val (goodC, goodCb) = model(e)
    // a deliberately-wrong initial model: trained on the REVERSED
    // vectors — valid shape, poor fit, so the migration is observable
    val (badC, badCb) = model(e.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")))
    val root = tmpDir()
    val dir = s"$root/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, badC, badCb)
    val pre = AnnIndex.load(spark, dir)
    AnnIndex.retrain(e, "vec_id", "embedding", dir, goodC, goodCb)
    val post = AnnIndex.load(spark, dir)
    // the migrated index is hash-equivalent to a fresh build on the
    // new model (deterministic per-row encode) ...
    val seq = s"$root/seq"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", seq, goodC, goodCb)
    val q = e.filter(col("vec_id") % 10 === 0)
    assert(search(post, q) == search(AnnIndex.load(spark, seq), q),
      "retrain diverged from a fresh build on the same model")
    // ... while the pre-retrain snapshot STILL scores with the model
    // its segments were encoded with — both the open handle and a
    // time-travel read of generation 0
    assert(pre.centroids.map(_.toSeq).toSeq == badC.map(_.toSeq).toSeq)
    assert(AnnIndex.load(spark, dir, asOf = Some(0L))
      .centroids.map(_.toSeq).toSeq == badC.map(_.toSeq).toSeq)
    assert(post.centroids.map(_.toSeq).toSeq == goodC.map(_.toSeq).toSeq)
    // and appends after the migration encode against the NEW model
    val dir2 = s"$root/grow"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir2, badC, badCb)
    AnnIndex.retrain(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir2, goodC, goodCb)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir2)
    assert(search(AnnIndex.load(spark, dir2), q) ==
      search(AnnIndex.load(spark, seq), q),
      "post-retrain append did not encode with the migrated model")
  }

  test("a concurrent retrain aborts an in-flight append loudly (stale-model codes never commit)") {
    val e = corpus(0, 60).cache()
    val (goodC, goodCb) = model(e)
    val (badC, badCb) = model(e.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")))
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, badC, badCb)
    IndexLog.testBeforePublish.put(dir,
      () => AnnIndex.retrain(e.filter(col("vec_id") < 40), "vec_id",
        "embedding", dir, goodC, goodCb))
    intercept[java.util.ConcurrentModificationException] {
      AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
        "embedding", dir)
    }
    // the aborted append left nothing visible; the retrain won cleanly
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 40)
    assert(idx.centroids.map(_.toSeq).toSeq == goodC.map(_.toSeq).toSeq)
  }

  test("retrainSq: cheap-tier drift migration — pinned readers keep the old model, appends pick up the new") {
    val e = corpus(0, 60).cache()
    val dir = s"${tmpDir()}/sq"
    val badM = graft.operators.Sq.fit(
      e.filter(col("vec_id") < 10), "embedding") // too-narrow ranges
    val goodM = graft.operators.Sq.fit(e, "embedding")
    AnnIndex.buildSq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, badM)
    val pre = AnnIndex.loadSq(spark, dir)
    AnnIndex.retrainSq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, goodM)
    // appends after the migration encode against the NEW model
    AnnIndex.appendSq(e.filter(col("vec_id") >= 40), "vec_id", "embedding",
      dir)
    val q = e.filter(col("vec_id") % 10 === 0)
    val seq = s"${tmpDir()}/seq"
    AnnIndex.buildSq(e, "vec_id", "embedding", seq, goodM)
    val got = AnnIndex.topKSq(AnnIndex.loadSq(spark, dir), q, "vec_id",
      "embedding", k = 3).collect().map(_.toSeq).toSet
    val want = AnnIndex.topKSq(AnnIndex.loadSq(spark, seq), q, "vec_id",
      "embedding", k = 3).collect().map(_.toSeq).toSet
    assert(got == want, "SQ retrain+append diverged from a fresh build")
    // the pinned pre-retrain handle and asOf=0 keep the subset fit
    assert(pre.model.mins.toSeq == badM.mins.toSeq)
    assert(AnnIndex.loadSq(spark, dir, asOf = Some(0L))
      .model.mins.toSeq == badM.mins.toSeq)
    // a concurrent retrain aborts an in-flight SQ append loudly
    val dir2 = s"${tmpDir()}/sq2"
    AnnIndex.buildSq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir2, badM)
    IndexLog.testBeforePublish.put(dir2,
      () => AnnIndex.retrainSq(e.filter(col("vec_id") < 40), "vec_id",
        "embedding", dir2, goodM))
    intercept[java.util.ConcurrentModificationException] {
      AnnIndex.appendSq(e.filter(col("vec_id") >= 40), "vec_id",
        "embedding", dir2)
    }
    assert(AnnIndex.loadSq(spark, dir2).nrows == 40)
  }

  test("compact after retrain keeps the migrated model (regression: modelDir dropped)") {
    val e = corpus(0, 60).cache()
    val (goodC, goodCb) = model(e)
    val (badC, badCb) = model(e.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")))
    val root = tmpDir()
    val dir = s"$root/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, badC, badCb)
    AnnIndex.retrain(e.filter(col("vec_id") < 40), "vec_id", "embedding",
      dir, goodC, goodCb)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40), "vec_id",
      "embedding", dir) // two segments -> compact has work to do
    AnnIndex.compact(spark, dir)
    val idx = AnnIndex.load(spark, dir)
    // the compacted manifest must still point at the RETRAINED model —
    // dropping it silently scores model-1 codes against the root model
    assert(idx.centroids.map(_.toSeq).toSeq == goodC.map(_.toSeq).toSeq,
      "compact repointed readers at the pre-retrain model")
    val q = e.filter(col("vec_id") % 10 === 0)
    val seq = s"$root/seq"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", seq, goodC, goodCb)
    assert(search(idx, q) == search(AnnIndex.load(spark, seq), q),
      "post-retrain compact corrupted search results")
  }

  test("a retrain that loses the publish race aborts loudly; the winner's rows survive") {
    val e = corpus(0, 60).cache()
    val (goodC, goodCb) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, goodC, goodCb)
    // a streaming append (dedup key 5) commits INSIDE retrain's publish
    // window: the retrain must NOT republish a manifest that erases it
    // (and must NOT carry shw forward — the checkpoint replay of batch
    // 5 would then be suppressed forever, permanent silent data loss)
    IndexLog.testBeforePublish.put(dir,
      () => AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
        "embedding", dir, dedupKey = Some(5L)))
    intercept[java.util.ConcurrentModificationException] {
      AnnIndex.retrain(e.filter(col("vec_id") < 20), "vec_id", "embedding",
        dir, goodC, goodCb)
    }
    val idx = AnnIndex.load(spark, dir)
    assert(idx.nrows == 60, s"retrain erased the winner's rows: ${idx.nrows}")
    // replaying the appended batch is still the no-op dedup path (shw
    // survived), and a LATER batch still lands
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
      "embedding", dir, dedupKey = Some(5L))
    assert(AnnIndex.load(spark, dir).nrows == 60, "dedup high-water lost")
    // the aborted retrain left no staged artifacts behind
    assert(!new java.io.File(dir).list().exists(_.startsWith("model-")),
      "aborted retrain leaked its staged model dir")
  }

  test("repair unwedges a chain whose publisher died mid-write; refuses fresh in-flight publishes") {
    val e = corpus(0, 20).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    assert(!AnnIndex.repair(spark, dir), "healthy chain reported repaired")
    // a publisher SIGKILLed after create-exclusive, before the body:
    val dead = new java.io.File(s"$dir/manifest/m-1")
    val w = new java.io.FileWriter(dead); w.write("v2\nmodel 0\nhw 3"); w.close()
    // fresh: an in-flight publish — repair must refuse
    intercept[IllegalStateException](AnnIndex.repair(spark, dir))
    // stale: a corpse — repair SUPERSEDES it (re-publishes the last
    // complete generation at m-2 through the put-if-absent committer)
    // and leaves the corpse file BURIED in place: deleting it would
    // free slot 1 for a suspended writer's late put-if-absent, whose
    // "successful" commit would land invisible (see repair's doc)
    assert(dead.setLastModified(System.currentTimeMillis() - 3600 * 1000))
    assert(AnnIndex.repair(spark, dir))
    assert(dead.exists(), "buried corpse must stay in place")
    assert(AnnIndex.load(spark, dir).nrows == 20)
    // a blocked writer can now commit on top of the supersede
    AnnIndex.delete(Seq(1L).toDF("vec_id"), "vec_id", dir)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(0L, 1L, 2L, 3L))
    // expire is how the buried corpse leaves the chain
    AnnIndex.expire(spark, dir, keepLast = 1)
    assert(!dead.exists(), "expire did not reclaim the buried corpse")
    assert(AnnIndex.versionsOf(spark, dir) == Seq(3L))
  }

  test("expire reclaims model directories only dropped generations pin") {
    val e = corpus(0, 40).cache()
    val (goodC, goodCb) = model(e)
    val (badC, badCb) = model(e.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")))
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, badC, badCb)
    AnnIndex.retrain(e, "vec_id", "embedding", dir, goodC, goodCb) // m-1
    AnnIndex.retrain(e, "vec_id", "embedding", dir, goodC, goodCb) // m-2
    val modelDirs0 = new java.io.File(dir).list().count(_.startsWith("model-"))
    assert(modelDirs0 == 2, s"expected two retrain model dirs, got $modelDirs0")
    AnnIndex.expire(spark, dir, keepLast = 1)
    val modelDirs1 = new java.io.File(dir).list().count(_.startsWith("model-"))
    assert(modelDirs1 == 1, "superseded model dir not reclaimed")
    // the survivor is exactly the pinned generation's model
    assert(AnnIndex.load(spark, dir).codes.count() == 40)
  }

  test("merge: shard federation equals a single build; src tombstones respected; model mismatch loud") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val root = tmpDir()
    val d1 = s"$root/shard1"
    val d2 = s"$root/shard2"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      d1, cents, cbs)
    AnnIndex.buildIvfPq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      d2, cents, cbs)
    // a shard-side takedown must not leak through the merge
    AnnIndex.delete(Seq(45L).toDF("vec_id"), "vec_id", d2)
    AnnIndex.merge(spark, d1, d2)
    val merged = AnnIndex.load(spark, d1)
    assert(merged.nrows == 59, s"merge lost or resurrected rows: ${merged.nrows}")
    val q = e.filter(col("vec_id") % 10 === 0)
    val seq = s"$root/seq"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") =!= 45L), "vec_id",
      "embedding", seq, cents, cbs)
    assert(search(merged, q) == search(AnnIndex.load(spark, seq), q),
      "merged shards diverged from the single build")
    // src untouched; dst generations advanced by exactly one
    assert(AnnIndex.load(spark, d2).nrows == 30)
    assert(AnnIndex.versionsOf(spark, d1) == Seq(0L, 1L))
    // a shard built with a DIFFERENT model must be rejected
    val (otherC, otherCb) = model(e.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")))
    val d3 = s"$root/shard3"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      d3, otherC, otherCb)
    val ex = intercept[IllegalArgumentException](AnnIndex.merge(spark, d1, d3))
    assert(ex.getMessage.contains("model mismatch"))
    // a concurrent retrain of dst aborts the merge loudly
    val d4 = s"$root/shard4"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      d4, cents, cbs)
    IndexLog.testBeforePublish.put(d1,
      () => AnnIndex.retrain(e.filter(col("vec_id") < 30), "vec_id",
        "embedding", d1, otherC, otherCb))
    intercept[java.util.ConcurrentModificationException] {
      AnnIndex.merge(spark, d1, d4)
    }
  }

  test("mergeSq: cheap-tier shard federation — cell layout kept, layout/model mismatches loud") {
    val e = corpus(0, 60).cache()
    val (cents, _) = model(e)
    val m = graft.operators.Sq.fit(e, "embedding")
    val root = tmpDir()
    // cell-partitioned shards: the merged segment must keep the layout
    val d1 = s"$root/s1"
    val d2 = s"$root/s2"
    AnnIndex.buildSq(e.filter(col("vec_id") < 30), "vec_id", "embedding",
      d1, m, Some(cents))
    AnnIndex.buildSq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      d2, m, Some(cents))
    AnnIndex.mergeSq(spark, d1, d2)
    val merged = AnnIndex.loadSq(spark, d1)
    assert(merged.nrows == 60)
    val q = e.filter(col("vec_id") % 10 === 0)
    val seq = s"$root/seq"
    AnnIndex.buildSq(e, "vec_id", "embedding", seq, m, Some(cents))
    val got = AnnIndex.topKSq(merged, q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val want = AnnIndex.topKSq(AnnIndex.loadSq(spark, seq), q, "vec_id",
      "embedding", k = 3).collect().map(_.toSeq).toSet
    assert(got == want, "merged SQ shards diverged from the single build")
    // the pruned read still serves over the merged segment, whose rows
    // kept their cell column
    assert(AnnIndex.topKSq(merged, q, "vec_id", "embedding", k = 3,
      nprobe = 1, prune = true).count() > 0)
    // a flat shard cannot merge into a cell index (layout = model here)
    val flat = s"$root/flat"
    AnnIndex.buildSq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      flat, m)
    val ex = intercept[IllegalArgumentException](
      AnnIndex.mergeSq(spark, d1, flat))
    assert(ex.getMessage.contains("model mismatch"))
    // a shard under a different affine fit is rejected too
    val other = s"$root/other"
    AnnIndex.buildSq(e.filter(col("vec_id") >= 30), "vec_id", "embedding",
      other, graft.operators.Sq.fit(
        e.filter(col("vec_id") < 10), "embedding"), Some(cents))
    val ex2 = intercept[IllegalArgumentException](
      AnnIndex.mergeSq(spark, d1, other))
    assert(ex2.getMessage.contains("model mismatch"))
  }

  /** Rewrite the current manifest in the PRE-HIGH-WATER format (no
    * `v2`, no `hw`/`shw` lines — the era whose streamed batch id `b`
    * landed as segment id `b + 1`), pointing at the index's real
    * artifact dirs. What an old index looks like to new code. */
  private def makeLegacy(dir: String): Unit = {
    val mdir = new java.io.File(s"$dir/manifest")
    val top = mdir.list().filter(_.startsWith("m-"))
      .map(_.drop(2).toLong).max
    val lines = scala.io.Source.fromFile(s"$dir/manifest/m-$top")
      .getLines().filter(l => l.startsWith("batch-") || l.startsWith("tomb-"))
      .toSeq
    mdir.list().foreach(f => new java.io.File(mdir, f).delete())
    val w = new java.io.FileWriter(s"$dir/manifest/m-$top")
    w.write(lines.mkString("", "\n", "\n")); w.close()
  }

  test("legacy manifest (no shw line): a resumed checkpoint's crash-window replay does NOT duplicate") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    // two streamed micro-batches (keys 0 and 1) committed, THEN the
    // manifest is rewritten in the pre-high-water format — the exact
    // state of an index built and streamed by the old code
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir, dedupKey = Some(0L))
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", dir, dedupKey = Some(1L))
    makeLegacy(dir)
    // resuming the checkpoint replays the crash-window batch (key 1):
    // the recovered high-water (max segment id − 1 = 1) must skip it —
    // no compact, no migration step, no duplicate segment
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", dir, dedupKey = Some(1L))
    assert(AnnIndex.load(spark, dir).nrows == 50,
      "legacy crash-window replay landed as a duplicate segment")
    // and the stream's NEXT batch still lands
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 50), "vec_id",
      "embedding", dir, dedupKey = Some(2L))
    assert(AnnIndex.load(spark, dir).nrows == 60, "fresh batch was dropped")
  }

  test("compact/delete on a legacy manifest carry the RECOVERED high-water, not −1") {
    val e = corpus(0, 60).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "vec_id", "embedding", dir, dedupKey = Some(0L))
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", dir, dedupKey = Some(1L))
    makeLegacy(dir)
    // the ADVICE hazard: compact used to stamp shw = −1 forward, so a
    // checkpoint resumed AFTER maintenance re-duplicated its window
    AnnIndex.compact(spark, dir)
    AnnIndex.delete(Seq(0L).toDF("vec_id"), "vec_id", dir)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", dir, dedupKey = Some(1L))
    assert(AnnIndex.load(spark, dir).codes.count() == 49,
      "post-maintenance legacy replay duplicated its batch")
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 50), "vec_id",
      "embedding", dir, dedupKey = Some(2L))
    assert(AnnIndex.load(spark, dir).codes.count() == 59)
  }

  test("a torn read shorter than the v2 header is truncated, never an empty legacy manifest") {
    val e = corpus(0, 20).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // a racing reader's visible prefix of an in-flight v2 body: one
    // byte. Parsing this as a LEGACY manifest would report an empty
    // index (hw = −1, zero segments) — a writer re-basing onto that
    // would erase every committed row. It must read as truncated.
    val w = new java.io.FileWriter(s"$dir/manifest/m-1"); w.write("v"); w.close()
    IndexLog.manifestRetryOverride.put(dir, 2)
    try {
      val ex = intercept[java.io.IOException](AnnIndex.load(spark, dir))
      assert(ex.getMessage.contains("truncated"), ex.getMessage)
    } finally IndexLog.manifestRetryOverride.remove(dir)
  }

  test("committer capability probe: an overwrite-happy store fails loudly before carrying a manifest") {
    val conf = spark.sparkContext.hadoopConfiguration
    // a NON-LOCAL store whose create(overwrite = false) silently
    // replaces — the failure mode that would let two racing writers
    // both 'win' a generation and drop one commit. (The local scheme
    // no longer depends on the FS's create-exclusive at all: the
    // committer reserves file: slots through O_CREAT|O_EXCL — the
    // racing-writers test below pins that directly — so the probe's
    // overwrite-happy stand-in must present a remote scheme.)
    val overwriteHappy = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getUri: java.net.URI = new java.net.URI("mock:///")
      override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream =
        super.create(p, true)
    }
    overwriteHappy.initialize(new java.net.URI("mock:///"), conf)
    val dir = s"${tmpDir()}/probe"
    new java.io.File(s"$dir/manifest").mkdirs()
    val ex = intercept[IllegalStateException](
      IndexLog.probeCommitter(overwriteHappy, dir))
    assert(ex.getMessage.contains("NOT put-if-absent"), ex.getMessage)
    // the honest store passes the same probe
    val honest = new org.apache.hadoop.fs.RawLocalFileSystem()
    honest.initialize(new java.net.URI("file:///"), conf)
    IndexLog.probeCommitter(honest, dir)
  }

  test("a publisher stalled past the stale window detects its burial: the superseded commit reports LOST and re-lands exactly once") {
    // THE FENCING-LEASE CORNER, reproduced deterministically: a writer
    // reserves its manifest slot, then stalls; a repairer samples the
    // body-less slot, judges it a stale corpse (forced window) and
    // supersedes it; the writer then finishes its body. Before the
    // burial check, the writer reported a commit that no reader would
    // ever see (silent whole-batch loss). Now: the supersede declares
    // its corpse, the writer reads the marker at slot+1, reports the
    // publish lost, re-bases past the supersede, and the batch lands
    // exactly once in a LIVE generation.
    val e = corpus(0, 40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    val real = IndexLog.committer
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    IndexLog.committer = new IndexLog.ManifestCommitter {
      def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                      dest: org.apache.hadoop.fs.Path,
                      body: Array[Byte], beforeBody: () => Unit): Boolean =
        real.putIfAbsent(f, dest, body, () => {
          beforeBody()
          // the stall: our slot m-1 is reserved, body unwritten — the
          // repairer runs HERE and supersedes us at m-2 (the armed flag
          // keeps the repairer's own publish from recursing)
          if (dest.getName == "m-1" && armed.getAndSet(false))
            assert(AnnIndex.repair(spark, dir, staleAfterMs = -1),
              "repair found nothing to supersede in the stall window")
        })
    }
    try
      AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
        "embedding", dir)
    finally IndexLog.committer = real
    // exactly once, in a live generation — not zero (silent burial),
    // not twice (blind re-run of a live commit)
    val idx = AnnIndex.load(spark, dir)
    assert(idx.codes.count() == 40,
      "the buried append was lost (or double-landed) instead of re-basing")
    // chain shape: m-0 build, m-1 the buried append (complete but
    // void), m-2 the supersede (copy of m-0), m-3 the re-landed append
    assert(AnnIndex.versionsOf(spark, dir) == Seq(0L, 1L, 2L, 3L))
    assert(AnnIndex.load(spark, dir, asOf = Some(2L)).codes.count() == 20,
      "the supersede generation must be the donor's (build-only) content")
    val voidEx = intercept[IllegalArgumentException](
      AnnIndex.load(spark, dir, asOf = Some(1L)))
    assert(voidEx.getMessage.contains("superseded by m-2"), voidEx.getMessage)
    // ops visibility: describe labels the buried-but-complete
    // generation's rows — an operator must not read void history as a
    // live snapshot
    val desc = AnnIndex.describe(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(desc.filter(_._1 == 1L).nonEmpty &&
      desc.filter(_._1 == 1L).forall(_._2.startsWith("buried-")),
      s"buried generation not labeled in describe: ${desc.toSeq}")
    assert(desc.filter(_._1 != 1L).forall(!_._2.startsWith("buried-")),
      s"live generations mislabeled buried: ${desc.toSeq}")
  }

  test("local manifest reserve is atomic under racing writers: exactly one wins each slot, and the winner's body survives") {
    // THE STORM-CAUGHT BUG (round 18): Hadoop RawLocalFileSystem's
    // create(overwrite = false) is exists-then-open — two putIfAbsent
    // calls racing into the same slot could BOTH return true, and one
    // body silently overwrote the other (a committed batch vanished
    // wholesale at the storm's barrier, ~1/3 of runs). The committer
    // now reserves local slots via O_CREAT|O_EXCL; this pins exactly-
    // one-winner and body integrity across repeated latched races.
    val conf = spark.sparkContext.hadoopConfiguration
    val f = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val dir = tmpDir()
    for (slot <- 1 to 32) {
      val dest = new org.apache.hadoop.fs.Path(s"$dir/m-$slot")
      val latch = new java.util.concurrent.CountDownLatch(1)
      val winner = new java.util.concurrent.atomic.AtomicReference[String]()
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val ths = Seq("writer-A\n", "writer-B\n").map { b =>
        new Thread(() => {
          latch.await()
          if (IndexLog.committer.putIfAbsent(f, dest,
              b.getBytes("UTF-8"), () => ())) {
            wins.incrementAndGet(); winner.set(b); ()
          }
        })
      }
      ths.foreach(_.start()); latch.countDown(); ths.foreach(_.join())
      assert(wins.get == 1, s"slot $slot: ${wins.get} racing writers won")
      val got = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/m-$slot")), "UTF-8")
      assert(got == winner.get,
        s"slot $slot: surviving body is not the winner's")
    }
  }

  test("expire's argument-less default keeps ONLY the current generation (the documented destructive default)") {
    val e = corpus(0, 40).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, cents, cbs)
    AnnIndex.appendIvfPq(e.filter(col("vec_id") >= 20), "vec_id",
      "embedding", dir)
    // pinning the scaladoc's WARNING: keepLast defaults to 1, so one
    // argument-less maintenance call destroys every time-travel target
    // except the current snapshot — schedule maintenance with an
    // explicit keepLast when operators rely on asOf reads
    AnnIndex.expire(spark, dir)
    assert(AnnIndex.versionsOf(spark, dir) == Seq(1L),
      "the documented aggressive default changed silently")
    intercept[IllegalArgumentException](
      AnnIndex.load(spark, dir, asOf = Some(0L)))
    assert(AnnIndex.load(spark, dir).nrows == 40)
  }

  test("expire leaves fresh orphans alone (grace window) but reaps aged ones") {
    val e = corpus(0, 20).cache()
    val (cents, cbs) = model(e)
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, cents, cbs)
    // an in-flight (or crashed) writer's staged segment: in NO manifest
    val orphan = new java.io.File(s"$dir/data/batch-inflight0000")
    assert(orphan.mkdirs())
    // a dead retrain's staged model dir is the same class of orphan
    val modelOrphan = new java.io.File(s"$dir/model-inflight0000")
    assert(modelOrphan.mkdirs())
    // a capability-probe file stranded by a JVM that died mid-probe
    val probeOrphan = new java.io.File(s"$dir/manifest/_probe-dead0000")
    assert(probeOrphan.createNewFile())
    AnnIndex.expire(spark, dir) // default 24 h grace: must survive
    assert(orphan.exists() && modelOrphan.exists() && probeOrphan.exists(),
      "expire reaped a fresh orphan — would yank an in-flight commit")
    AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = -1000)
    assert(!orphan.exists(), "aged orphan not reclaimed")
    assert(!modelOrphan.exists(), "aged model-dir orphan not reclaimed")
    assert(!probeOrphan.exists(), "aged probe file not reclaimed")
    assert(AnnIndex.load(spark, dir).codes.count() == 20)
  }
}
