package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Pq
import graft.sources.{AnnIndex, IndexLog}

/** [[AnnIndex.rebalance]] — the imbalance-gated split POLICY on top of
  * the q168-gated splitCell VERB: given a skew-planted index (most of
  * the corpus routed into one coarse cell), the policy must (a) find
  * the hot cells from cellStats, (b) derive deterministic
  * sub-centroids, (c) iterate splitCell until every cell is within the
  * imbalance bar or the split budget is spent, and (d) leave the
  * index's visible id set bit-identical and serving. Determinism is
  * asserted by running the same policy on a twin index and comparing
  * the resulting centroid tables exactly. */
class AnnRebalanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  /** Clustered corpus with a PLANTED hot cell: nearly all vectors sit
    * in one cone; the initial centroid table wastes its other cells on
    * far-away directions, so the build routes ~everything into cell 1. */
  private def skewedCorpus(n: Int) = {
    (0L until n.toLong).map { i =>
      val rng = new scala.util.Random(i * 2711L)
      val v =
        if (i % 50 == 0) // 2%: scattered far cluster
          Array.tabulate(dim)(j => if (j == 7) 10.0f else
            rng.nextGaussian().toFloat * 0.3f)
        else // 98%: one broad cone around axis 0, spread over axes 1-3
          Array.tabulate(dim)(j =>
            if (j == 0) 10.0f
            else if (j <= 3) rng.nextGaussian().toFloat * 3.0f
            else rng.nextGaussian().toFloat * 0.1f)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def skewedCentroids: Array[Array[Double]] = Array(
    Array(1.0, 0, 0, 0, 0, 0, 0, 0), // the hot cone
    Array(0.0, 0, 0, 0, 0, 0, 0, 1), // the 2% cluster
    Array(0.0, 0, 0, 0, 0, 1, 0, 0), // dead directions
    Array(0.0, 0, 0, 0, 1, 0, 0, 0))

  private def build(dir: String, e: org.apache.spark.sql.DataFrame): Unit = {
    val samples = e.filter(col("vec_id") < 32).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cbs = Pq.codebooks(samples, m = 4)
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", dir, skewedCentroids, cbs)
  }

  private def maxFrac(dir: String): (Double, Int) = {
    val idx = AnnIndex.load(spark, dir)
    val stats = AnnIndex.cellStats(idx).collect()
    (stats.map(_.getAs[Double]("frac")).max, idx.nlist)
  }

  test("rebalance splits skew-planted hot cells until bounded, preserves the visible set, and is deterministic") {
    val root = java.nio.file.Files.createTempDirectory("ann_rebal").toString
    val e = skewedCorpus(600).cache()
    val dir = s"$root/idx"
    build(dir, e)

    val (fracBefore, nlistBefore) = maxFrac(dir)
    assert(fracBefore > 0.9, s"skew plant failed: max frac $fracBefore")

    val splits = AnnIndex.rebalance(e, "vec_id", "embedding", dir,
      maxImbalance = 3.0, maxSplits = 6)
    assert(splits >= 1, "policy found nothing to split on a planted skew")

    // post-policy: every cell within the bar the policy enforces (or
    // the budget spent — then the worst cell must still have shrunk)
    val idx = AnnIndex.load(spark, dir)
    val stats = AnnIndex.cellStats(idx).collect()
    val total = stats.map(_.getAs[Long]("n_vectors")).sum
    val maxCell = stats.map(_.getAs[Long]("n_vectors")).max
    assert(total == 600, "rebalance changed the corpus size")
    if (splits < 6)
      assert(maxCell <= 3.0 * total.toDouble / idx.nlist,
        s"policy stopped early with max cell $maxCell of $total over " +
          s"${idx.nlist} cells")
    assert(idx.nlist == nlistBefore + splits)
    val (fracAfter, _) = maxFrac(dir)
    assert(fracAfter <= fracBefore * 0.6,
      s"max-cell scan not bounded: $fracBefore -> $fracAfter")

    // the visible id set is untouched (splits move rows, never rows' ids)
    val visible = idx.codes.select("neighbor_id")
      .collect().map(_.getLong(0)).sorted
    assert(visible.toSeq == (0L until 600L))

    // the split index still serves: every corpus row finds itself
    val panel = e.filter(col("vec_id").isin(3L, 77L, 150L, 423L))
    val got = AnnIndex.topK(idx, panel, "vec_id", "embedding",
      k = 1, nprobe = idx.nlist)
    assert(got.count() == 4)

    // idempotence: a second policy run finds nothing hot
    assert(AnnIndex.rebalance(e, "vec_id", "embedding", dir,
      maxImbalance = 3.0, maxSplits = 6) == 0)

    // determinism: the same policy on a twin build yields bit-equal
    // centroid tables (replayable maintenance — the q168 oracle's
    // pinned-derivation requirement, held by the policy too)
    val dir2 = s"$root/idx2"
    build(dir2, e)
    val splits2 = AnnIndex.rebalance(e, "vec_id", "embedding", dir2,
      maxImbalance = 3.0, maxSplits = 6)
    assert(splits2 == splits)
    val c1 = AnnIndex.load(spark, dir).centroids.map(_.toSeq).toSeq
    val c2 = AnnIndex.load(spark, dir2).centroids.map(_.toSeq).toSeq
    assert(c1 == c2, "rebalance is not deterministic across twin builds")
    e.unpersist(): Unit
  }

  test("rebalanceSq: the SQ tier's policy twin — bounded cells, and the split re-keys rows with BIT-IDENTICAL codes") {
    val root = java.nio.file.Files.createTempDirectory("ann_rebal_sq").toString
    val e = skewedCorpus(600).cache()
    val dir = s"$root/idx"
    AnnIndex.buildSq(e, "vec_id", "embedding", dir,
      graft.operators.Sq.fit(e, "embedding"), Some(skewedCentroids))

    def codesById() = AnnIndex.loadSq(spark, dir).codes
      .select("neighbor_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).sortBy(_._1).toSeq
    val before = codesById()
    val statsBefore = AnnIndex.cellStatsSq(AnnIndex.loadSq(spark, dir))
      .collect()
    assert(statsBefore.map(_.getAs[Double]("frac")).max > 0.9,
      "skew plant failed")

    val splits = AnnIndex.rebalanceSq(e, "vec_id", "embedding", dir,
      maxImbalance = 3.0, maxSplits = 6)
    assert(splits >= 1)

    val idx = AnnIndex.loadSq(spark, dir)
    val stats = AnnIndex.cellStatsSq(idx).collect()
    val total = stats.map(_.getAs[Long]("n_vectors")).sum
    assert(total == 600)
    if (splits < 6)
      assert(stats.map(_.getAs[Long]("n_vectors")).max <=
        3.0 * total.toDouble / idx.nlist)
    assert(idx.nlist == skewedCentroids.length + splits)

    // the SQ split is a RE-KEY: every id's codes are bit-identical
    // (SQ encoding is cell-independent — only the partition key moved)
    assert(codesById() == before,
      "SQ split changed codes — it must only re-key")

    // pruned serving works against the grown centroid table
    val panel = e.filter(col("vec_id").isin(3L, 77L, 150L, 423L))
    assert(AnnIndex.topKSq(idx, panel, "vec_id", "embedding",
      k = 1, nprobe = idx.nlist, prune = true).count() == 4)

    // idempotence
    assert(AnnIndex.rebalanceSq(e, "vec_id", "embedding", dir,
      maxImbalance = 3.0, maxSplits = 6) == 0)

    // a flat (no-centroids) SQ index refuses the policy loudly
    val flat = s"$root/flat"
    AnnIndex.buildSq(e, "vec_id", "embedding", flat,
      graft.operators.Sq.fit(e, "embedding"))
    intercept[IllegalArgumentException] {
      AnnIndex.rebalanceSq(e, "vec_id", "embedding", flat)
    }
    e.unpersist(): Unit
  }

  test("a concurrent commit aborts the policy loudly: stale snapshot pin, and a lost publish race mid-policy") {
    val root = java.nio.file.Files.createTempDirectory("ann_rebal_race").toString
    val e = skewedCorpus(300).cache()
    val dir = s"$root/idx"
    build(dir, e)
    val hot = {
      val idx = AnnIndex.load(spark, dir)
      AnnIndex.cellStats(idx).collect()
        .maxBy(_.getAs[Long]("n_vectors")).getAs[Int]("cell")
    }
    val subs = Array(
      Array(1.0, 0.1, 0, 0, 0, 0, 0, 0), Array(1.0, -0.1, 0, 0, 0, 0, 0, 0))

    // (a) the snapshot PIN: sub-centroids derived at generation 0, a
    // commit moved the chain to generation 1 — the split must refuse
    // BEFORE staging (the derivation's member set is stale), on both
    // tiers. This is rebalance's enforced abort, not the publish race.
    val extra = Seq((100000L, Seq.fill(dim)(0.25f))).toDF("vec_id", "embedding")
    AnnIndex.appendIvfPq(extra, "vec_id", "embedding", dir)
    val exPin = intercept[java.util.ConcurrentModificationException](
      AnnIndex.splitCellsImpl(e, "vec_id", "embedding", dir,
        Seq(hot -> subs), expectMid = Some(0L), hotOverride = None))
    assert(exPin.getMessage.contains("stale"), exPin.getMessage)
    assert(AnnIndex.load(spark, dir).nlist == skewedCentroids.length,
      "a refused split left a new model behind")

    val sqDir = s"$root/sq"
    AnnIndex.buildSq(e, "vec_id", "embedding", sqDir,
      graft.operators.Sq.fit(e, "embedding"), Some(skewedCentroids))
    AnnIndex.appendSq(extra, "vec_id", "embedding", sqDir)
    val exPinSq = intercept[java.util.ConcurrentModificationException](
      AnnIndex.splitCellsSqImpl(e, "vec_id", "embedding", sqDir,
        Seq(hot -> subs), expectMid = Some(0L), hotOverride = None))
    assert(exPinSq.getMessage.contains("stale"), exPinSq.getMessage)

    // (b) END-TO-END through the policy: a competing append lands in
    // the split's publish window — rebalance aborts loudly, the
    // racer's commit survives, no model bump leaks
    val dir2 = s"$root/idx2"
    build(dir2, e)
    val nBefore = AnnIndex.load(spark, dir2).nrows
    IndexLog.testBeforePublish.put(dir2, () =>
      AnnIndex.appendIvfPq(
        Seq((200000L, Seq.fill(dim)(0.5f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir2))
    intercept[java.util.ConcurrentModificationException](
      AnnIndex.rebalance(e, "vec_id", "embedding", dir2,
        maxImbalance = 3.0, maxSplits = 6))
    val after = AnnIndex.load(spark, dir2)
    assert(after.nrows == nBefore + 1, "the racing append's row was lost")
    assert(after.nlist == skewedCentroids.length,
      "an aborted policy run left a grown centroid table")
    e.unpersist(): Unit
  }

  test("rebalance skips an unsplittable all-duplicate hot cell instead of spinning") {
    val root = java.nio.file.Files.createTempDirectory("ann_rebal_dup").toString
    // every vector identical => one hot cell that CANNOT be separated
    val e = (0L until 200L)
      .map(i => (i, Seq.fill(dim)(1.0f))).toDF("vec_id", "embedding")
    val dir = s"$root/idx"
    build(dir, e)
    val splits = AnnIndex.rebalance(e, "vec_id", "embedding", dir,
      maxImbalance = 2.0, maxSplits = 4)
    assert(splits == 0, "an all-duplicate cell cannot be split")
    assert(AnnIndex.load(spark, dir).codes.count() == 200)
  }
}
