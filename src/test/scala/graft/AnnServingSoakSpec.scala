package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Sq}
import graft.sources.AnnIndex

/** Long-lived serving soak for the persisted index — the trimmed
  * in-suite twin of ScaleStress's `serving_soak` exhibit: hundreds of
  * mixed serves (topK pruned / topKWhere masked / topKSq pruned /
  * topKWhereSq masked, both tiers) against PINNED snapshot handles in
  * one session, asserting (1) ZERO cache-manager growth — the
  * snapshot-instead-of-persist serving path leaves nothing behind in
  * `getPersistentRDDs`, locking in the round-14 leak fix as a
  * regression gate rather than a bench observation — and (2) bounded
  * latency drift (median of the last block ≤ 3× the post-warmup first
  * block — loose enough for CI noise, tight enough to catch a
  * per-serve leak). */
class AnnServingSoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def corpus(n: Int) = {
    val rng = new scala.util.Random(41)
    val noise = Array.fill(n)(rng.nextGaussian().toFloat * 0.2f)
    (0L until n.toLong).map { i =>
      val base = Array.tabulate(dim)(j =>
        if (j == (i % 4).toInt * 2) 10.0f else 0.0f)
      (i, base.map(x => x + noise(i.toInt)).toSeq)
    }.toDF("vec_id", "embedding")
  }

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

  test("serving soak: 240 mixed serves on pinned handles — zero cache growth, bounded latency drift") {
    val e = corpus(200).cache()
    val (cents, cbs) = ivfModel(e)
    val sqM = Sq.fit(e, "embedding")
    val root = java.nio.file.Files.createTempDirectory("ann_serve_soak").toString
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", s"$root/ivf", cents, cbs)
    AnnIndex.buildSq(e, "vec_id", "embedding", s"$root/sq", sqM, Some(cents))
    val ivf = AnnIndex.load(spark, s"$root/ivf")
    val sq = AnnIndex.loadSq(spark, s"$root/sq")
    val panel = e.filter(col("vec_id") % 25 === 0)
    val mask = e.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
    val baselineCached = spark.sparkContext.getPersistentRDDs.size

    val iters = 240
    val warmup = 24
    val lat = new Array[Double](iters)
    for (i <- 0 until iters) {
      val t0 = System.nanoTime()
      (i % 4) match {
        case 0 => AnnIndex.topK(ivf, panel, "vec_id", "embedding",
          k = 3, nprobe = 2).count()
        case 1 => AnnIndex.topKWhere(ivf, panel, "vec_id", "embedding",
          mask, "vec_id", k = 3, nprobe = 2).count()
        case 2 => AnnIndex.topKSq(sq, panel, "vec_id", "embedding",
          k = 3, nprobe = 2, prune = true).count()
        case _ => AnnIndex.topKWhereSq(sq, panel, "vec_id", "embedding",
          mask, "vec_id", k = 3, nprobe = 2, prune = true).count()
      }
      lat(i) = (System.nanoTime() - t0) / 1e6
      if ((i + 1) % 40 == 0)
        assert(spark.sparkContext.getPersistentRDDs.size == baselineCached,
          s"serve ${i + 1} grew the cache manager: " +
            spark.sparkContext.getPersistentRDDs.values
              .map(_.name).mkString(", "))
    }
    def med(xs: Array[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val head = med(lat.slice(warmup, warmup + 72))
    val tail = med(lat.takeRight(72))
    assert(tail <= head * 3,
      f"serving latency drifted: post-warmup median $head%.1f ms -> " +
        f"final-block median $tail%.1f ms")
  }
}
