package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Sq}
import graft.plans.SketchExpressions.nearestCentroids
import graft.sources.AnnIndex

/** The one-job serving search of [[AnnIndex.topK]], [[AnnIndex.topKSq]]
  * and their filtered forms returns, row for row, what the operator
  * plans ([[Pq.ivfPqSearch]], [[Sq.topK]]) return over the same opened
  * codes — exact ties, self-exclusion, duplicate query ids, zero norms,
  * k above the candidate count and tombstones included — and a
  * malformed PQ code fails loudly. A batch one row above
  * [[AnnIndex.snapshotCollectMax]] runs the operator plans themselves,
  * its probing searches over a pinned batch. */
class AnnServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  /** Four clusters; ids 100..104 repeat the vectors of ids 0..4 (exact
    * score ties), id 200 is the zero vector (an SQ8 row of zero
    * reconstruction norm under [[zeroMinModel]]). */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(5)
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(j =>
        (if (j == (i % 4).toInt * 2) 10.0 else 0.0) + rng.nextGaussian() * 0.3).toSeq)
    }
    val dups = base.take(5).map { case (i, v) => (i + 100, v) }
    (base ++ dups :+ (200L -> Seq.fill(dim)(0.0))).toDF("vec_id", "embedding").cache()
  }

  /** The request: corpus members (self-exclusion), one of them a
    * duplicated vector, id 7 twice with two vectors, an outside id, a
    * zero vector and a NULL id. */
  private lazy val queries: DataFrame = {
    val v = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    Seq[(Option[Long], Seq[Double])](Some(0L) -> v(0L), Some(13L) -> v(13L),
      Some(102L) -> v(102L), Some(7L) -> v(7L), Some(7L) -> v(21L),
      Some(500L) -> v(42L).map(_ + 0.5), Some(300L) -> Seq.fill(dim)(0.0),
      None -> v(30L)).toDF("vec_id", "embedding")
  }

  private lazy val cents: Array[Array[Double]] =
    corpus.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(graft.functions.VectorFunctions.normalize(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)

  private lazy val cbs: Array[Array[Array[Double]]] =
    Pq.codebooks(corpus.filter(col("vec_id") < 16).orderBy("vec_id")
      .select(Pq.residualExpr(col("embedding"),
        element_at(nearestCentroids(col("embedding"), cents, 1), 1), cents))
      .collect().map(_.getSeq[Double](0).toArray), m = 4)

  /** Fitted steps over zero mins: the zero vector encodes to all-zero
    * codes and reconstructs to norm 0. */
  private lazy val zeroMinModel: Sq.Model = {
    val m = Sq.fit(corpus, "embedding")
    Sq.Model(Array.fill(dim)(0.0), m.steps, m.invSteps)
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("ann_serve_spec").toString

  /** Two segments and one tombstone set over the same corpus. */
  private def indexed(build: (DataFrame, String) => Unit,
                      append: (DataFrame, String) => Unit): String = {
    val dir = s"${tmpDir()}/idx"
    build(corpus.filter(col("vec_id") < 40), dir)
    append(corpus.filter(col("vec_id") >= 40), dir)
    AnnIndex.delete(Seq(9L, 18L, 101L).toDF("vec_id"), "vec_id", dir)
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), s"$what: schema")
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty, s"$what: empty reference")
    assert(g == w, s"$what: kernel\n${g.mkString("\n")}\nreference\n${w.mkString("\n")}")
  }

  /** Rows of `codes` in the cells any query of `batch` probes — the
    * pruned operator plan's candidate set. */
  private def probedCodes(codes: DataFrame, cellCol: String, nprobe: Int,
                          batch: DataFrame = queries): DataFrame = {
    val cells = batch.select(explode(nearestCentroids(col("embedding"),
      cents, nprobe))).distinct().collect().map(_.getInt(0))
    codes.filter(col(cellCol).isin(cells.map(Int.box): _*))
  }

  private def allowedIds = corpus.filter(col("vec_id") % 3 =!= 0)

  test("IVF-PQ kernel == Pq.ivfPqSearch, row for row (pruned, all cells, filtered)") {
    val dir = indexed(
      (df, d) => AnnIndex.buildIvfPq(df, "vec_id", "embedding", d, cents, cbs),
      (df, d) => AnnIndex.appendIvfPq(df, "vec_id", "embedding", d))
    val idx = AnnIndex.load(spark, dir)
    assert(idx.batches.size == 2 && idx.codes.count() == corpus.count() - 3)
    for (k <- Seq(3, 200); nprobe <- Seq(1, 2, cents.length)) {
      val got = AnnIndex.topK(idx, queries, "vec_id", "embedding", k, nprobe)
      assertSame(s"topK k=$k nprobe=$nprobe", got,
        Pq.ivfPqSearch(idx.codes, queries, "vec_id", "embedding", cents, cbs,
          k, nprobe))
      val g = got.collect()
      // the answers really hold exact ties (ids 4 and 104 share a vector)
      if (k == 200) assert(g.groupBy(r => (r.get(0), r.get(2))).exists(_._2.length > 1))
      // and id 7 answers once per rank, from both of its vectors
      if (k == 3) assert(g.count(r => !r.isNullAt(0) && r.getLong(0) == 7L) == 3)
    }
    for (smallMask <- Seq(1024, 0)) {
      assertSame(s"topKWhere smallMask=$smallMask",
        AnnIndex.topKWhere(idx, queries, "vec_id", "embedding", allowedIds,
          "vec_id", k = 3, nprobe = 2, smallMask = smallMask),
        Pq.ivfPqSearch(idx.codes.join(allowedIds.select(col("vec_id")
          .as("neighbor_id")), Seq("neighbor_id"), "left_semi"), queries,
          "vec_id", "embedding", cents, cbs, 3, 2))
    }
  }

  test("SQ8 kernel == Sq.topK, row for row (flat, pruned, filtered, zero norms)") {
    def sqIndex(withCells: Boolean) = AnnIndex.loadSq(spark, indexed(
      (df, d) => AnnIndex.buildSq(df, "vec_id", "embedding", d, zeroMinModel,
        if (withCells) Some(cents) else None),
      (df, d) => AnnIndex.appendSq(df, "vec_id", "embedding", d)))
    val flat = sqIndex(withCells = false)
    val celled = sqIndex(withCells = true)
    // the zero vector is a zero-norm row of the index
    assert(flat.codes.filter(col("neighbor_id") === 200L)
      .select("recon_norm").as[Double].collect().toSeq == Seq(0.0))
    for (k <- Seq(3, 200)) {
      assertSame(s"flat topKSq k=$k",
        AnnIndex.topKSq(flat, queries, "vec_id", "embedding", k),
        Sq.topK(queries, flat.codes, "vec_id", "embedding", zeroMinModel, k))
      assertSame(s"cell-layout full scan k=$k",
        AnnIndex.topKSq(celled, queries, "vec_id", "embedding", k),
        Sq.topK(queries, celled.codes, "vec_id", "embedding", zeroMinModel, k))
      for (nprobe <- Seq(1, 2))
        assertSame(s"pruned topKSq k=$k nprobe=$nprobe",
          AnnIndex.topKSq(celled, queries, "vec_id", "embedding", k, nprobe,
            prune = true),
          Sq.topK(queries, probedCodes(celled.codes, "cell", nprobe), "vec_id",
            "embedding", zeroMinModel, k))
    }
    // the zero-norm query answers nothing on either side
    assert(!AnnIndex.topKSq(flat, queries, "vec_id", "embedding", 200)
      .collect().exists(r => !r.isNullAt(0) && r.getLong(0) == 300L))
    val allowedCodes = (c: DataFrame) => c.join(allowedIds.select(col("vec_id")
      .as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    for (smallMask <- Seq(1024, 0)) {
      assertSame(s"topKWhereSq flat smallMask=$smallMask",
        AnnIndex.topKWhereSq(flat, queries, "vec_id", "embedding", allowedIds,
          "vec_id", k = 3, smallMask = smallMask),
        Sq.topK(queries, allowedCodes(flat.codes), "vec_id", "embedding",
          zeroMinModel, 3))
      assertSame(s"topKWhereSq pruned smallMask=$smallMask",
        AnnIndex.topKWhereSq(celled, queries, "vec_id", "embedding",
          allowedIds, "vec_id", k = 3, nprobe = 2, prune = true,
          smallMask = smallMask),
        Sq.topK(queries, probedCodes(allowedCodes(celled.codes), "cell", 2),
          "vec_id", "embedding", zeroMinModel, 3))
    }
  }

  test("IVF-PQ kernel == Pq.ivfPqSearch when shuffled joins interleave the cells") {
    // with broadcasts off, the tombstone anti-join and the mask semi-join
    // sort the codes by neighbor_id, so a task meets its cells row by row.
    // The snapshot's tombstone sets are joined (not driver-held id masks)
    // once they hold more rows than the open reads onto the driver: this
    // one adds a set of the real ids plus absent ones above that cap
    val dir = indexed(
      (df, d) => AnnIndex.buildIvfPq(df, "vec_id", "embedding", d, cents, cbs),
      (df, d) => AnnIndex.appendIvfPq(df, "vec_id", "embedding", d))
    AnnIndex.delete(spark.range(100000L, 105000L).toDF("vec_id")
      .unionByName(Seq(9L, 18L, 101L).toDF("vec_id")), "vec_id", dir)
    val idx = AnnIndex.load(spark, dir)
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(key => key -> spark.conf.get(key))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (nprobe <- Seq(2, cents.length)) {
        val (got, plans) = TestSpark.plansOf(
          AnnIndex.topK(idx, queries, "vec_id", "embedding", 200, nprobe))
        assert(plans.exists(_.exists {
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
          case _ => false
        }), "the tombstone anti-join did not shuffle")
        assertSame(s"shuffled topK nprobe=$nprobe", got,
          Pq.ivfPqSearch(idx.codes, queries, "vec_id", "embedding", cents, cbs,
            200, nprobe))
      }
      assertSame("shuffled topKWhere",
        AnnIndex.topKWhere(idx, queries, "vec_id", "embedding", allowedIds,
          "vec_id", k = 200, nprobe = 2, smallMask = 0),
        Pq.ivfPqSearch(idx.codes.join(allowedIds.select(col("vec_id")
          .as("neighbor_id")), Seq("neighbor_id"), "left_semi"), queries,
          "vec_id", "embedding", cents, cbs, 200, 2))
    } finally prev.foreach { case (key, v) => spark.conf.set(key, v) }
  }

  test("at the snapshot cap the kernel serves; one row above it the operator plans do, with the same rows") {
    val (pqDir, sqDir) = (s"${tmpDir()}/pq", s"${tmpDir()}/sq")
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", pqDir, cents, cbs)
    AnnIndex.buildSq(corpus, "vec_id", "embedding", sqDir, zeroMinModel,
      Some(cents))
    val (pq, sq) = (AnnIndex.load(spark, pqDir), AnnIndex.loadSq(spark, sqDir))
    val cap = AnnIndex.snapshotCollectMax
    // distinct ids near clusters 0 and 1 only, so a one-cell probe
    // leaves cells out
    def batch(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        when(j === col("id") % 2 * 2, 10.0).otherwise(0.0) +
          sin(col("id") * 7 + j)).as("embedding"))
    val above = batch(cap + 1)
    val probed = probedCodes(sq.codes, "cell", 1, above)
    assert(probed.count() < sq.codes.count(), "the probe prunes nothing")
    val allowedCodes = pq.codes.join(allowedIds.select(col("vec_id")
      .as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    // (search, reference over the above-cap batch, pins its batch)
    val cases = Seq[(String, DataFrame => DataFrame, DataFrame, Boolean)](
      ("pruned topK", AnnIndex.topK(pq, _, "vec_id", "embedding", k = 3,
        nprobe = 1),
        Pq.ivfPqSearch(pq.codes, above, "vec_id", "embedding", cents, cbs, 3, 1),
        true),
      ("topKWhere", AnnIndex.topKWhere(pq, _, "vec_id", "embedding",
        allowedIds, "vec_id", k = 3, nprobe = 1),
        Pq.ivfPqSearch(allowedCodes, above, "vec_id", "embedding", cents, cbs,
          3, 1), true),
      ("flat topKSq", AnnIndex.topKSq(sq, _, "vec_id", "embedding", k = 3),
        Sq.topK(above, sq.codes, "vec_id", "embedding", zeroMinModel, 3),
        false),
      ("pruned topKSq", AnnIndex.topKSq(sq, _, "vec_id", "embedding", k = 3,
        nprobe = 1, prune = true),
        Sq.topK(above, probed, "vec_id", "embedding", zeroMinModel, 3), true))
    for ((what, search, reference, pinned) <- cases) {
      // a query's neighbours do not depend on the rest of its batch, so
      // the cap-sized batch's reference drops the last query
      val want = reference.cache()
      val atCap = search(batch(cap))
      assert(atCap.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"$what at the cap: not the kernel's local relation")
      assertSame(s"$what at the cap", atCap, want.filter(col("query_id") < cap))
      val got = search(above)
      assert(got.queryExecution.analyzed.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) == pinned,
        s"$what above the cap: reads a pinned batch != $pinned")
      assertSame(s"$what above the cap", got, want)
      want.unpersist()
    }
  }

  test("a malformed PQ code fails loudly, naming its row, instead of ranking first") {
    val dir = s"${tmpDir()}/idx"
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir, cents, cbs)
    val idx = AnnIndex.load(spark, dir)
    // a code above ncode, and a codes array shorter than m
    for (bad <- Seq(Seq(99, 1, 1, 1), Seq(1, 1))) {
      val corrupt = idx.copy(codes = idx.codes.unionByName(
        Seq((9999L, 1, bad)).toDF("neighbor_id", "_cell", "codes")))
      val ex = intercept[IllegalArgumentException](
        AnnIndex.topK(corrupt, queries, "vec_id", "embedding", k = 3,
          nprobe = cents.length).collect())
      assert(ex.getMessage.contains("neighbor_id 9999"), ex.getMessage)
    }
  }
}
