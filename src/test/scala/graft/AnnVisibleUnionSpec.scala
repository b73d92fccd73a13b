package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pq, Sq}
import graft.plans.SketchExpressions.nearestCentroids
import graft.sources.{AnnIndex, IndexLog}

/** An opened snapshot's codes ([[AnnIndex.load]], [[AnnIndex.loadSq]])
  * mask pending tombstones as driver-held id sets and read each mask run
  * as one scan. These cases hold them, as multisets, to the formulation
  * they replaced: every segment scanned on its own and anti-joined with
  * the tombstone sets of a higher id. Seeded sequences of append, upsert
  * and delete run on both codecs with INT and BIGINT ids, NULL neighbour
  * ids, NULL and repeated tombstone ids, re-appends after a delete,
  * several mask runs and a tombstone set above the driver-held cap. */
class AnnVisibleUnionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.multiset

  private val dim = 8

  /** Ids 0..79 in four clusters, plus two rows with a NULL id. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(3)
    def vec(i: Long) = Array.tabulate(dim)(j =>
      (if (j == (i % 4).toInt * 2) 10.0 else 0.0) + rng.nextGaussian() * 0.3).toSeq
    ((0L until 80L).map(i => (Option(i), vec(i))) ++
      Seq((None, vec(1L)), (None, vec(2L))))
      .toDF("vec_id", "embedding").cache()
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

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("ann_visible_union_spec").toString

  /** The per-segment anti-join formulation, kept as the reference: each
    * live segment of the current manifest scanned on its own, anti-joined
    * with the union of the tombstone sets of a higher id. */
  private def perSegmentAntiJoin(dir: String): DataFrame = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val (_, md) = IndexLog.refresh(f, dir)
    md.segs.map { b =>
      val base = spark.read.parquet(s"$dir/data/${b.dirName}")
      val masks = md.tombs.filter(_.id > b.id).map(t =>
        spark.read.schema("neighbor_id BIGINT").parquet(s"$dir/tomb/${t.dirName}"))
      if (masks.isEmpty) base
      else base.join(masks.reduce(_ unionByName _), Seq("neighbor_id"), "left_anti")
    }.reduce(_ unionByName _)
  }

  private final case class Codec(name: String, build: (DataFrame, String) => Unit,
                                 append: (DataFrame, String) => Unit,
                                 upsert: (DataFrame, String) => Unit,
                                 codes: String => DataFrame, cellCol: String)

  private val codecs = Seq(
    Codec("IVF-PQ",
      (df, d) => AnnIndex.buildIvfPq(df, "vec_id", "embedding", d, cents, cbs),
      (df, d) => AnnIndex.appendIvfPq(df, "vec_id", "embedding", d),
      (df, d) => AnnIndex.upsertBatchIvfPq(df, "vec_id", "embedding", d),
      d => AnnIndex.load(spark, d).codes, "_cell"),
    Codec("SQ8 cells",
      (df, d) => AnnIndex.buildSq(df, "vec_id", "embedding", d,
        Sq.fit(corpus, "embedding"), Some(cents)),
      (df, d) => AnnIndex.appendSq(df, "vec_id", "embedding", d),
      (df, d) => AnnIndex.upsertBatchSq(df, "vec_id", "embedding", d),
      d => AnnIndex.loadSq(spark, d).codes, "cell"),
    Codec("SQ8 flat",
      (df, d) => AnnIndex.buildSq(df, "vec_id", "embedding", d,
        Sq.fit(corpus, "embedding")),
      (df, d) => AnnIndex.appendSq(df, "vec_id", "embedding", d),
      (df, d) => AnnIndex.upsertBatchSq(df, "vec_id", "embedding", d),
      d => AnnIndex.loadSq(spark, d).codes, "cell"))

  /** The opened codes against the reference, with the codec's opened
    * cell column named as the segments name it. */
  private def assertVisible(what: String, c: Codec, dir: String): Unit = {
    val got = c.codes(dir).withColumnRenamed(c.cellCol, "cell")
    val want = perSegmentAntiJoin(dir)
    assert(got.columns.toSet == want.columns.toSet, s"$what: columns")
    val cols = want.columns.sorted.map(col)
    assert(multiset(got.select(cols: _*)) == multiset(want.select(cols: _*)),
      s"$what: visible rows differ from the per-segment anti-join")
  }

  for ((c, ci) <- codecs.zipWithIndex; (idType, ti) <- Seq("int", "bigint").zipWithIndex) {
    val seed = 2 * ci + ti + 1
    test(s"${c.name} $idType ids, seed $seed: visible union == per-segment anti-join") {
      val rng = new scala.util.Random(seed)
      val rows = corpus.withColumn("vec_id", col("vec_id").cast(idType))
      def ids(xs: Seq[Long]) = xs.map(Long.box).toSeq
      def some(from: Int, until: Int, n: Int) =
        rng.shuffle((from until until).map(_.toLong)).take(n)
      val dir = s"${tmpDir()}/idx"
      val nullRow = rows.filter(col("vec_id").isNull).limit(1)
      // the build holds ids 0..39 and one NULL-id row
      c.build(rows.filter(col("vec_id") < 40).unionByName(nullRow), dir)
      var deleted = Seq.empty[Long]
      // two appends, two upserts and three deletes in a seeded order
      for ((op, step) <- rng.shuffle(Seq(0, 0, 1, 1, 2, 2, 2)).zipWithIndex) {
        val what = s"step $step"
        op match {
          case 0 => // fresh ids, or a re-append of deleted ones
            val fresh = some(40, 80, 6) ++ deleted.take(3)
            c.append(rows.filter(col("vec_id").isin(ids(fresh): _*)), dir)
          case 1 => // a correction batch, one of its rows with a NULL id
            c.upsert(rows.filter(col("vec_id").isin(ids(some(0, 80, 5)): _*))
              .unionByName(nullRow), dir)
          case _ => // a delete with repeated, absent and NULL ids
            val gone = some(0, 80, 6)
            deleted = gone ++ deleted
            AnnIndex.delete((gone ++ gone.take(2) :+ 900L).map(Option(_))
              .:+(None).toDF("vec_id").withColumn("vec_id",
                col("vec_id").cast(idType)), "vec_id", dir)
        }
        assertVisible(what, c, dir)
      }
      // a re-append after a delete, then a second delete of some of the
      // same ids: two mask runs over the older segments
      c.append(rows.filter(col("vec_id").isin(ids(deleted.take(4)): _*)), dir)
      AnnIndex.delete(deleted.take(2).toDF("vec_id"), "vec_id", dir)
      assertVisible("re-append", c, dir)
      // a set above the driver-held cap: the real ids plus absent ones
      AnnIndex.delete(spark.range(100000L, 105000L).toDF("vec_id")
        .unionByName(some(0, 80, 4).toDF("vec_id")), "vec_id", dir)
      assertVisible("above the cap", c, dir)
      AnnIndex.compact(spark, dir)
      assertVisible("compacted", c, dir)
    }
  }

  /** The one tombstone set of `dir`'s current manifest: its directory and
    * its row count. */
  private def onlyTomb(dir: String): (String, Long) = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val Seq(t) = IndexLog.refresh(f, dir)._2.tombs
    (s"$dir/tomb/${t.dirName}", t.n)
  }

  for (c <- codecs) {
    test(s"${c.name}: a driver-written tombstone set opens like the " +
        "distributed write of the same ids, inline and anti-joined") {
      val root = tmpDir()
      val (a, a2, b) = (s"$root/a", s"$root/a2", s"$root/b")
      c.build(corpus, a)
      // repeated, absent and NULL ids
      val gone = (Seq(3L, 3L, 7L, 900L) ++ (10L to 20L)).map(Option(_)) :+ None
      AnnIndex.delete(gone.toDF("vec_id"), "vec_id", a)
      val (ta, na) = onlyTomb(a)
      assert(na == gone.distinct.size, s"the driver-written set counted $na rows")
      assert(!new java.io.File(ta, "_SUCCESS").exists, "the small set was a Spark write")
      // `b`: the same index with the set rewritten as the distributed
      // write of the same ids; `a2`: a copy of `a` whose open reads the
      // driver-written file from disk (no open has seen its path)
      TestSpark.copyTree(a, b)
      TestSpark.copyTree(a, a2)
      val tb = onlyTomb(b)._1
      gone.toDF("vec_id").select(col("vec_id").cast("long").as("neighbor_id"))
        .distinct().write.mode("overwrite").parquet(tb)
      assert(new java.io.File(tb, "_SUCCESS").exists)
      def same(what: String): Unit = {
        val want = multiset(c.codes(b))
        assert(multiset(c.codes(a)) == want, s"$what: seeded memo != distributed write")
        assert(multiset(c.codes(a2)) == want, s"$what: driver-written file != distributed write")
        assertVisible(what, c, a2)
      }
      same("inline mask")
      // above the cap, every open anti-joins the sets it reads with Spark
      Seq(a, a2, b).foreach(d =>
        AnnIndex.delete(spark.range(100000L, 105000L).toDF("vec_id"), "vec_id", d))
      same("anti-join")
    }
  }

  test("expire reaps an orphaned driver-written tombstone set") {
    val dir = s"${tmpDir()}/idx"
    codecs.head.build(corpus, dir)
    IndexLog.testKillPoint.put(dir, "staged")
    intercept[IndexLog.InjectedCrash](
      AnnIndex.delete(Seq(1L, 2L).toDF("vec_id"), "vec_id", dir))
    val Array(orphan) = new java.io.File(s"$dir/tomb").listFiles()
      .filter(_.getName.startsWith("t-"))
    assert(!new java.io.File(orphan, "_SUCCESS").exists, "the small set was a Spark write")
    assert(AnnIndex.load(spark, dir).codes.count() == corpus.count(),
      "the crashed delete's set is visible")
    Thread.sleep(20)
    AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = 0)
    assert(!orphan.exists, s"expire left the orphaned set $orphan")
  }
}
