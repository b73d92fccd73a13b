package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Pq, Similarity, Sq}
import graft.plans.SketchExpressions.nearestCentroids
import graft.sources.AnnIndex

/** `ann_serving`: one client in a closed loop against persisted ANN
  * indexes built in set-up from the seeded clustered corpus.
  *
  * Searches query a fixed 8-vector panel (the q153 serving shape): open
  * the current snapshot, then top-10 with nprobe 4. Between them come
  * writes of churn vectors: append, upsert, delete, and a compaction
  * followed by snapshot expiry. A pass runs one such request cycle
  * against the IVF-PQ index and the same cycle against the SQ8 index, and
  * leaves each index holding the corpus alone again.
  *
  * Each search is checked against the exact top-10 that
  * `Similarity.bruteForceTopK` gave in set-up: recall at 10 must reach
  * the codec's floor, and every neighbour returned must be a live vector.
  */
final class AnnServing(spark: SparkSession, work: String, seed: Long)
    extends Workload {

  import AnnServing._

  private val in = new File(work, "in").toString
  private val pqDir = new File(work, "index/ivfpq").toString
  private val sqDir = new File(work, "index/sq8").toString

  private var corpusSize: Long = 0L
  private var panel: DataFrame = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var churn: DataFrame = _
  private var churnUpdate: DataFrame = _
  private var churnIds: Set[Long] = Set.empty

  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private val writeMs = mutable.ArrayBuffer.empty[Double]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val bytesPerVector = mutable.ArrayBuffer.empty[Double]
  // per-request samples the traced run turns into layer metrics
  private val fsPerSearch = mutable.ArrayBuffer.empty[Double]
  private val fsPerWrite = mutable.ArrayBuffer.empty[Double]
  private val liveSegments = mutable.ArrayBuffer.empty[Double]
  private val generations = mutable.ArrayBuffer.empty[Double]
  private var churnLive = false

  def setup(): Unit = {
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    corpusSize = corpus.count()
    churn = spark.read.parquet(s"$in/churn.parquet")
    churnUpdate = spark.read.parquet(s"$in/churn_update.parquet")
    churnIds = churn.select("vec_id").collect().map(_.getLong(0)).toSet
    Main.note("corpus read")

    val rnd = new scala.util.Random(seed)
    val pick = rnd.shuffle((0L until corpusSize).toVector)
    val panelIds = pick.take(PanelSize)
    // the request carries its vectors, as an endpoint would receive them
    val rows = corpus.filter(col("vec_id").isin(panelIds: _*)).collect().toSeq
    panel = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), corpus.schema)
    truth = Similarity.bruteForceTopK(panel, corpus, "vec_id", "embedding", K)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    Main.note("ground truth")

    // IVF-PQ model: the generated cell centroids, PQ codebooks from the
    // residuals of sampled corpus vectors
    val cents = spark.read.parquet(s"$in/centroids.parquet").orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    val samples = corpus
      .filter(col("vec_id").isin(pick.slice(PanelSize, PanelSize + Codewords): _*))
      .orderBy("vec_id")
      .select(Pq.residualExpr(col("embedding"),
        element_at(nearestCentroids(col("embedding"), cents, 1), 1), cents))
      .collect().map(_.getSeq[Double](0).toArray)
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", pqDir, cents,
      Pq.codebooks(samples, SubQuantizers))
    Main.note("IVF-PQ built")
    AnnIndex.buildSq(corpus, "vec_id", "embedding", sqDir,
      Sq.fit(corpus, "embedding"))
    Main.note("SQ8 built")
    // warm-up: one search per codec, untimed
    Seq(Pq_, Sq8).foreach(search)
    Seq(searchMs, writeMs, bytesPerVector, fsPerSearch, fsPerWrite,
      liveSegments, generations).foreach(_.clear())
    recalls.clear()
  }

  /** One request cycle against each codec's index. */
  def pass(): Unit = {
    val t0 = System.nanoTime()
    for (c <- Seq(Pq_, Sq8); r <- Cycle) request(c, r)
    passWalls += (System.nanoTime() - t0) / 1e9
  }

  private def request(codec: String, r: Request): Unit = r match {
    case Search => search(codec)
    case w => write(codec, w)
  }

  private def search(codec: String): Unit = {
    Trace.beginOp()
    val fs0 = Trace.fsOps()
    val t0 = System.nanoTime()
    val got = attempt(s"search/$codec") {
      Trace.span(s"ann.search/$codec") {
        val res = codec match {
          case Pq_ =>
            val idx = Trace.span(s"ann.load/$codec")(AnnIndex.load(spark, pqDir))
            liveSegments += idx.batches.size
            topk(codec, AnnIndex.topK(idx, panel, "vec_id", "embedding",
              k = K, nprobe = NProbe))
          case Sq8 =>
            val idx = Trace.span(s"ann.load/$codec")(AnnIndex.loadSq(spark, sqDir))
            liveSegments += idx.batches.size
            topk(codec, AnnIndex.topKSq(idx, panel, "vec_id", "embedding",
              k = K, nprobe = NProbe))
        }
        res
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    fsPerSearch += (Trace.fsOps() - fs0).toDouble
    got.foreach { rows =>
      searchMs += ms
      checkSearch(codec, rows)
    }
  }

  /** Top-k call (its eager driver work is the `_build` span) and the
    * collect of its answer. */
  private def topk(codec: String, build: => DataFrame): Array[Row] =
    Trace.span(s"ann.topk/$codec") {
      val df = Trace.span(s"ann.topk_build/$codec")(build)
      df.select("query_id", "neighbor_id").collect()
    }

  /** Recall at 10 against the set-up ground truth; neighbours must be
    * live. A failed check counts the search as failed. */
  private def checkSearch(codec: String, rows: Array[Row]): Unit = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val dead = rows.map(_.getLong(1)).filter(n =>
      n >= corpusSize && !(churnLive && churnIds.contains(n)))
    val recall = truth.map { case (q, t) =>
      (got.getOrElse(q, Set.empty[Long]) intersect t).size.toDouble / K
    }.sum / truth.size
    recalls.getOrElseUpdate(codec, mutable.ArrayBuffer.empty) += recall
    val floor = RecallFloor(codec)
    val ok = dead.isEmpty && recall >= floor && got.size == truth.size
    if (!ok) {
      failed += 1
      val why = f"search/$codec: recall $recall%.3f (floor $floor), " +
        s"${dead.length} dead neighbours, ${got.size} queries answered"
      System.err.println(s"[perfbench] $why")
      if (failures.size < 20) failures += why
    }
  }

  private def write(codec: String, w: Request): Unit = {
    Trace.beginOp()
    val dir = if (codec == Pq_) pqDir else sqDir
    val fs0 = Trace.fsOps()
    val t0 = System.nanoTime()
    val name = w.toString.toLowerCase
    attempt(s"$name/$codec") {
      Trace.span(s"ann.$name/$codec") {
        (w, codec) match {
          case (Append, Pq_) => AnnIndex.appendIvfPq(churn, "vec_id", "embedding", dir)
          case (Append, _) => AnnIndex.appendSq(churn, "vec_id", "embedding", dir)
          case (Upsert, Pq_) =>
            AnnIndex.upsertBatchIvfPq(churnUpdate, "vec_id", "embedding", dir)
          case (Upsert, _) => AnnIndex.upsertBatchSq(churnUpdate, "vec_id", "embedding", dir)
          case (Delete, _) => AnnIndex.delete(churn.select("vec_id"), "vec_id", dir)
          case (Compact, _) =>
            AnnIndex.compact(spark, dir)
            AnnIndex.expire(spark, dir, keepLast = 1)
          case other => throw new IllegalStateException(s"not a write: $other")
        }
      }
    }
    writeMs += (System.nanoTime() - t0) / 1e6
    fsPerWrite += (Trace.fsOps() - fs0).toDouble
    w match {
      case Append => churnLive = true
      case Delete => churnLive = false
      case Compact => bytesPerVector += dirBytes(new File(dir)).toDouble / corpusSize
      case _ =>
    }
    generations += AnnIndex.versionsOf(spark, dir).size
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  private def meanRecall: Double = {
    val all = recalls.values.flatten.toSeq
    if (all.isEmpty) 0.0 else all.sum / all.size
  }

  def endToEnd(): Map[String, Double] = Map(
    "op_mean_ms" -> Stats.mean(searchMs.toSeq),
    "pass_s" -> Stats.median(passWalls.toSeq))

  def detail(): Map[String, Double] = Map(
    "ann.search_p50_ms" -> Stats.median(searchMs.toSeq),
    "ann.search_p90_ms" -> Stats.quantile(searchMs.toSeq, 0.9),
    "ann.write_p50_ms" -> Stats.median(writeMs.toSeq),
    "ann.recall_at_10" -> meanRecall,
    "ann.index_bytes_per_vector" -> Stats.median(bytesPerVector.toSeq),
    "ann.searches" -> searchMs.size.toDouble) ++
    recalls.map { case (c, r) => s"ann.recall_at_10.$c" -> r.sum / r.size }

  def layers(t: TraceResult): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "ann.load_ms" -> t.meanMs("ann.load"),
      "ann.topk_ms" -> t.meanMs("ann.topk"),
      "ann.jobs_per_search" -> t.jobsPerCall("ann.search"),
      "ann.fs_ops_per_search" -> mean(fsPerSearch.toSeq),
      "ann.live_segments" -> mean(liveSegments.toSeq),
      "ann.append_ms" -> t.meanMs("ann.append"),
      "ann.upsert_ms" -> t.meanMs("ann.upsert"),
      "ann.delete_ms" -> t.meanMs("ann.delete"),
      "ann.compact_ms" -> t.meanMs("ann.compact"),
      "ann.jobs_per_write" ->
        t.jobsPerCall("ann.append", "ann.upsert", "ann.delete", "ann.compact"),
      "ann.fs_ops_per_write" -> mean(fsPerWrite.toSeq),
      "ann.manifest_generations" -> mean(generations.toSeq),
      "ann.recall_at_10" -> meanRecall,
      "ann.index_bytes_per_vector" -> Stats.median(bytesPerVector.toSeq))
  }

  def layerNames: Seq[String] = AnnServing.LayerNames
}

object AnnServing {
  sealed trait Request
  case object Search extends Request
  case object Append extends Request
  case object Upsert extends Request
  case object Delete extends Request
  case object Compact extends Request

  /** One request cycle: a search before each write. The churn vectors
    * are appended, corrected, deleted and compacted away, so every cycle
    * starts from the corpus alone. */
  val Cycle: Seq[Request] =
    Seq(Search, Append, Search, Upsert, Search, Delete, Search, Compact)

  val Pq_ = "pq"
  val Sq8 = "sq"
  val PanelSize = 8
  val K = 10
  val NProbe = 4
  val Codewords = 64
  val SubQuantizers = 8

  val LayerNames: Seq[String] = Seq(
    "ann.load_ms", "ann.topk_ms", "ann.jobs_per_search", "ann.fs_ops_per_search",
    "ann.live_segments", "ann.append_ms", "ann.upsert_ms", "ann.delete_ms",
    "ann.compact_ms", "ann.jobs_per_write", "ann.fs_ops_per_write",
    "ann.manifest_generations", "ann.recall_at_10", "ann.index_bytes_per_vector")

  /** Lowest mean recall at 10 a search may return, per codec. */
  val RecallFloor: Map[String, Double] = Map(Pq_ -> 0.5, Sq8 -> 0.8)
}
