package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns
  * (array<float>) — SURVEY.md north-star similarity ops.
  *
  * Two tiers:
  *  - `bruteForceTopK`: exact cosine top-k. The query side is broadcast
  *    (queries are usually << corpus), so the corpus never shuffles — each
  *    partition scores its local rows against every query and a partial
  *    top-k is taken before the final shuffle (TakeOrdered semantics via
  *    window on (query, score)).
  *  - `lshTopK`: random-hyperplane LSH. Corpus and queries are bucketed by
  *    sign-bit sketches under `tables` independent hyperplane sets; only
  *    same-bucket pairs are scored. At 100 TB the bucket join replaces the
  *    full cross product — recall tunes with tables x planesPerTable.
  */
object Similarity {

  /** Exact cosine top-k neighbors for each query row.
    * Output: (query id, neighbor id, cosine), k rows per query. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10): DataFrame = {
    // norms hoisted to one per ROW (not per pair): same IEEE results as
    // cosine(), a third of the per-pair flops.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      norm2(col(vecCol)).as("_qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      norm2(col(vecCol)).as("_cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(col("_qn") === 0.0 || col("_cn") === 0.0, lit(null).cast("double"))
          .otherwise(dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"), bround(col("cosine"), 6).as("cosine"),
        col("_rn").cast("int").as("rank"))
  }

  /** Two-stage retrieval rerank — the standard production recall
    * recipe (Faiss's refine / `IndexRefineFlat`, Jégou TPAMI 2011
    * §V-C): a cheap compressed tier (IVF-PQ / SQ8 / LSH) over-fetches
    * `k' > k` candidate ids, and only those candidates' RAW vectors are
    * fetched and scored exactly. The corpus is scanned once, never
    * shuffled: the candidate id set (|queries| × k' rows — tiny by
    * construction) broadcasts onto the corpus scan as a join filter, so
    * the exact math runs on |queries| × k' pairs instead of
    * |queries| × |corpus|. ADC's quantization error decides only which
    * k' survive; the final ordering is exact cosine — at 100 TB this
    * recovers near-brute-force precision for one compressed-index scan
    * plus a candidate-sized probe of the raw table.
    *
    * `candidates` needs only (query_id, neighbor_id) — any ANN tier's
    * output shape. Ties and zero-norm rows follow [[bruteForceTopK]]
    * exactly (cosine NULL on zero norms, ordered nulls-last). */
  def rerankTopK(candidates: DataFrame, queries: DataFrame,
                 corpus: DataFrame, idCol: String, vecCol: String,
                 k: Int = 10): DataFrame = {
    val cand = candidates.select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    // joins FIRST, exact math after: the norms/dot run on the
    // candidate-sized joined frame, never on the full corpus scan (a
    // pre-join norm projection would evaluate for every corpus row —
    // the raw-scan rule PlanAuditSpec enforces). Per-pair norms are the
    // same IEEE results as per-row-hoisted ones (the q33 argument).
    val qn = norm2(col("_qv"))
    val cn = norm2(col("_cv"))
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        when(qn === 0.0 || cn === 0.0, lit(null).cast("double"))
          .otherwise(dot(col("_qv"), col("_cv")) / (qn * cn)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        bround(col("cosine"), 6).as("cosine"),
        col("_rn").cast("int").as("rank"))
  }

  /** LSH-bucketed cosine top-k: candidates = rows sharing a hyperplane
    * sign-bucket with the query in ANY of `tables` hash tables.
    *
    * `maxBucketSize` drops degenerate corpus buckets (e.g. near-zero
    * vectors all sharing one sign pattern) before they flood every query
    * in the bucket with candidates. The cap is enforced WITHOUT shuffling
    * the corpus: bucket ids live in a bounded space (tables x
    * 2^planesPerTable), so the per-bucket counts hash-aggregate down to
    * at most that many rows and broadcast back as a semi-join filter —
    * two map passes over the corpus, zero corpus shuffles, matching the
    * broadcast-join probe design.
    *
    * RECALL TRADE-OFF: the cap is a silent filter. A query whose every
    * co-bucket is over-cap gets zero candidates and VANISHES from the
    * output — indistinguishable from "no neighbors" downstream. Pass
    * `onDroppedBuckets` to observe capped runs (it receives the count of
    * dropped buckets, computed from the already-aggregated per-bucket
    * counts — one extra tiny job, nothing recomputed over the corpus);
    * raise `maxBucketSize` or add tables/planes if the count is nonzero
    * and recall matters more than the worst-case join blow-up.
    *
    * `probes` is the LSH-side recall dial (multi-probe LSH, Lv et al.
    * VLDB 2007 — see [[graft.plans.HyperplaneProbesExpr]]): each query
    * additionally probes, per table, the `probes - 1` buckets reached by
    * flipping its smallest-|margin| sign bits one at a time. QUERY-side
    * only — the corpus index (one bucket per row per table) and its scan
    * are unchanged; the probe join fans out ×probes. probes = 1 is
    * classic single-probe LSH (the default, bit-identical to before the
    * dial existed). The q129 audit measures the dial's recall movement
    * on the uniform-random fixture; AnnRecallBandSpec pins both bands. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, dim: Int = 64,
              tables: Int = 8, planesPerTable: Int = 8,
              seed: Long = 42L, maxBucketSize: Int = 10000,
              onDroppedBuckets: Option[Long => Unit] = None,
              probes: Int = 1): DataFrame = {
    val planeSets = lshPlaneSets(tables, planesPerTable, dim, seed)
    val q = lshBucketed(queries, idCol, vecCol, "query_id", "_qv",
      planeSets, probes)
    val c0 = lshBucketed(corpus, idCol, vecCol, "neighbor_id", "_cv",
      planeSets, 1)
    val bucketCounts = c0.groupBy(col("_bucket"))
      .agg(count(lit(1)).as("_bc"))
    onDroppedBuckets.foreach { f =>
      f(bucketCounts.filter(col("_bc") > maxBucketSize).count())
    }
    val okBuckets = bucketCounts
      .filter(col("_bc") <= maxBucketSize)
      .select(col("_bucket"))
    val c = c0.join(broadcast(okBuckets), Seq("_bucket"), "left_semi")
    lshRank(q, c, k)
  }

  /** Corpus-side LSH index prebuilt ONCE and shared across probe-dial
    * settings (q129's two-dial experiment): identical bucketing + cap
    * algebra to [[lshTopK]]'s corpus side, with the per-bucket counts
    * PINNED (parameter-sized: ≤ tables × 2^planesPerTable rows) so N
    * dial settings pay ONE corpus counts pass instead of N — the probe
    * dial is query-side only, so the corpus index is provably identical
    * across settings (guide §2.4). The returned frame stays LAZY (it
    * carries vectors — materializing tables×corpus rows would cost more
    * than the per-dial re-scan it saves); only the tiny counts pin cuts
    * recomputation. Pin lifecycle: the param-sized blocks are
    * ContextCleaner-released when the returned frame becomes
    * unreachable (localCheckpoint blocks, no CacheManager entry). */
  def lshCorpusIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int = 64, tables: Int = 8, planesPerTable: Int = 8,
                     seed: Long = 42L, maxBucketSize: Int = 10000,
                     onDroppedBuckets: Option[Long => Unit] = None): DataFrame = {
    val planeSets = lshPlaneSets(tables, planesPerTable, dim, seed)
    val c0 = lshBucketed(corpus, idCol, vecCol, "neighbor_id", "_cv",
      planeSets, 1)
    val bucketCounts = Pin.param(c0.groupBy(col("_bucket"))
      .agg(count(lit(1)).as("_bc")))
    onDroppedBuckets.foreach { f =>
      f(bucketCounts.filter(col("_bc") > maxBucketSize).count())
    }
    val okBuckets = bucketCounts
      .filter(col("_bc") <= maxBucketSize)
      .select(col("_bucket"))
    c0.join(broadcast(okBuckets), Seq("_bucket"), "left_semi")
  }

  /** [[lshTopK]] over a prebuilt [[lshCorpusIndex]] frame. The plane
    * parameters (dim/tables/planesPerTable/seed) MUST match the index
    * build — they deterministically derive the same hyperplanes. */
  def lshTopKOnIndex(queries: DataFrame, cappedCorpus: DataFrame,
                     idCol: String, vecCol: String, k: Int = 10,
                     dim: Int = 64, tables: Int = 8, planesPerTable: Int = 8,
                     seed: Long = 42L, probes: Int = 1): DataFrame = {
    val planeSets = lshPlaneSets(tables, planesPerTable, dim, seed)
    val q = lshBucketed(queries, idCol, vecCol, "query_id", "_qv",
      planeSets, probes)
    lshRank(q, cappedCorpus, k)
  }

  private def lshPlaneSets(tables: Int, planesPerTable: Int, dim: Int,
                           seed: Long): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => randomPlanes(planesPerTable, dim, seed + t))

  private def lshBucketed(df: DataFrame, idCol: String, vecCol: String,
                          id: String, vec: String,
                          planeSets: Seq[Seq[Seq[Double]]],
                          nProbes: Int): DataFrame = {
    val perTable = planeSets.zipWithIndex.map { case (ps, t) =>
      if (nProbes == 1)
        array(concat_ws(":", lit(t),
          graft.plans.SketchExpressions.hyperplaneBucket(col(vecCol), ps)))
      else
        transform(
          graft.plans.SketchExpressions.hyperplaneProbes(col(vecCol), ps, nProbes),
          b => concat_ws(":", lit(t), b))
    }
    df.select(col(idCol).as(id), col(vecCol).as(vec),
      explode(flatten(array(perTable: _*))).as("_bucket"))
  }

  private def lshRank(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    // dedup multi-table bucket collisions on the ID PAIR only — a
    // distinct over (ids, vectors) would compare/shuffle the full float
    // arrays as grouping keys; first() rides the vectors as values with
    // map-side partial aggregation deduping before the shuffle.
    val cands = c.join(q.hint("broadcast"), Seq("_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("_qv")).as("_qv"), first(col("_cv")).as("_cv"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"), bround(col("cosine"), 6).as("cosine"),
        col("_rn").cast("int").as("rank"))
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path beyond LSH.
    *
    * Index shape follows the standard IVF recipe: train `nlist` centroids
    * with Lloyd's iterations on a bounded driver-side SAMPLE (production
    * IVF indexes train the quantizer on a sample too — training data
    * never needs the cluster), then assign fully distributed:
    *
    *  - corpus: nearest-centroid cell id in ONE codegen-friendly
    *    projection — the centroids ride along as an array literal inside
    *    higher-order functions, so there is NO join and NO shuffle to
    *    build the index;
    *  - queries: the `nprobe` closest cells each (explode);
    *  - score only same-cell pairs; per-query top-k window.
    *
    * At 100 TB: index build is a map-only pass; the probe join shuffles
    * on cell id, and each cell holds ~corpus/nlist rows — tune nlist so
    * cells fit a task. Recall tunes with nprobe (nprobe = nlist ==
    * exact). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
              sampleSize: Int = 4096, iters: Int = 5): DataFrame =
    ivfTopKWithCentroids(queries, corpus, idCol, vecCol,
      trainCentroidsOracleMode(corpus, idCol, vecCol, nlist, sampleSize, iters),
      k, nprobe)

  /** IVF probe with a caller-supplied (pretrained) codebook — the common
    * production split: the quantizer is trained once (sampled k-means,
    * or any external tool) and reused; only the assignment + probe run
    * per query batch. Centroids should be unit-norm so dot == cosine. */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String,
                           centroids: Array[Array[Double]],
                           k: Int = 10, nprobe: Int = 4): DataFrame = {
    // native single-pass assignment (graft.plans.NearestCentroids): the
    // HOF formulation re-evaluated normalize+dot per centroid per
    // occurrence — interpreted lambdas get no CSE
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      element_at(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, 1), 1).as("_cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      explode(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, nprobe)).as("_cell"))
    probeAndRank(c, q, k)
  }

  /** kNN GRAPH over the corpus itself — every vector gets its top-k ANN
    * neighbors through the IVF coarse quantizer. Unlike
    * [[ivfTopKWithCentroids]] (queries << corpus, query side broadcast),
    * here the query set IS the corpus, so NOTHING broadcasts: index and
    * probe sides shuffle once each on cell id and meet in a hash join —
    * the only join shape that survives when both sides are 100 TB.
    *
    * Each (query, neighbor) candidate appears at most ONCE — a neighbor
    * lives in exactly one cell and a query probes `nprobe` DISTINCT
    * cells — so no pair dedup is needed. The rank-limit filter
    * (row_number <= k) plans as a PARTIAL `WindowGroupLimit` before the
    * query_id Exchange, so each cell partition prunes its candidates to
    * k per query map-side and the final ranking shuffle carries
    * <= nprobe*k rows per query instead of the full cell population
    * (verified in the explain output — no hand-rolled two-phase top-k
    * needed). Size the codebook with [[autoNlist]] so cells hold
    * ~targetCellSize rows no matter the corpus — the same scaling knob
    * as SemDeDup; a pinned nlist would make per-cell join work grow
    * linearly with the corpus (quadratic overall). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], k: Int = 10,
               nprobe: Int = 4): DataFrame = {
    val c = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      element_at(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, 1), 1).as("_cell"))
    val q = df.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      explode(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, nprobe)).as("_cell"))
    val scored = c.join(q, Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        bround(col("cosine"), 6).as("cosine"),
        col("_rn").cast("int").as("rank"))
  }

  /** HARD-NEGATIVE MINING for contrastive training (DPR/SBERT-style
    * embedding-model curation): for every vector, its `perQuery`
    * most-similar neighbors that carry a DIFFERENT label — the
    * near-miss examples a contrastive loss learns the most from
    * (random negatives are trivially separable; the informative ones
    * sit just across the decision boundary, i.e. at the top of the ANN
    * list with the wrong label).
    *
    * Composition of the audited [[knnGraph]] all-pairs shape: the k-NN
    * candidates (≤ k rows per query) join the slim (id, label)
    * projection twice — query side and neighbor side — then the
    * wrong-label survivors re-rank per query on the round-6 cosine with
    * the id tie-break. At 100 TB the label joins shuffle two columns on
    * the ≤ k·n candidate frame (broadcast is wrong here — labels are
    * corpus-sized); the quadratic term stays bounded by the kNN graph's
    * per-cell join exactly as in [[knnGraph]]. Over-fetch k vs
    * `perQuery` (k ≥ 2–4× perQuery) so same-label (positive) neighbors
    * at the top of the list don't starve the negative set. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, centroids: Array[Array[Double]],
                    k: Int = 8, nprobe: Int = 4,
                    perQuery: Int = 2): DataFrame = {
    val knn = knnGraph(df.select(col(idCol), col(vecCol)), idCol, vecCol,
      centroids, k, nprobe)
    val lab = df.select(col(idCol), col(labelCol))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    knn
      .join(lab.select(col(idCol).as("query_id"),
        col(labelCol).as("query_label")), Seq("query_id"))
      .join(lab.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label")), Seq("neighbor_id"))
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("hn_rank", row_number().over(w))
      .filter(col("hn_rank") <= perQuery)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("query_label"), col("neighbor_label"),
        col("hn_rank").cast("int").as("hn_rank"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein 1998) —
    * the diversity verb of a retrieval stack: from each query's `fetch`
    * ANN candidates, select `select` results greedily maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected, so the
    * result set covers the query's neighborhood instead of returning
    * `select` near-duplicates (RAG context assembly, dedup'd search).
    *
    * Exactness contract: the greedy argmax runs on INTEGER micro units
    * of the round-6 cosines (an exact decimal shift), with λ as the
    * rational lamNumer/lamDenom — score = lamNumer·rel − (lamDenom −
    * lamNumer)·maxSim, an integer; ties break on neighbor_id. No
    * float comparison anywhere in the selection, so a SQL engine
    * replays every pick (q173). Round 1 has no selected set: maxSim
    * is 0 by convention and the pick is pure relevance.
    *
    * Scale shape: candidates come from the audited [[knnGraph]] cell
    * join (≤ fetch rows per query); candidate-pair similarities are a
    * per-query self-join bounded at fetch² rows; each greedy round is
    * one bounded aggregation + one WindowGroupLimit-shaped argmax over
    * the per-query candidate frame. `select` rounds unroll into the
    * plan (select is small — it is the RAG context budget); the
    * candidate and pair frames are pinned once so the rounds don't
    * recompute the ANN graph. Nothing data-sized reaches the driver. */
  def mmrRerank(df: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]], fetch: Int = 8,
                select: Int = 3, nprobe: Int = 4,
                lamNumer: Int = 7, lamDenom: Int = 10): DataFrame = {
    require(select >= 1 && select <= fetch, s"select must be in [1, fetch], got $select")
    require(lamNumer >= 0 && lamNumer <= lamDenom && lamDenom >= 1,
      s"lambda must be a rational in [0, 1], got $lamNumer/$lamDenom")
    val micro = (c: Column) =>
      (c.cast(org.apache.spark.sql.types.DecimalType(9, 6)) * 1000000)
        .cast("long")
    val vecs = df.select(col(idCol).as("_vid"), col(vecCol).as("_vv"))
    val cand = Pin.data(
      knnGraph(df.select(col(idCol), col(vecCol)), idCol, vecCol, centroids,
        fetch, nprobe)
        .select(col("query_id"), col("neighbor_id"),
          micro(col("cosine")).as("rel6")))
    // candidate-pair similarities, per query: ≤ fetch² rows per query
    val withVec = cand.join(vecs, cand("neighbor_id") === vecs("_vid"))
      .select(col("query_id"), col("neighbor_id"), col("rel6"), col("_vv"))
    val a = withVec.select(col("query_id"), col("neighbor_id").as("_a"),
      col("_vv").as("_av"))
    val b = withVec.select(col("query_id"), col("neighbor_id").as("_b"),
      col("_vv").as("_bv"))
    val pairs = Pin.data(a.join(b, Seq("query_id"))
      .filter(col("_a") =!= col("_b"))
      .select(col("query_id"), col("_a"), col("_b"),
        micro(bround(cosine(col("_av"), col("_bv")), 6)).as("sim6")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("neighbor_id"))
    // round 1: pure relevance
    var selected = cand.withColumn("_score", col("rel6") * lamNumer)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel6"),
        col("_score").as("mmr_score"), lit(1).as("mmr_rank"))
    for (s <- 2 to select) {
      val remaining = cand.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val maxSim = pairs.join(
        selected.select(col("query_id"), col("neighbor_id").as("_b")),
        Seq("query_id", "_b"))
        .groupBy(col("query_id"), col("_a").as("neighbor_id"))
        .agg(max(col("sim6")).as("_maxsim6"))
      val next = remaining.join(maxSim, Seq("query_id", "neighbor_id"))
        .withColumn("_score",
          col("rel6") * lamNumer - col("_maxsim6") * (lamDenom - lamNumer))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel6"),
          col("_score").as("mmr_score"), lit(s).as("mmr_rank"))
      selected = Pin.data(selected.unionByName(next))
    }
    selected.select(col("query_id"), col("neighbor_id"),
      col("rel6"), col("mmr_score"), col("mmr_rank"))
  }

  private def probeAndRank(c: DataFrame, q: DataFrame, k: Int): DataFrame = {

    val scored = c.join(q.hint("broadcast"), Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"), bround(col("cosine"), 6).as("cosine"),
        col("_rn").cast("int").as("rank"))
  }

  /** SEMANTIC decontamination screen — the embedding-space complement
    * of the n-gram overlap check (`Decontaminate.overlapPairs`): flag
    * every (benchmark item, corpus document) pair whose cosine clears
    * `threshold`, so paraphrased or lightly-edited eval leakage that
    * shares no 8-gram still surfaces. Modern release pipelines run BOTH
    * screens; this one reuses the IVF machinery: corpus rows take their
    * nearest-centroid cell in one codegen'd projection (no join, no
    * shuffle to build the partition), the benchmark probes its `nprobe`
    * closest cells, and cosine runs only on same-cell pairs — a
    * threshold SCAN of the cell join rather than a top-k rank (a
    * contamination report wants every hit, not the k best).
    *
    * At 100 TB the shape is q44/q98's: the benchmark side is
    * eval-suite-sized (broadcast hint — thousands of rows, not
    * corpus-sized), the corpus never shuffles before the cell join, and
    * recall tunes with nprobe exactly like the ANN path (the q126/q128
    * audit applies verbatim — run it over the screen's index before
    * trusting a clean verdict). Returns (bench_id, corpus_id, cosine
    * round-6); each pair appears at most once because a corpus row
    * holds ONE cell. */
  def semanticScreen(bench: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, centroids: Array[Array[Double]],
                     threshold: Double, nprobe: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_cv"),
      element_at(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, 1), 1).as("_cell"))
    val q = bench.select(col(idCol).as("bench_id"), col(vecCol).as("_qv"),
      explode(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, nprobe)).as("_cell"))
    c.join(q.hint("broadcast"), Seq("_cell"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
      .filter(col("cosine") >= threshold)
      .select(col("bench_id"), col("corpus_id"),
        bround(col("cosine"), 6).as("cosine"))
  }

  /** Spherical k-means — Lloyd's iterations on a deterministic sample,
    * centroids re-normalized each round so dot == cosine — in ORACLE
    * MODE: every step is exactly replayable in ANSI SQL (the q98 oracle
    * unrolls the fixed rounds as chained CTEs). It is the one trainer:
    * [[ivfTopK]] trains its quantizer here too.
    *
    *  - the sample is ordered by a 60-bit md5 hash of the id (DuckDB has
    *    no xxhash64 — the q30 oracle-mode trick);
    *  - normalized sample vectors are quantized to 1e-6 integer
    *    micro-units and each round's per-cell accumulation runs over the
    *    INTEGERS — exact and aggregation-ORDER-INDEPENDENT, where float
    *    sums would pick up engine-specific rounding (Spark accumulates
    *    in sample order, DuckDB in scan order) that could flip a
    *    near-tie assignment and cascade into different codebooks;
    *  - dot products and centroid norms are sequential position-order
    *    float folds, identical to SQL's `list_sum(list_transform(...))`
    *    evaluation order (the q44 oracle already relies on this).
    *
    * Ties in the argmax assignment go to the lowest cell in both
    * engines (strict `>` here, `row_number() ORDER BY dp DESC, cell`
    * there). TextDedupSpec holds the trained quantizer, through
    * [[ivfTopK]], to a recall bar against brute force. */
  def trainCentroidsOracleMode(corpus: DataFrame, idCol: String, vecCol: String,
                               nlist: Int, sampleSize: Int,
                               iters: Int): Array[Array[Double]] = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    // quantize AFTER normalize: floor(x*1e6 + 0.5) matches DuckDB's
    // CAST(floor(x*1000000 + 0.5) AS BIGINT) bit-for-bit (plain round()
    // differs between the engines on negative half-way values)
    val sampleQ: Array[Array[Long]] = corpus
      .select(normalize(col(vecCol)).as("_v"), h.as("_h"))
      .orderBy(col("_h"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](0).toArray.map(x => math.floor(x * 1e6 + 0.5).toLong))
    require(sampleQ.nonEmpty, "ivfTopK: empty corpus")
    val dim = sampleQ(0).length
    val qv = sampleQ.map(_.map(_ / 1e6))

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var cents = qv.take(math.min(nlist, qv.length)).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Int](cents.length)
      var s = 0
      while (s < qv.length) {
        val v = qv(s)
        var best = 0; var bestDot = Double.MinValue
        var i = 0
        while (i < cents.length) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * cents(i)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += sampleQ(s)(j); j += 1 }
        counts(best) += 1
        s += 1
      }
      cents = cents.indices.map(i =>
        if (counts(i) == 0) cents(i) else unit(sums(i).map(_.toDouble))).toArray
    }
    cents
  }

  /** One fully DISTRIBUTED spherical Lloyd's step over the whole
    * corpus — the cluster-scale refinement of [[kmeansCentroids]]'
    * bounded-sample training. Assignment is the codegen-adjacent
    * [[graft.plans.NearestCentroids]] projection (no join, no shuffle
    * to build the partition); the centroid update sums 1e-6-QUANTIZED
    * normalized components per (cell, dim) — exact integer arithmetic,
    * so the result is independent of partition order and replayable in
    * SQL — and only the k x dim sum table (a parameter-sized frame)
    * is collected. New centroids are the L2-normalized sum vectors
    * (spherical k-means: the sum's direction IS the mean's direction,
    * so no division by count enters the float path). Cells with no
    * members keep their previous centroid.
    *
    * Returns (updated centroids, per-cell member counts). Iterate by
    * calling again with the returned centroids — each step is one
    * distributed job over the corpus plus a bounded collect. */
  def kmeansStepDistributed(df: DataFrame, vecCol: String,
                            centroids: Array[Array[Double]]): (Array[Array[Double]], Array[Long]) = {
    val k = centroids.length
    val dim = centroids.head.length
    val vn = graft.functions.VectorFunctions.normalize(col(vecCol))
    val vq = transform(vn, x => floor(x * lit(1000000.0) + lit(0.5)).cast("long"))
    val rows = df.filter(col(vecCol).isNotNull)
      .select(element_at(graft.plans.SketchExpressions.nearestCentroids(
          col(vecCol), centroids, 1), 1).as("_cell"),
        posexplode(vq).as(Seq("_dim", "_xq")))
      .groupBy(col("_cell"), col("_dim"))
      .agg(sum(col("_xq")).as("_s"), count(lit(1)).as("_n"))
      .collect() // <= k x dim rows — parameters, not data
    val sums = Array.fill(k)(new Array[Double](dim))
    val counts = new Array[Long](k)
    rows.foreach { r =>
      val c = r.getInt(0) - 1 // NearestCentroids indices are 1-based
      sums(c)(r.getInt(1)) = r.getLong(2).toDouble
      counts(c) = r.getLong(3)
    }
    val out = centroids.indices.map { c =>
      if (counts(c) == 0L) centroids(c)
      else {
        val n2 = math.sqrt(sums(c).map(x => x * x).sum)
        if (n2 == 0.0) sums(c) else sums(c).map(_ / n2)
      }
    }.toArray
    (out, counts)
  }

  /** Quantizer size for a corpus of `n` vectors at a target mean cell
    * population — the SemDeDup paper's scaling knob. Cells ∝ corpus keeps
    * the within-cell quadratic term at ~targetCellSize per row (linear
    * overall); a FIXED nlist makes cell population grow with the corpus
    * and the pairwise term quadratic (measured 13.4x wall on a 10x
    * corpus vs 1.6x scaled — see ScaleStress / BASELINE.md). Integer
    * ceiling, clamped to [minNlist, 1e6]. */
  def autoNlist(n: Long, targetCellSize: Int = 1024, minNlist: Int = 16): Int =
    math.min(math.max(minNlist.toLong,
      (n + targetCellSize - 1) / targetCellSize), 1000000L).toInt

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are assigned to quantizer cells
    * (nearest pretrained centroid — ONE codegen'd projection, no join,
    * no shuffle to build the partition), pairwise cosine runs ONLY
    * within a cell, and the >= `threshold` pairs are connected into
    * components so one representative (min id) survives per semantic
    * group. Returns the surviving rows of `df` with their cell id.
    *
    * The quadratic term is bounded by the cell partition: each cell
    * holds ~corpus/nlist rows, so the self-join cost is
    * sum(cell²) ≈ corpus²/nlist — tune nlist with corpus growth exactly
    * as the paper does. `maxCellSize` hard-caps degenerate cells (same
    * RECALL TRADE-OFF as the LSH caps: capped cells are silently not
    * deduped; observe with `onDroppedCells`). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], threshold: Double = 0.95,
               maxCellSize: Int = 10000,
               onDroppedCells: Option[Long => Unit] = None): DataFrame = {
    val assigned = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      element_at(graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, 1), 1).as("_cell"))
    onDroppedCells.foreach { f =>
      f(assigned.groupBy(col("_cell")).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > maxCellSize).count())
    }
    // the count window shares the cell distribution with the self-join
    // below — one Exchange, planned once (the embeddingNearDups pattern)
    val capped = assigned
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy(col("_cell"))))
      .filter(col("_bc") <= maxCellSize)
      .drop("_bc")
    val l = capped.as("l"); val r = capped.as("r")
    val pairs = l.join(r,
        col("l._cell") === col("r._cell") && col("l._id") < col("r._id"))
      .withColumn("cosine", cosine(col("l._v"), col("r._v")))
      .filter(col("cosine") >= threshold)
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"))
    Components.dedupByComponents(df, idCol, pairs, "id_a", "id_b")
      .join(assigned.select(col("_id").as(idCol), col("_cell").as("cell")), idCol)
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= threshold)
    * via LSH buckets — the embedding twin of TextDedup.minHashNearDups.
    *
    * `maxBucketSize` caps the self-join's bucket fan-out exactly like
    * TextDedup.bandPairs: one degenerate bucket (near-zero vectors all
    * hashing to the same sign pattern) would otherwise go quadratic. The
    * count window partitions by `_bucket` — the same distribution the
    * self-join shuffles on — so the exchange is planned once and reused,
    * not paid twice.
    *
    * RECALL TRADE-OFF: capping silently drops pairs that only co-occur in
    * over-cap buckets — they simply don't appear in the output. Pass
    * `onDroppedBuckets` to observe whether a run was capped (count of
    * over-cap buckets; one extra small aggregate job over the exploded
    * bucket ids), and widen tables/planes or raise the cap if recall on
    * dense regions matters more than the quadratic worst case. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, dim: Int = 64,
                        tables: Int = 8, planesPerTable: Int = 8,
                        seed: Long = 42L, maxBucketSize: Int = 1000,
                        onDroppedBuckets: Option[Long => Unit] = None): DataFrame = {
    val planeSets = (0 until tables).map(t => randomPlanes(planesPerTable, dim, seed + t))
    val exploded = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      explode(array(planeSets.zipWithIndex.map { case (ps, t) =>
        concat_ws(":", lit(t),
          graft.plans.SketchExpressions.hyperplaneBucket(col(vecCol), ps))
      }: _*)).as("_bucket"))
    onDroppedBuckets.foreach { f =>
      f(exploded.groupBy(col("_bucket")).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > maxBucketSize).count())
    }
    val b = exploded
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy(col("_bucket"))))
      .filter(col("_bc") <= maxBucketSize)
      .drop("_bc")
    val l = b.as("l"); val r = b.as("r")
    l.join(r, col("l._bucket") === col("r._bucket") && col("l._id") < col("r._id"))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"),
        col("l._v").as("_va"), col("r._v").as("_vb"))
      .groupBy(col("id_a"), col("id_b")) // dedup on ids, vectors ride as values
      .agg(first(col("_va")).as("_va"), first(col("_vb")).as("_vb"))
      .withColumn("cosine", cosine(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), bround(col("cosine"), 6).as("cosine"))
  }

  /** Cluster-balanced deterministic resampling — the "semantic rebalance"
    * stage of a corpus mix: assign every embedding to its quantizer cell
    * (one codegen'd [[graft.plans.SketchExpressions.nearestCentroids]]
    * projection — no join, no shuffle), then downsample each cell to the
    * SMALLEST cell's mass with the [[Split]] md5-bucket rule, so the
    * kept corpus is uniform across semantic clusters and the keep
    * decision is a pure function of (cell sizes, id) — re-runs,
    * backfills, and other engines keep exactly the same rows.
    *
    * Output per input row: (idCol, cell, n_cell, keep_fraction [round-6
    * display; the decision uses the unrounded value], keep).
    *
    * Shape at scale: ONE cell-keyed hash aggregation (≤ nlist rows out,
    * map-side combined) + a 1-row min — both broadcast back; the corpus
    * itself never shuffles. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[Array[Double]]): DataFrame = {
    val assigned = df.select(col(idCol), element_at(
      graft.plans.SketchExpressions.nearestCentroids(
        col(vecCol), centroids, 1), 1).cast("int").as("cell"))
    // pinned (≤ nlist rows): the keep-fraction join AND the 1-row min
    // consume it — without the cut each re-assigned the whole corpus
    val cellCounts = Pin.param(assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cell")))
    val minCell = cellCounts.agg(min(col("n_cell")).as("_min_cell"))
    assigned
      .join(broadcast(cellCounts), Seq("cell"))
      .crossJoin(broadcast(minCell))
      .withColumn("_kf",
        col("_min_cell").cast("double") / col("n_cell").cast("double"))
      .select(col(idCol), col("cell"), col("n_cell"),
        round(col("_kf"), 6).as("keep_fraction"),
        (Split.bucket65536(col(idCol)) <
          round(col("_kf") * lit(65536.0))).as("keep"))
  }
}
