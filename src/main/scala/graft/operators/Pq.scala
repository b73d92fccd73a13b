package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.asDouble

/** Product quantization (PQ) — the MEMORY side of the 100 TB ANN story
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; the IVF-PQ stack popularized by Faiss).
  *
  * A 64-dim float vector is 256 bytes; its PQ code is `m` small ints
  * (here 8). Encoding splits each vector into `m` subvectors and stores,
  * per subspace, the index of the nearest codeword — a map-only
  * projection, no shuffle, 32× less state on every downstream scan,
  * shuffle, and cache. Search runs over CODES with asymmetric distance
  * computation (ADC): the query builds one (m × ncode) distance table,
  * and each candidate costs m table lookups instead of a 64-dim float
  * loop. At 100 TB the codes table is what fits in cluster memory when
  * raw embeddings never could.
  *
  * Everything is expressed with codegen'd higher-order functions over
  * literal codebooks — no UDFs — and every float fold is sequential
  * left-to-right, so a SQL oracle replays encode and ADC bit-exactly
  * (the q44/q98 convention).
  */
object Pq {

  /** Per-subspace codebooks from pinned sample vectors:
    * `codebooks(s)(c)` = sample c's subvector for subspace s. The
    * "pretrained quantizer" split of [[Similarity.ivfTopKWithCentroids]]
    * — production PQ trains per-subspace k-means on a sample; the
    * codebook is parameter-sized either way (m × ncode × dsub doubles)
    * and rides into the plan as a literal. Unlike an IVF coarse
    * quantizer, `ncode` does NOT need to grow with the corpus: codes are
    * scanned, not self-joined, so there is no per-cell quadratic term —
    * a fixed codebook only bounds resolution, not scalability. */
  def codebooks(samples: Array[Array[Double]], m: Int): Array[Array[Array[Double]]] = {
    require(samples.nonEmpty, "Pq.codebooks: empty sample set")
    val dim = samples(0).length
    require(dim % m == 0, s"Pq.codebooks: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m)(s => samples.map(v => v.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Squared-L2 distances from `vec`'s subspace-`s` slice to every
    * codeword of that subspace, as an array column (index = codeword). */
  private def subDists(vec: Column, cb: Array[Array[Double]], s: Int): Column = {
    val dsub = cb(0).length
    val sub = slice(asDouble(vec), s * dsub + 1, dsub)
    array(cb.map { cw =>
      aggregate(zip_with(sub, typedLit(cw.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
  }

  /** PQ code for one vector: per subspace, the 1-based index of the
    * nearest codeword (squared L2, first-minimum tie-break — the
    * `array_position(d, array_min(d))` contract an oracle replays as
    * `row_number() ORDER BY d ASC, c`). Routed through the native
    * [[graft.plans.PqEncodeNative]] fused loop — bit-identical to
    * [[encodeExprHof]] (same fold order; strictly-less argmin keeps the
    * first minimum), proven exactly-equal in AnnPqSpec; at ncode = 64
    * the HOF form's 512 interpreted lambda trees per row dominated
    * q131's wall. */
  def encodeExpr(vec: Column, cbs: Array[Array[Array[Double]]]): Column =
    graft.plans.SketchExpressions.pqEncode(vec, cbs)

  /** The higher-order-function formulation [[encodeExpr]] replaced —
    * kept as the bit-parity reference for the native expression. */
  def encodeExprHof(vec: Column, cbs: Array[Array[Array[Double]]]): Column =
    array(cbs.indices.map { s =>
      val d = subDists(vec, cbs(s), s)
      array_position(d, array_min(d)).cast("int")
    }: _*)

  /** The compressed index: (id, codes). One codegen'd projection over
    * the corpus — zero Exchanges, the right shape for a 100 TB encode. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cbs: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
      encodeExpr(col(vecCol), cbs).as("codes"))

  /** Query-side ADC distance table: (m × ncode) squared-L2 entries,
    * built ONCE per query row and carried through the broadcast. Native
    * [[graft.plans.PqDistTable]] fused loop, bit-identical to
    * [[distanceTableHof]] (AnnPqSpec parity test). */
  def distanceTable(queryVec: Column, cbs: Array[Array[Array[Double]]]): Column =
    graft.plans.SketchExpressions.pqDistTable(queryVec, cbs)

  /** The higher-order-function formulation [[distanceTable]] replaced —
    * kept as the bit-parity reference for the native expression. */
  def distanceTableHof(queryVec: Column, cbs: Array[Array[Array[Double]]]): Column =
    array(cbs.indices.map(s => subDists(queryVec, cbs(s), s)): _*)

  /** Approximate squared-L2 between the query owning `dt` and a code
    * row: m table lookups, summed left-to-right over subspaces. */
  def adcFromTable(dt: Column, codes: Column, m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(dt, s + 1), element_at(codes, s + 1)))
      .reduce(_ + _)

  /** [[adcFromTable]] over primitive tables — the per-pair cost of
    * [[graft.sources.AnnIndex]]'s serving search: the same m lookups,
    * summed left to right from the subspace-0 term, so the doubles are
    * bit-identical. Where the Column form reads NULL (a NULL or
    * out-of-range code, fewer than m codes) and its ascending sort
    * would rank the row FIRST, this fails loudly, naming the row. */
  private[graft] def adc(dt: Array[Array[Double]],
                         codes: org.apache.spark.sql.catalyst.util.ArrayData,
                         id: Long): Double = {
    val m = dt.length
    if (codes == null || codes.numElements() < m)
      throw new IllegalArgumentException(
        s"malformed PQ codes for neighbor_id $id: expected $m codes, got " +
          (if (codes == null) "NULL" else codes.numElements().toString))
    var acc = 0.0
    var s = 0
    while (s < m) {
      val row = dt(s)
      if (codes.isNullAt(s) || codes.getInt(s) < 1 || codes.getInt(s) > row.length)
        throw new IllegalArgumentException(
          s"malformed PQ codes for neighbor_id $id: subspace $s code " +
            (if (codes.isNullAt(s)) "NULL" else codes.getInt(s).toString) +
            s" outside 1..${row.length}")
      val d = row(codes.getInt(s) - 1)
      acc = if (s == 0) d else acc + d
      s += 1
    }
    acc
  }

  /** PQ reconstruction-error report — the index-quality audit a
    * pipeline runs BEFORE trusting ADC results: per subspace, the mean
    * and max squared-L2 between each vector's subvector and its
    * assigned codeword. The assigned-codeword distance is exactly the
    * MINIMUM of the per-codeword distances (encode takes the argmin),
    * so no join against the codes table is needed: the report is one
    * explode + one hash aggregation over m×N rows. Per-vector errors
    * are rounded to 12 dp and DECIMAL-summed (exact, order-free), so an
    * external engine replays the report hash-for-hash (q125). A
    * subspace whose mean error dwarfs the others tells you which
    * dimensions the codebook under-resolves; a rising mean across
    * corpus snapshots says the quantizer needs retraining. */
  def reconstructionError(df: DataFrame, vecCol: String,
                          cbs: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // one native distance table per row; the assigned-codeword error is
    // its per-subspace minimum (identical doubles to the HOF subDists)
    val perVec = df.select(distanceTable(col(vecCol), cbs).as("_dt"))
      .select(explode(array(cbs.indices.map { s =>
        struct(lit(s).as("subspace"),
          round(array_min(element_at(col("_dt"), s + 1)), 12).as("err"))
      }: _*)).as("e"))
      .select(col("e.subspace"), col("e.err"))
    perVec.groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        bround(sum(col("err").cast(DecimalType(38, 12))).cast(DoubleType)
          / count(lit(1)), 6).as("mean_sq_error"),
        bround(max(col("err")), 6).as("max_sq_error"))
  }

  /** Residual against the (1-based) `cell`'s centroid — the vector
    * IVF-PQ actually quantizes: `x − centroid(cell)`. Shared by the
    * corpus encode, the PQ-codebook sampling, and the query probe, so
    * all three sides use the identical fold. */
  def residualExpr(vec: Column, cell: Column,
                   centroids: Array[Array[Double]]): Column =
    zip_with(asDouble(vec),
      element_at(typedLit(centroids.map(_.toSeq).toSeq), cell),
      (x, m) => x - m)

  /** IVF-PQ / IVFADC (Jégou et al. TPAMI 2011 §IV — the Faiss
    * `IVFx,PQy` flagship): route every vector to its coarse cell
    * ([[graft.plans.NearestCentroids]], the q44/q128 quantizer),
    * PQ-encode the RESIDUAL x − centroid(cell) (residuals cluster far
    * tighter than raw vectors, so the same codebook budget buys much
    * more resolution), and search only the `nprobe` probed cells with a
    * per-(query, cell) residual distance table.
    *
    * This composes the two scale stories: IVF bounds WHO you score
    * (cells, not the corpus) and PQ bounds WHAT you scan (m ints/row,
    * not floats). Index build is one map-only projection (assignment +
    * residual + encode fused, zero Exchanges); the probe is an
    * equi-join on cell id. Each (query, neighbor) candidate appears at
    * most once — a neighbor lives in ONE cell, a query probes nprobe
    * DISTINCT cells — so no pair dedup is needed (the knnGraph
    * argument). Queries broadcast here (queries << corpus); at
    * corpus-as-queries scale drop the broadcast and let both sides
    * shuffle on cell id. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, centroids: Array[Array[Double]],
                cbs: Array[Array[Array[Double]]], k: Int = 10,
                nprobe: Int = 4): DataFrame =
    ivfPqSearch(ivfPqEncode(corpus, idCol, vecCol, centroids, cbs),
      queries, idCol, vecCol, centroids, cbs, k, nprobe)

  /** The index-build half of [[ivfPqTopK]]: coarse-assign, residual,
    * PQ-encode — ONE map-only projection, zero Exchanges. Output
    * `(neighbor_id, _cell, codes)` is the complete searchable state
    * ([[graft.sources.AnnIndex]] persists exactly this frame,
    * partitioned by `_cell`, for the build-once / query-many shape). */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  cbs: Array[Array[Array[Double]]]): DataFrame = {
    import graft.plans.SketchExpressions.nearestCentroids
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_v"),
        element_at(nearestCentroids(col(vecCol), centroids, 1), 1).as("_cell"))
      .select(col("neighbor_id"), col("_cell"),
        encodeExpr(residualExpr(col("_v"), col("_cell"), centroids), cbs)
          .as("codes"))
  }

  /** The search half of [[ivfPqTopK]] over an already-encoded codes
    * frame (`neighbor_id, _cell, codes` — [[ivfPqEncode]]'s output or a
    * persisted [[graft.sources.AnnIndex]] scan). Kept separate so the
    * encode cost is paid once per corpus, not once per query batch. */
  def ivfPqSearch(codes: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, centroids: Array[Array[Double]],
                  cbs: Array[Array[Array[Double]]], k: Int = 10,
                  nprobe: Int = 4): DataFrame = {
    import graft.plans.SketchExpressions.nearestCentroids
    val c = codes
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        explode(nearestCentroids(col(vecCol), centroids, nprobe)).as("_cell"))
      .select(col("query_id"), col("_cell"),
        distanceTable(residualExpr(col("_qv"), col("_cell"), centroids), cbs)
          .as("_dt"))
    val scored = c.join(broadcast(q), Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcFromTable(col("_dt"), col("codes"), cbs.length))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        bround(col("adist"), 6).as("adist"),
        col("_rn").cast("int").as("rank"))
  }

  /** ADC top-k: score every code row against each query's distance
    * table; ascending distance, lowest-id tie-break. Mirrors
    * [[Similarity.bruteForceTopK]]'s shape — queries broadcast, corpus
    * never shuffles before the per-query top-k — but the scan side is
    * the CODES table (m ints/row, not the raw vectors), and each pair
    * costs m lookups instead of a dim-length float loop. */
  def adcTopK(queries: DataFrame, codesDf: DataFrame, idCol: String,
              vecCol: String, cbs: Array[Array[Array[Double]]],
              k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      distanceTable(col(vecCol), cbs).as("_dt"))
    val scored = codesDf.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcFromTable(col("_dt"), col("codes"), cbs.length))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        bround(col("adist"), 6).as("adist"),
        col("_rn").cast("int").as("rank"))
  }
}
