package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{asDouble, norm2}

/** Scalar quantization (SQ8) — the OTHER compressed-index family next to
  * [[Pq]] (product quantization): each dimension is affinely mapped to
  * an 8-bit code against per-dimension corpus min/max. A 64-dim float
  * vector (256 B) becomes 64 bytes with NO codebook training — the
  * standard cheap tier production ANN stacks (Faiss `SQ8`, Lucene/ES
  * int8 HNSW) offer below PQ: worse compression than PQ's m bytes, far
  * better resolution per byte, and an encode that is a pure projection
  * against 2×dim literals.
  *
  * Search is asymmetric (query stays float) and needs NO per-query
  * distance table: the reconstructed dot factors as
  *
  *   dot(q, recon(c)) = Σ q_i·mn_i  +  Σ c_i·(q_i·step_i)
  *                      \__ bias __/   \__ weighted code sum __/
  *
  * so each query carries one precomputed weight array + one bias scalar,
  * and each candidate costs a codes×weights fold — cheaper than the
  * float dot it replaces and over 4× less scan I/O. Approximate cosine
  * divides by the query norm and the STORED reconstruction norm
  * (computed from the codes at encode time — the value ADC actually
  * sees, not the original vector's norm).
  *
  * Every fold is sequential left-to-right over dimension order and the
  * model literals are derived (min/max per dimension — exact,
  * order-free aggregates), so a SQL oracle replays fit, encode, and
  * search bit-exactly (q130; the q44/q98/q107 convention).
  *
  * At 100 TB: fit is ONE corpus pass collapsing to 2×dim driver rows;
  * encode is a map-only projection (zero Exchanges); search scans the
  * codes table with the query side broadcast — [[Pq.adcTopK]]'s shape.
  */
object Sq {

  /** Per-dimension affine model: code c_i reconstructs to
    * `mins(i) + c_i * steps(i)`; `invSteps` is the encode-side scale
    * (0 where the dimension is constant → code 0, recon = min). */
  final case class Model(mins: Array[Double], steps: Array[Double],
                         invSteps: Array[Double]) {
    def dim: Int = mins.length
  }

  /** One corpus pass → per-dimension min/max → the 2×dim literal model.
    * The collect is parameter-sized (dim rows), the aggregates are
    * exact and order-free, and the derived step/invStep divisions are
    * plain IEEE doubles — an external engine refits the identical model
    * from the same table. */
  def fit(df: DataFrame, vecCol: String): Model = {
    val rows = df
      .select(posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i"))
      .collect()
    val mins = rows.map(_.getDouble(1))
    val maxs = rows.map(_.getDouble(2))
    val steps = Array.tabulate(mins.length) { i =>
      val r = maxs(i) - mins(i); if (r == 0.0) 0.0 else r / 255.0
    }
    val invSteps = Array.tabulate(mins.length) { i =>
      val r = maxs(i) - mins(i); if (r == 0.0) 0.0 else 255.0 / r
    }
    Model(mins, steps, invSteps)
  }

  /** SQ8 code array for one vector: per dimension,
    * `clamp(round((x - min) * invStep), 0, 255)` as int — the fused
    * native loop (bit-parity-spec'd against [[encodeExprHof]]). */
  def encodeExpr(vec: Column, m: Model): Column =
    graft.plans.SketchExpressions.sqEncode(vec, m.mins, m.invSteps)

  /** The interpreted form encodeExpr's native replaced — kept as the
    * bit-parity oracle (AnnPqSpec). */
  private[graft] def encodeExprHof(vec: Column, m: Model): Column = {
    val mins = typedLit(m.mins.toSeq)
    val inv = typedLit(m.invSteps.toSeq)
    transform(asDouble(vec), (x, i) =>
      least(lit(255.0), greatest(lit(0.0),
          round((x - element_at(mins, i + 1)) * element_at(inv, i + 1), 0)))
        .cast("int"))
  }

  /** Reconstruction norm from the STORED codes — what search divides
    * by, so cosine ranks reflect the index the scan actually reads.
    * Fused native loop (bit-parity-spec'd against [[reconNormHof]]). */
  def reconNormExpr(codes: Column, m: Model): Column =
    graft.plans.SketchExpressions.sqReconNorm(codes, m.mins, m.steps)

  /** The interpreted form reconNormExpr's native replaced — kept as
    * the bit-parity oracle (AnnPqSpec). */
  private[graft] def reconNormHof(codes: Column, m: Model): Column = {
    val mins = typedLit(m.mins.toSeq)
    val steps = typedLit(m.steps.toSeq)
    sqrt(aggregate(
      transform(codes, (c, i) => {
        val rec = element_at(mins, i + 1) +
          c.cast("double") * element_at(steps, i + 1)
        rec * rec
      }),
      lit(0.0), (acc, x) => acc + x))
  }

  /** The compressed index: (neighbor_id, codes, recon_norm). One
    * codegen'd projection over the corpus — zero Exchanges. The norm is
    * derived from the `codes` COLUMN (not recomputed from the floats),
    * so the stored pair is self-consistent by construction. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             m: Model): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
        encodeExpr(col(vecCol), m).as("codes"))
      .withColumn("recon_norm", reconNormExpr(col("codes"), m))

  /** The interpreted fold [[topK]]'s native SqDotCodes replaced — kept
    * as the bit-parity oracle (AnnPqSpec asserts exact Double equality
    * against the fused loop). */
  private[graft] def sqDotHof(codes: Column, weights: Column): Column =
    aggregate(zip_with(codes, weights, (c, w) => c.cast("double") * w),
      lit(0.0), (acc, x) => acc + x)

  /** A query's side of the factored dot: its weight array `_w`, bias
    * `_bias` and norm `_qn` — shared by [[topK]] and
    * [[graft.sources.AnnIndex]]'s serving search. */
  private[graft] def queryState(vec: Column, m: Model): Seq[Column] = {
    val mins = typedLit(m.mins.toSeq)
    val steps = typedLit(m.steps.toSeq)
    Seq(transform(asDouble(vec), (x, i) => x * element_at(steps, i + 1)).as("_w"),
      aggregate(transform(asDouble(vec), (x, i) => x * element_at(mins, i + 1)),
        lit(0.0), (acc, x) => acc + x).as("_bias"),
      norm2(vec).as("_qn"))
  }

  /** Approximate cosine top-k over the codes table. Queries broadcast
    * with their precomputed weight array / bias / norm; the corpus side
    * never shuffles before the per-query rank-limit window (partial
    * WindowGroupLimit prunes map-side — [[Pq.adcTopK]]'s shape).
    * Zero-norm rows (degenerate query or all-constant reconstruction)
    * are filtered, mirrored by the oracle. */
  def topK(queries: DataFrame, codesDf: DataFrame, idCol: String,
           vecCol: String, m: Model, k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id") +:
      queryState(col(vecCol), m): _*)
    val scored = codesDf.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("_qn") =!= 0.0 && col("recon_norm") =!= 0.0)
      // the per-candidate codes×weights fold is the search's whole
      // per-pair cost: fused native loop (SqDotCodes — bit-identical to
      // sqDotHof, the parity-spec'd zip_with+aggregate form)
      .withColumn("cosine_sq",
        (graft.plans.SketchExpressions.sqDot(col("codes"), col("_w"))
          + col("_bias"))
          / (col("_qn") * col("recon_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sq").desc, col("neighbor_id"))
    scored.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        bround(col("cosine_sq"), 6).as("cosine_sq"),
        col("_rank").cast("int").as("rank"))
  }
}
