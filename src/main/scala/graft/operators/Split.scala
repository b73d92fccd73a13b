package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines (SURVEY.md
  * north-star: a training-data engine needs stable train/val/test
  * assignment, not `randomSplit`).
  *
  * The assignment must be (a) a pure function of the row id — so a
  * re-run, a backfill, or another engine reproduces it exactly and no
  * document ever migrates between splits, and (b) uniform. Both come
  * from bucketing on the first hex digit of md5(id): 16 equal buckets,
  * portable to any engine with md5 (the DuckDB oracle reproduces it
  * verbatim). `randomSplit` satisfies neither — it is seed- and
  * partitioning-dependent.
  *
  * Scale: one codegen'd projection, no shuffle, no state.
  */
object Split {

  /** Hash bucket in [0, 16): position of the first md5 hex digit of the
    * id. Uniform for any id distribution (md5 avalanche). */
  def bucket16(id: Column): Column =
    (instr(lit("0123456789abcdef"), substring(md5(id.cast("string")), 1, 1)) - 1)
      .cast("long")

  /** Hash bucket in [0, 65536): first four md5 hex digits of the id as an
    * integer — fine-grained cousin of [[bucket16]] for fractional
    * sampling. Still a pure codegen'd projection, and still portable: any
    * engine with md5 reproduces it (the DuckDB oracle uses per-digit
    * strpos arithmetic for the identical value). */
  def bucket65536(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Deterministic Bernoulli sample: keep a row iff its [[bucket65536]]
    * falls under `fraction` (granularity 1/65536 ≈ 0.0015 %). Unlike
    * `df.sample`, the decision is a pure function of the id — re-runs,
    * backfills, and other engines keep exactly the same rows, and a row's
    * fate never depends on partitioning or a seed. */
  def hashSample(df: DataFrame, id: Column, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    df.filter(bucket65536(id) < math.round(fraction * 65536.0))
  }

  /** Weighted mixture of sources — the data-mixing step of a training
    * pipeline (e.g. 100 % curated + 10 % of a web crawl). Each source is
    * [[hashSample]]d at its rate and tagged with its label; sources are
    * combined with unionByName. Deterministic end-to-end. */
  def mix(sources: Seq[(String, DataFrame, Double)], id: String): DataFrame = {
    require(sources.nonEmpty, "mix needs at least one source")
    sources.map { case (label, df, rate) =>
      hashSample(df, col(id), rate).withColumn("source", lit(label))
    }.reduce(_ unionByName _)
  }

  /** Deterministic per-group cap — the source-balancing step of a corpus
    * mix (e.g. "at most N documents from any one domain"). Keeps the `n`
    * rows of each group that rank first by md5-hash order of the id: a
    * seedless uniform choice that is stable across runs, partitionings,
    * and engines (id tiebreak makes the order total).
    *
    * Scale: one `row_number` window, which Spark rewrites to partial+final
    * `WindowGroupLimit` — each input partition forwards at most `n` rows
    * per group BEFORE the shuffle, so a group with millions of rows ships
    * only n per upstream partition, never the whole group. */
  def capPerGroup(df: DataFrame, group: Column, id: Column, n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(group)
      .orderBy(md5(id.cast("string")), id)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= n).drop("_rn")
  }

  /** Token-budget mixture planning — the budget sheet of a pretraining
    * data mix: given each source's token inventory and its target share
    * of a global token budget, compute the per-source sampling rate.
    * Output per source: `n_docs`, `n_tokens`, `target_share`,
    * `alloc_tokens` (= share x budget), `rate` (= alloc / inventory),
    * `keep_fraction` (= min(rate, 1) — the downsample fraction), and
    * `epochs` (= ceil(rate) — how many passes an upsampled source
    * repeats). Sources absent from `targetShares` get NULL plan values
    * (and are excluded by [[applyMixture]]) rather than silently 0.
    *
    * Scale: ONE hash aggregation over the corpus; the plan frame is
    * source-cardinality-sized. */
  def mixturePlan(df: DataFrame, sourceCol: String, tokens: Column,
                  targetShares: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val total = targetShares.values.sum
    require(math.abs(total - 1.0) < 1e-6, s"target shares must sum to 1, got $total")
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
      .withColumn("target_share", element_at(typedLit(targetShares), col(sourceCol)))
      .withColumn("alloc_tokens",
        round(col("target_share") * budget).cast("long"))
      // guard n_tokens = 0: alloc/0.0 is Infinity, which would read as
      // keep_fraction 1.0 / garbage epochs — an empty source must look
      // like the absent-source NULL contract, not "fully sampled"
      .withColumn("rate",
        when(col("n_tokens") > 0,
          col("alloc_tokens").cast("double") / col("n_tokens")))
      // least() SKIPS nulls (returns the least non-null), which would turn
      // an absent-source NULL rate into keep_fraction 1.0 — guard first
      .withColumn("keep_fraction",
        when(col("rate").isNull, lit(null).cast("double"))
          .otherwise(least(col("rate"), lit(1.0))))
      .withColumn("epochs", ceil(col("rate")).cast("long"))
  }

  /** Temperature-based mixture planning — derive the target shares FROM
    * the inventory instead of taking them as input: share_s ∝
    * n_tokens_s^alpha (the multilingual-pretraining temperature rule,
    * e.g. alpha = 0.7 in XLM-R, arXiv:1911.02116 §3 — alpha = 1
    * reproduces natural proportions, alpha → 0 approaches uniform, so
    * low-resource sources are UP-weighted relative to their size).
    * Output columns match [[mixturePlan]].
    *
    * Determinism & portability: per-source weight = pow(n_tokens,
    * alpha) rounded to 6 dp and cast DECIMAL(38,6) (a value far from
    * any rounding tie at double precision — pow's cross-engine 1-ulp
    * wiggle is ~10 orders below the tie window), the total is the exact
    * DECIMAL sum, and the share is the round-12 double quotient — the
    * same contract as the DSIR/NgramLM score pipelines, so a SQL engine
    * replays the plan hash-for-hash (q121).
    *
    * Scale: ONE hash aggregation over the corpus; everything after is
    * source-cardinality-sized with the 1-row total broadcast back (the
    * audited crossJoin-of-aggregate pattern). */
  def temperaturePlan(df: DataFrame, sourceCol: String, tokens: Column,
                      alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val agg = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
      .withColumn("_w",
        bround(pow(col("n_tokens").cast(DoubleType), lit(alpha)), 6)
          .cast(DecimalType(38, 6)))
    // pinned (≤ #sources rows): the share projection AND the 1-row
    // total consume it — without the cut the corpus groupBy ran twice
    val aggP = Pin.param(agg)
    val total = aggP.agg(sum(col("_w")).as("_tw"))
    aggP.crossJoin(broadcast(total))
      .withColumn("target_share",
        bround(col("_w").cast(DoubleType) / col("_tw").cast(DoubleType), 12))
      .withColumn("alloc_tokens",
        round(col("target_share") * budget).cast(LongType))
      .withColumn("rate",
        when(col("n_tokens") > 0,
          col("alloc_tokens").cast(DoubleType) / col("n_tokens")))
      .withColumn("keep_fraction",
        when(col("rate").isNull, lit(null).cast(DoubleType))
          .otherwise(least(col("rate"), lit(1.0))))
      .withColumn("epochs", ceil(col("rate")).cast(LongType))
      .drop("_w", "_tw")
  }

  /** Apply a [[mixturePlan]]: deterministically downsample every source
    * at its `keep_fraction` (same md5-bucket rule as [[hashSample]], but
    * the fraction comes from the joined plan row, so one pass covers all
    * sources). Upsampling (epochs > 1) is left to the training loader —
    * repeating rows here would inflate storage, not information. */
  def applyMixture(df: DataFrame, sourceCol: String, id: Column,
                   plan: DataFrame): DataFrame =
    df.join(broadcast(plan.select(col(sourceCol), col("keep_fraction"))),
        sourceCol)
      .filter(bucket65536(id) < round(col("keep_fraction") * 65536.0))
      .drop("keep_fraction")

  /** Deterministic stratified sample: per-stratum keep fractions (e.g.
    * class rebalancing — keep 100 % of the rare class, 5 % of the
    * dominant one). Same md5-bucket rule as [[hashSample]], so the
    * decision is a pure function of (stratum fraction, id): re-runs and
    * other engines keep exactly the same rows. Strata absent from
    * `fractions` are DROPPED (explicit allowlist, matching [[mix]]).
    *
    * Scale: one codegen'd projection + filter — no shuffle, no join;
    * the fraction lookup is a literal map. */
  def stratifiedSample(df: DataFrame, stratum: Column,
                       fractions: Map[String, Double], id: Column): DataFrame = {
    require(fractions.nonEmpty, "stratifiedSample needs at least one stratum")
    fractions.values.foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction must be in [0,1], got $f"))
    val thresholds: Map[String, Long] =
      fractions.map { case (k, f) => k -> math.round(f * 65536.0) }
    df.filter(bucket65536(id) <
      coalesce(element_at(typedLit(thresholds), stratum.cast("string")), lit(0L)))
  }

  /** Greedy token-budget selection — "keep the best-scoring documents
    * until the token budget is spent", the terminal act of every
    * quality-scored pretraining pipeline (DSIR/DoReMi-style selection
    * fills a fixed compute budget, not a fixed doc count). Documents
    * are ranked by (`score` DESC, id ASC — a total order), and a
    * document is kept iff its token span STARTS inside the budget (the
    * q132 shard-assignment convention: the boundary document that
    * crosses the budget line is included, so the budget is always
    * filled). Adds `cum_before` = tokens admitted strictly ahead of the
    * row.
    *
    * Scale: the global running sum is a [[PrefixScan]] `Sum` over the
    * (−score, id) sort key — one range Exchange + a config-bounded
    * carry join; NO single-task `ORDER BY` window, no collect, and the
    * filter is a projection over the scanned frame. The key is unique
    * when ids are; NaN scores are the caller's bug (−NaN breaks the
    * range order), and a null score sorts before every scored row
    * (nulls first inside the struct key too) — filter them first. */
  def tokenBudgetSelect(df: DataFrame, score: Column, tokens: Column,
                        idCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val keyed = df.withColumn("_sel_key",
      struct((-score).as("ns"), col(idCol).as("id")))
    PrefixScan(keyed, "_sel_key", PrefixScan.Sum(tokens, "cum_before"))
      .filter(col("cum_before") < budget)
      .drop("_sel_key")
  }

  /** Leakage-safe split assignment: near-duplicate documents must never
    * straddle train/test (evaluating on a near-copy of a training doc is
    * contamination — the failure mode the dedup-before-split rule in
    * Lee et al. 2022, arXiv:2107.06499 §6 exists to prevent). Resolve
    * the near-dup `pairs` to connected components
    * ([[Components.labelPropagate]]), label every doc with its duplicate
    * group (its component representative; singletons are their own
    * group), and [[assign]] splits by md5-bucket OF THE GROUP ID — so an
    * entire duplicate cluster lands in one split, deterministically.
    * Adds `group_id`, `bucket`, `split`.
    *
    * Scale: the component labels are pair-graph-sized (duplicates only),
    * joined size-adaptively back to the id projection; everything else
    * is the zero-shuffle [[assign]] projection. */
  def leakageSafeAssign(docs: DataFrame, idCol: String, pairs: DataFrame,
                        aCol: String, bCol: String,
                        weights: Seq[(String, Int)]): DataFrame = {
    val comps = Components.labelPropagate(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val grouped = docs
      .join(comps, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("comp"), col(idCol).cast("long")))
      .drop("comp")
    assign(grouped, col("group_id"), weights)
  }

  /** Assign each row a split label from `weights` — (label, bucketCount)
    * pairs that must sum to 16, e.g. Seq("train" -> 12, "val" -> 2,
    * "test" -> 2) for a 75/12.5/12.5 split. Adds `bucket` and `split`. */
  def assign(df: DataFrame, id: Column,
             weights: Seq[(String, Int)]): DataFrame = {
    require(weights.map(_._2).sum == 16,
      s"bucket counts must sum to 16, got ${weights.map(_._2).sum}")
    require(weights.forall(_._2 > 0), "each split needs at least one bucket")
    val b = bucket16(id)
    val cuts = weights.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val label = weights.zip(cuts).init.foldRight(
      lit(weights.last._1)) { case (((name, _), hi), rest) =>
      when(b < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("bucket", b).withColumn("split", label)
  }
}
