package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-quality evaluation at corpus scale — the report a pipeline
  * runs before trusting a learned quality score (the NB classifier,
  * the DSIR log-ratio) to gate 100 TB of data.
  *
  * Exact AUC is the Mann-Whitney rank statistic:
  *
  *   AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)
  *
  * with R_pos the sum of positive rows' ranks under the score order and
  * TIES taking the average rank of their run. The textbook formulation
  * (`rank() OVER (ORDER BY score)`) is the single-task global window
  * this codebase bans; here ranks come from the distributed
  * [[PrefixScan]] (order key unique and deterministic — the score
  * groups — and a null key sorts first):
  *
  *  1. one hash aggregation collapses rows to (score, n, n_pos) — ties
  *     merge here, so the scan is score-cardinality-sized;
  *  2. the prefix scan's `Sum` (range Exchange + config-bounded carry)
  *     gives each score group its exclusive count-below — average rank
  *     = below + (n+1)/2, exactly;
  *  3. one global aggregate folds the rank sums; kept in ×2 integer
  *     arithmetic (DECIMAL) until the final division so no fractional
  *     rank ever touches a double.
  *
  * No sort of the full data, no collect, no window over a data-sized
  * frame — AUC on 100 TB costs one agg + one prefix scan + one 1-row
  * fold.
  */
object Eval {

  /** Reliability table (the calibration half of the q135 report):
    * equal-WIDTH score bins over [min, max], one row per non-empty bin
    * with (bin, n, mean_score, frac_pos) — a well-calibrated score has
    * mean_score ≈ frac_pos per bin; the gap weighted by n is the ECE.
    * Determinism contract: scores are expected round-6 (the DSIR/NB
    * convention), summed exactly as DECIMAL(38,6) before the mean, and
    * both outputs bround-6 — so any engine with IEEE doubles replays
    * the table hash-for-hash (the q140 oracle does). Shape at scale:
    * one global (min, max) agg broadcast as a 1-row frame, then ONE
    * hash aggregation whose world is ≤ `bins` rows — two corpus passes,
    * no sort, no window. Degenerate all-equal-scores input collapses to
    * bin 0. Null scores are the caller's problem, as in [[auc]]. */
  def calibration(df: DataFrame, score: Column, label: Column,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins must be in [2, 10000], got $bins")
    // pinned (one narrow row per input row): the (min, max) extent AND
    // the binning aggregation consume it — without the cut each pass
    // re-ran the upstream scoring pipeline.
    // LIFECYCLE: the returned frame references this pin, so it cannot
    // be unpersisted here (LogReg.train's finally-unpersist pattern
    // needs the operator to own the last consumer). Release contract:
    // localCheckpoint blocks are ContextCleaner-freed once the returned
    // frame becomes unreachable — bounded by GC, asserted by
    // PinSpec's repeated-invocation test.
    val s = Pin.data(
      df.select(score.as("_s"), when(label, 1L).otherwise(0L).as("_y")))
    val ext = s.agg(min(col("_s")).as("_mn"), max(col("_s")).as("_mx"))
    s.crossJoin(broadcast(ext))
      .withColumn("_bin",
        when(col("_mx") === col("_mn"), lit(0L)).otherwise(
          least(floor((col("_s") - col("_mn")) / (col("_mx") - col("_mn"))
            * bins), lit((bins - 1).toLong))))
      .groupBy(col("_bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        bround(sum(col("_s").cast(DecimalType(38, 6))).cast("double")
          / count(lit(1)), 6).as("mean_score"),
        bround(sum(col("_y")).cast("double") / count(lit(1)), 6)
          .as("frac_pos"))
  }

  /** Precision/recall sweep — one row per DISTINCT score value, for the
    * keep-policy `score >= threshold` (the third leg of the q135/q140
    * report: AUC says the score ranks, calibration says its value
    * means something, this says what each concrete CUTOFF buys).
    * Output (threshold, kept_n, tp, precision, recall, f1), round-6
    * doubles from exact integer counts.
    *
    * Same machinery as [[auc]]: one score-keyed hash agg (the sweep is
    * score-cardinality-sized, NOT data-sized), ONE [[PrefixScan]] with
    * two `Sum`s for the exclusive below-counts (one planning pass), and
    * the corpus totals broadcast as a 1-row frame — no global sort
    * window, no collect. TP at threshold t = total_pos − pos_below(t);
    * kept = N − below(t). F1 is 0 when
    * precision + recall is 0 (no division blow-up on an all-negative
    * tail). Null scores are the caller's problem, as in [[auc]]. */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    // pinned (distinct-score-sized): the prefix scan AND the totals
    // consume it — without the cut the totals branch re-ran the whole
    // upstream scoring pipeline a second time.
    // LIFECYCLE: same GC-release contract as [[calibration]] (the
    // returned frame is a live consumer; PinSpec asserts no
    // accumulation across repeated invocations).
    val grouped = Pin.data(df
      .select(score.as("_s"), when(label, 1L).otherwise(0L).as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_np")))
    val below = PrefixScan(grouped, "_s",
      PrefixScan.Sum(col("_n"), "_below"), PrefixScan.Sum(col("_np"), "_pbelow"))
    val totals = grouped.agg(sum(col("_n")).as("_tot"),
      sum(col("_np")).as("_totp"))
    val p = (col("_tp").cast("double") / col("kept_n"))
    // all-negative input: recall is 0 by convention, not 0/0 = NaN
    val r = when(col("_totp") === 0, lit(0.0))
      .otherwise(col("_tp").cast("double") / col("_totp"))
    below.crossJoin(broadcast(totals))
      .withColumn("kept_n", col("_tot") - col("_below"))
      .withColumn("_tp", col("_totp") - col("_pbelow"))
      .select(col("_s").as("threshold"), col("kept_n"),
        col("_tp").as("tp"),
        bround(p, 6).as("precision"),
        bround(r, 6).as("recall"),
        bround(when(p + r === 0.0, 0.0)
          .otherwise(lit(2.0) * p * r / (p + r)), 6).as("f1"))
  }

  /** One-row frame (n_pos, n_neg, auc round-6) for `score` predicting
    * `label`. Rows where `score` is null are the caller's problem —
    * filter them first (a null score has no rank); `label` must be a
    * boolean column. The double division at the end is exact-inputs /
    * exact-inputs (both fit a double far beyond any realistic corpus
    * before the 2^53 integer ceiling — ~9e15 rank-sum units). */
  def auc(df: DataFrame, score: Column, label: Column): DataFrame = {
    // pinned (distinct-score-sized): the prefix scan's planning pass and its
    // wide branch both consume this frame — unpinned, the corpus
    // aggregation (and the caller's scoring pipeline below it) would
    // run twice per execution. Same GC-release lifecycle as [[prCurve]].
    val grouped = Pin.data(df
      .select(score.as("_s"), when(label, 1L).otherwise(0L).as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_np")))
    val ranked = PrefixScan(grouped, "_s", PrefixScan.Sum(col("_n"), "_below"))
    // sum over positive rows of 2*avg_rank = np * (2*below + n + 1).
    // The product is taken in DECIMAL, not Long: np×(2·below+n+1) can
    // exceed 2^63 around ~1e10 rows (below ≈ N), and with ANSI off a
    // Long product would wrap SILENTLY into a wrong AUC. Casting the
    // factors first keeps the whole fold exact out to decimal(38).
    ranked.agg(
        sum(col("_np")).as("_npos"),
        sum(col("_n") - col("_np")).as("_nneg"),
        sum(col("_np").cast(DecimalType(38, 0)) *
            (col("_below").cast(DecimalType(38, 0)) * 2 +
              col("_n").cast(DecimalType(38, 0)) + 1)).as("_r2"))
      .select(col("_npos").as("n_pos"), col("_nneg").as("n_neg"),
        bround(
          (col("_r2").cast("double") -
            col("_npos").cast("double") * (col("_npos") + 1).cast("double"))
            / (col("_npos").cast("double") * col("_nneg").cast("double") * 2.0),
          6).as("auc"))
  }

  /** Position-discount table for [[retrievalMetrics]]: D(i) = 1e6 /
    * log2(i+1), HALF-UP-rounded to an integer ONCE here in Scala and
    * shared verbatim with the SQL oracle (interpolated literals) — so
    * no engine ever evaluates log2 and the cross-engine libm question
    * disappears entirely (the q107/q34 literal-codebook tactic applied
    * to a metric). */
  def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e6 / (math.log(i + 1) / math.log(2.0))))

  /** RANKED-RETRIEVAL quality report — MRR and nDCG@k per query, the
    * eval a pipeline runs before trusting an ANN index as a retriever
    * (complementing q126/q128's exact-vs-approx recall with the
    * graded-relevance view).
    *
    * `ranked`: one row per (query, position) with `rankCol` = 1-based
    * system rank and `relCol` = boolean relevance; positions beyond `k`
    * are ignored. `relUniverse`: (query, n_rel) — how many relevant
    * items EXIST for the query (bounds the ideal ranking, so nDCG is
    * against the true ideal, not just the retrieved set).
    *
    * Exactness: DCG/IDCG are INTEGER sums of the shared
    * [[ndcgDiscountsMicro]] literals; MRR is 1/rank and nDCG the ratio
    * of the two integer sums — identical IEEE divisions of identical
    * integers on any engine, bround-6 for display. Queries with nothing
    * relevant retrieved score 0; n_rel = 0 defines nDCG = 0.
    *
    * Shape at scale: one hash aggregation over the ≤ k rows per query
    * (map-side combined), one broadcast-sized join with the per-query
    * universe counts, one codegen'd projection. No sort, no window. */
  def retrievalMetrics(ranked: DataFrame, queryCol: String, rankCol: String,
                       relCol: String, relUniverse: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in [1, 100], got $k")
    val d = ndcgDiscountsMicro(k)
    // discount literal per position, 0 beyond k
    val disc = (1 to k).foldLeft(lit(0L)) { (acc, i) =>
      when(col(rankCol) === i, lit(d(i - 1))).otherwise(acc)
    }
    // ideal DCG prefix: idcgPrefix(j) = sum of the first j discounts
    val prefix = d.scanLeft(0L)(_ + _).tail
    val idcg = (1 to k).foldLeft(lit(0L)) { (acc, j) =>
      when(least(col("n_rel"), lit(k.toLong)) === j, lit(prefix(j - 1)))
        .otherwise(acc)
    }
    val perQuery = ranked
      .filter(col(rankCol).between(1, k))
      .groupBy(col(queryCol))
      .agg(
        min(when(col(relCol), col(rankCol))).as("_first_rel"),
        sum(when(col(relCol), disc).otherwise(lit(0L))).as("dcg_micro"))
    perQuery.join(relUniverse, Seq(queryCol))
      .select(col(queryCol),
        bround(when(col("_first_rel").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("_first_rel")), 6).as("mrr"),
        col("dcg_micro"),
        idcg.as("idcg_micro"),
        bround(when(idcg === 0L, lit(0.0))
          .otherwise(col("dcg_micro").cast("double") / idcg.cast("double")), 6)
          .as("ndcg"))
  }
}
