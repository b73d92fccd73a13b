package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Count-based bigram language model for corpus quality filtering — the
  * CCNet-style "perplexity filter" stage of a training-data pipeline
  * (Wenzek et al. 2020 score documents with a KenLM n-gram model and drop
  * the worst tail; here the model is trained on the corpus itself, or any
  * reference corpus, as plain Spark aggregations).
  *
  * Model: Laplace-smoothed conditional bigram probabilities
  * `P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)` where `c` counts occurrences
  * in the training corpus's bigram stream and `V` is the unigram
  * vocabulary size. A document's score is its mean token log-probability
  * (nats); low scores = far from the reference distribution = the docs a
  * perplexity filter drops.
  *
  * Shape at scale:
  *  - training is one explode + two hash aggregations (gram counts and
  *    first-word context counts), both with map-side partial combine;
  *    model size is vocabulary-squared-bounded but Zipf-small in practice;
  *  - V rides along as a broadcast one-row frame — no driver-side action;
  *  - scoring explodes the scored corpus once and joins the two count
  *    frames size-adaptively (broadcast when the model fits, shuffle
  *    join otherwise — no hint);
  *  - per-doc aggregation sums DECIMAL(38,12)-cast log-probs, so the sum
  *    is exact and independent of partition order — the property that
  *    lets an external engine reproduce the score hash-for-hash.
  */
object NgramLM {

  /** Trained model: `grams` = (gram, c12), `contexts` = (w1, c1),
    * `vocab` = single-row (v = distinct-token count). All lazy frames —
    * persist or write them out when scoring many corpora. */
  final case class BigramLM(grams: DataFrame, contexts: DataFrame,
                            vocab: DataFrame)

  /** Consecutive (non-distinct) bigram stream of a document; empty for
    * docs with fewer than two tokens — unlike
    * [[TextFunctions.wordShingles]], which is distinct and emits a
    * degenerate shingle for short docs. */
  def bigrams(c: Column): Column = {
    val t = TextFunctions.tokens(c)
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Train on `docs(textCol)`: two aggregations over one exploded bigram
    * stream plus a distinct-token count for the vocabulary size. */
  def train(docs: DataFrame, textCol: String): BigramLM = {
    // spread before the tokenize+bigram explode (see Spread)
    val bg = Spread.toCores(docs)
      .select(explode(bigrams(col(textCol))).as("gram"))
    val grams = bg.groupBy(col("gram")).agg(count(lit(1)).as("c12"))
    val contexts = bg
      .select(substring_index(col("gram"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    BigramLM(grams, contexts, vocab)
  }

  /** The per-doc bigram occurrence frame scoring runs on. */
  private def occurrences(docs: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    Spread.toCores(docs)
      .select(col(idCol), explode(bigrams(col(textCol))).as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))

  /** `counted` must carry (idCol, c12, c1, v) per bigram occurrence;
    * aggregates the smoothed log-probs per doc and re-attaches
    * bigram-free docs with NULL scores. */
  private def aggScores(docs: DataFrame, idCol: String,
                        counted: DataFrame): DataFrame = {
    val logp = log(
      (coalesce(col("c12"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (coalesce(col("c1"), lit(0L)) + col("v")))
    val scored = counted
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(logp, 12).cast(DecimalType(38, 12))).as("_lpsum"))
      .withColumn("avg_logprob",
        bround(col("_lpsum").cast(DoubleType) / col("n_bigrams"), 6))
      .drop("_lpsum")
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  private def scoreOcc(docs: DataFrame, idCol: String, occ: DataFrame,
                       lm: BigramLM): DataFrame =
    aggScores(docs, idCol, occ
      .join(lm.grams, Seq("gram"), "left")
      .join(lm.contexts, Seq("w1"), "left")
      .crossJoin(broadcast(lm.vocab)))

  /** Score every document: (idCol, n_bigrams, avg_logprob) where
    * avg_logprob = mean over the doc's bigram occurrences of
    * `ln((c12+1)/(c1+V))`, rounded to 6 dp; NULL (not 0) for docs with no
    * bigrams, which keeps "too short to score" distinguishable from
    * "scored terribly". Unseen grams/contexts (cross-corpus scoring)
    * fall back to c=0 counts under the same smoothing.
    *
    * Each log-prob is rounded to 12 dp and summed as DECIMAL(38,12), so
    * the aggregate is exact and partition-order-independent. */
  def score(docs: DataFrame, textCol: String, idCol: String,
            lm: BigramLM): DataFrame =
    scoreOcc(docs, idCol, occurrences(docs, textCol, idCol), lm)

  /** Self-trained scoring — the common "score the corpus against its own
    * distribution" deployment. Identical results to `score(docs, ...,
    * train(docs, ...))` (spec-asserted), but the model counts come from
    * two COUNT WINDOWS over the single exploded occurrence stream
    * instead of aggregate-then-join-back — the explode is evaluated
    * once, no separate count frames are built or shuffled, and no join
    * runs at all (the same single-pass-window trick
    * TextDedup.crossDocDupGrams measured 2x faster than join-back).
    * Only the vocabulary size needs a second (narrow) pass. */
  def scoreSelfTrained(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val occ = occurrences(docs, textCol, idCol)
    val vocab = Spread.toCores(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val counted = occ
      .withColumn("c12", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .withColumn("c1", count(lit(1)).over(Window.partitionBy(col("w1"))))
      .crossJoin(broadcast(vocab))
    aggScores(docs, idCol, counted)
  }

  /** The filter stage: score everything, compute the exact corpus
    * `tailFraction` quantile of the score (interpolated, NULL-scored docs
    * excluded — [[Quantiles.exact]]), and flag each doc with
    * `keep = avg_logprob > cutoff` (NULL for unscorable docs, so the
    * caller decides their fate explicitly). Output:
    * (idCol, n_bigrams, avg_logprob, cutoff, keep). */
  def perplexityFilter(docs: DataFrame, textCol: String, idCol: String,
                       lm: BigramLM, tailFraction: Double = 0.1): DataFrame =
    filterScored(score(docs, textCol, idCol, lm), idCol, tailFraction)

  /** [[perplexityFilter]] with the model trained on `docs` itself —
    * CCNet's own deployment shape, one corpus explode total. */
  def selfPerplexityFilter(docs: DataFrame, textCol: String, idCol: String,
                           tailFraction: Double = 0.1): DataFrame =
    filterScored(scoreSelfTrained(docs, textCol, idCol), idCol, tailFraction)

  private def filterScored(scoredIn: DataFrame, idCol: String,
                           tailFraction: Double): DataFrame = {
    // both consumers below (the quantile and the final join) would
    // otherwise re-run the ENTIRE scoring pipeline. The scored frame is
    // one row per doc; checkpoint it once (eager, lineage-cut,
    // ContextCleaner-released — the PrefixScan pattern; trade-off
    // in [[Pin]]) so scoring happens exactly once.
    val scored = Pin.data(scoredIn)
    val cut = Quantiles.exact(scored, Nil, "avg_logprob",
      Seq(tailFraction), Seq("cutoff"))
    scored.crossJoin(broadcast(cut))
      .select(col(idCol), col("n_bigrams"), col("avg_logprob"),
        bround(col("cutoff"), 6).as("cutoff"),
        (col("avg_logprob") > col("cutoff")).as("keep"))
  }
}
