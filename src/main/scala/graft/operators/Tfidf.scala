package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** Corpus-level term statistics: TF-IDF and per-document top terms —
  * the classic text-analysis pass a training-data pipeline runs for
  * keyword extraction, topic drift checks, and boilerplate discovery.
  *
  * Shape at scale:
  *  - (doc, term, tf) comes from one explode + hash aggregation
  *    (map-side partial combine collapses repeated terms per doc before
  *    the shuffle);
  *  - document frequency aggregates the tf frame again — vocabulary-sized
  *    output, tiny next to the corpus;
  *  - the df join back is size-adaptive (Spark broadcasts the vocab side
  *    when it fits, degrades to a shuffle join when it does not);
  *  - top-k per doc is a row_number window → Spark 4 rewrites it to
  *    partial+final WindowGroupLimit (pre-shuffle pruning to k rows per
  *    doc per partition).
  */
object Tfidf {

  /** Top-`k` TF-IDF terms per document: (doc_id, term, tf, df, tfidf,
    * rank). tfidf = tf * ln(N / df); ties broken by term asc. */
  def topTerms(docs: DataFrame, textCol: String, idCol: String,
               k: Int = 5): DataFrame = {
    // one scalar count job — the only driver-side value the plan needs
    val n = docs.count()
    val pairs = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = pairs.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("tfidf", col("tf") * log(lit(n.toDouble) / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        bround(col("tfidf"), 6).as("tfidf"), col("rank").cast(IntegerType).as("rank"))
  }

  /** Inverted index over the corpus: one row per term with document
    * frequency, total term frequency, and a BOUNDED postings preview —
    * the first `maxPostings` `doc:tf` entries in doc-id order, rendered
    * as a string (engine-portable, no array-encoding ambiguity).
    *
    * The cap is the scale guard: a stopword's postings list is
    * corpus-sized, and an unbounded `collect_list` per term recreates
    * the hot-key problem LSH bucketing avoids elsewhere. `df`/`total_tf`
    * stay EXACT (plain aggregates); only the preview is truncated, and
    * `truncated` says so — same observable-cap contract as
    * `Similarity.lshTopK`.
    *
    * Shape at scale: explode → (term, doc) hash agg with map-side
    * combine shrinks the stream to distinct (term, doc) pairs; then ONE
    * term-keyed Exchange feeds both the ranking window and the final
    * vocabulary-sized agg (exact `df` needs every pair, so rows cannot
    * be pruned pre-shuffle — the cap bounds per-term STATE, not the
    * scan). `collect_list` skips the NULLs the cap injects, so no task
    * ever buffers more than `maxPostings` postings per term. */
  def invertedIndex(docs: DataFrame, textCol: String, idCol: String,
                    maxPostings: Int = 20): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be positive, got $maxPostings")
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    tf.withColumn("_rn", row_number().over(w))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        concat_ws(" ",
          transform(array_sort(collect_list(
              when(col("_rn") <= maxPostings,
                struct(col("_rn").as("r"),
                  concat_ws(":", col("doc_id"), col("tf")).as("p"))))),
            x => x.getField("p"))).as("postings"),
        (max(col("_rn")) > maxPostings).as("truncated"))
  }

  /** Vocabulary coverage curve — the tokenizer-prep analysis: terms in
    * frequency order with each term's CUMULATIVE share of all token
    * occurrences. `filter(cum_share <= 0.95)` is then "the vocabulary
    * that covers 95 % of the corpus"; the curve's knee sizes the vocab.
    *
    * The running total is a corpus-wide ordered sum — computed with the
    * distributed [[PrefixScan]] over a composite (inverted zero-padded
    * frequency | term) key, NOT a global-order window that would funnel
    * the vocabulary through one task. The key is the scan's unique,
    * deterministic order (term breaks frequency ties, and it is never
    * null), so the curve is engine-portable.
    *
    * Scale: one explode + hash agg collapses the corpus to its
    * vocabulary; everything after runs on vocabulary-sized frames
    * (the prefix scan's range and window Exchanges, one broadcast of the
    * 1-row total). */
  def vocabCoverage(docs: DataFrame, textCol: String): DataFrame = {
    // pinned (vocabulary-sized): the prefix-scan ranking AND the 1-row
    // total consume it — without the cut the corpus explode+agg ran twice
    val tf = Pin.data(docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq")))
    val keyed = tf.withColumn("_ckey",
      concat(lpad((lit(999999999999L) - col("freq")).cast("string"), 12, "0"),
        lit("|"), col("term")))
    val cum = PrefixScan(keyed, "_ckey", PrefixScan.Sum(col("freq"), "_cumex"))
    cum.crossJoin(broadcast(tf.agg(sum(col("freq")).as("_total"))))
      .select(col("term"), col("freq"),
        bround((col("_cumex") + col("freq")).cast("double")
          / col("_total").cast("double"), 6).as("cum_share"))
  }

  /** BM25 top-k retrieval for a LITERAL query (Robertson et al.'s
    * Okapi weighting with the Lucene "+1" idf variant:
    * idf = ln((N − df + ½)/(df + ½) + 1), always positive) — the READ
    * path of the inverted-index family: score every document containing
    * a query term and return the best k. Per-term contributions are
    * rounded to 12 dp and summed as DECIMAL(38,12) (the repo's exact-sum
    * contract), the top-k orders on the EXACT decimal score with a
    * doc-id tiebreak, so ranking and scores are engine-portable.
    *
    * Shape at scale:
    *  - the document length rides the token array projection into the
    *    explode as a GROUP KEY — no corpus-sized join anywhere;
    *  - only occurrences of the |Q| query terms survive the filter, so
    *    the only data-sized work is the scan itself: the (term, doc)
    *    aggregation and the per-doc sum shuffle hit-sized frames;
    *  - df (≤ |Q| rows) and the 1-row (N, avgdl) stats broadcast back;
    *  - the final top-k is a TakeOrderedAndProject, never a global sort.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("_tk"))
    // pinned (hit-sized, ≤ |Q| terms per doc): the df-per-term agg AND
    // the scoring join consume it — without the cut the corpus
    // tokenize+explode ran once per consumer. (The corpus-wide (N,
    // avgdl) stats pass below is irreducible: it must see every doc,
    // hits or not.)
    val tf = Pin.data(toks
      .select(col("doc_id"), size(col("_tk")).cast(LongType).as("dl"),
        explode(col("_tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val dfv = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
        sum(size(col("_tk")).cast(LongType)).as("_sumdl"))
      .select(col("n_docs"),
        (col("_sumdl").cast(DoubleType) / col("n_docs")).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast(DoubleType) / col("avgdl"))
    val contrib = round(
      idf * (col("tf") * lit(k1 + 1.0)) / (col("tf") + norm), 12)
      .cast(DecimalType(38, 12))
    tf.join(broadcast(dfv), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(contrib).as("_score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("_score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        bround(col("_score").cast(DoubleType), 6).as("score"),
        col("n_terms_hit"))
  }
}
