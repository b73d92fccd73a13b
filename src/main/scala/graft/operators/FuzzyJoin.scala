package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CleanFunctions

/** Fuzzy dictionary repair (SURVEY.md §2.3 J4/J5).
  *
  * The reference repairs near-miss codes with
  * `fuzzywuzzy.process.extractOne(value, valid_list, scorer=WRatio)` and
  * accepts matches scoring >= 85 (cleaning.py:262-270) — a per-value Python
  * loop over the whole dictionary. Spark-first restatement: broadcast the
  * (small) dictionary, join every DISTINCT dirty value against it, score with
  * the codegen'd `levenshtein` built-in, take the best candidate per value
  * with a top-1 window, then map results back onto the fact rows with a
  * second broadcast join. Scoring cost is O(|distinct dirty| x |dict|) — at
  * 100 TB the distinct-values projection keeps the cross product tiny, and
  * no per-row driver work ever happens.
  */
object FuzzyJoin {

  /** Similarity ratio in [0,100] — Levenshtein-based, equivalent to
    * fuzzywuzzy's simple `ratio` on normalized inputs:
    * 100 * (1 - dist / max(len)). */
  def similarityRatio(a: Column, b: Column): Column =
    when(length(a) === 0 && length(b) === 0, lit(100.0)).otherwise(
      lit(100.0) * (lit(1.0) -
        levenshtein(a, b).cast("double") / greatest(length(a), length(b)).cast("double")))

  /** Token-sort variant: sort whitespace tokens before scoring,
    * so "alliance star" matches "star alliance". */
  def tokenSortRatio(a: Column, b: Column): Column =
    similarityRatio(tokenSorted(a), tokenSorted(b))

  private def tokenSorted(c: Column): Column =
    array_join(array_sort(split(fullProcess(c), " ")), " ")

  /** fuzzywuzzy's default `full_process`: lowercase, non-alphanumerics to
    * spaces, trim. Runs of whitespace are additionally collapsed (interior
    * run length never changes a match decision on the trimmed token
    * stream). */
  private def fullProcess(c: Column): Column =
    CleanFunctions.normalizeWhitespace(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** fuzzywuzzy `partial_ratio`: the best score of the SHORTER string
    * against every same-length window of the longer — how "JFK" scores 100
    * inside "JFK INTL". A `transform(sequence(...))` higher-order
    * expression, no UDF; it runs on the distinct-misses x dictionary frame
    * only, never per fact row. */
  def partialRatio(a: Column, b: Column): Column = {
    val s = when(length(a) <= length(b), a).otherwise(b)
    val l = when(length(a) <= length(b), b).otherwise(a)
    val m = length(s)
    when(length(a) === 0 && length(b) === 0, lit(100.0))
      .when(m === 0, lit(0.0))
      .otherwise(array_max(transform(
        sequence(lit(0), length(l) - m),
        i => similarityRatio(s, l.substr(i + lit(1), m)))))
  }

  /** fuzzywuzzy `token_set_ratio`: compare the sorted token intersection
    * against each side's (intersection ++ leftovers) — immune to one side
    * carrying extra tokens ("delta air lines inc" vs "delta air lines"). */
  def tokenSetRatio(a: Column, b: Column): Column = {
    val (inter, t1, t2) = tokenSetStrings(a, b)
    greatest(similarityRatio(inter, t1), similarityRatio(inter, t2),
      similarityRatio(t1, t2))
  }

  /** fuzzywuzzy `partial_token_set_ratio`: the token_set construction with
    * the windowed [[partialRatio]] as the pairwise scorer — any shared
    * token makes the intersection a prefix of both combined strings, so
    * this saturates fast (the reason WRatio scales it by 0.95). */
  def partialTokenSetRatio(a: Column, b: Column): Column = {
    val (inter, t1, t2) = tokenSetStrings(a, b)
    greatest(partialRatio(inter, t1), partialRatio(inter, t2),
      partialRatio(t1, t2))
  }

  /** (sorted intersection, intersection++restA, intersection++restB) —
    * the three comparison strings of fuzzywuzzy's `_token_set`. */
  private def tokenSetStrings(a: Column, b: Column): (Column, Column, Column) = {
    val ta = array_sort(split(fullProcess(a), " "))
    val tb = array_sort(split(fullProcess(b), " "))
    val inter = array_join(array_sort(array_intersect(ta, tb)), " ")
    val restA = array_join(array_sort(array_except(ta, tb)), " ")
    val restB = array_join(array_sort(array_except(tb, ta)), " ")
    (inter, trim(concat_ws(" ", inter, restA)), trim(concat_ws(" ", inter, restB)))
  }

  /** fuzzywuzzy `WRatio` blend (the reference's scorer,
    * cleaning.py:262-270) with its published weighting:
    *
    *  - inputs full_processed;
    *  - similar lengths (max/min < 1.5): max(ratio, 0.95 x token_sort,
    *    0.95 x token_set);
    *  - dissimilar lengths: the partial (windowed) family, scaled 0.9
    *    (0.6 when lengths differ MORE than 8x): max(ratio, scale x
    *    partial, 0.95 x scale x partial-token-sort, 0.95 x scale x
    *    partial-token-set).
    *
    * Base similarity is the levenshtein ratio ([[similarityRatio]])
    * rather than SequenceMatcher's two-way substitution cost; on the
    * reference's repair domains (2-3 char codes, short names) every
    * accept/reject decision at the >= 85 gate is identical — asserted
    * against the reference's own repair cases in OperatorsSpec. */
  def wRatio(a: Column, b: Column): Column = {
    val pa = fullProcess(a)
    val pb = fullProcess(b)
    val la = length(pa).cast("double")
    val lb = length(pb).cast("double")
    val base = similarityRatio(pa, pb)
    val lenRatio = greatest(la, lb) / least(la, lb)
    val pscale = when(lenRatio > 8.0, lit(0.6)).otherwise(lit(0.9))
    val partial = partialRatio(pa, pb) * pscale
    val ptsor = partialRatio(tokenSorted(pa), tokenSorted(pb)) * lit(0.95) * pscale
    val ptset = partialTokenSetRatio(pa, pb) * lit(0.95) * pscale
    when(la === 0 && lb === 0, lit(100.0))
      .when(la === 0 || lb === 0, lit(0.0))
      .when(lenRatio >= 1.5, greatest(base, partial, ptsor, ptset))
      .otherwise(greatest(base,
        tokenSortRatio(pa, pb) * 0.95, tokenSetRatio(pa, pb) * 0.95))
  }

  /** J4 — fuzzy_fix: replace `valueCol` with the best dictionary entry when
    * its score >= threshold, else keep the original (cleaning.py:262-270,
    * applied :427-428,434).
    *
    * @param dict   single-column DataFrame of valid values (a dimension).
    * @param scorer similarity in [0,100]; defaults to the case-folded
    *               levenshtein ratio (the DuckDB-expressible oracle form) —
    *               pass [[wRatio]] for reference-faithful WRatio blending.
    */
  def fuzzyFix(df: DataFrame, valueCol: String, dict: DataFrame,
               dictCol: String, threshold: Double = 85.0,
               out: String = null,
               scorer: (Column, Column) => Column = caseFoldedRatio): DataFrame =
    applyRepair(df, valueCol,
      repairMap(df.select(col(valueCol)), dict, dictCol, threshold, scorer),
      Option(out).getOrElse(valueCol))

  private val caseFoldedRatio: (Column, Column) => Column =
    (a, b) => similarityRatio(upper(a), upper(b))

  /** The repairs [[fuzzyFix]] makes for the values in the first column of
    * `values`: one row `(_dirty_val, _repaired_val)` per distinct value
    * that is not in the dictionary and whose best entry scores >= threshold.
    * One map can serve several columns over the same dictionary (the
    * flights pipeline repairs origin and destination airports with one). */
  private[graft] def repairMap(values: DataFrame, dict: DataFrame,
                               dictCol: String, threshold: Double = 85.0,
                               scorer: (Column, Column) => Column = caseFoldedRatio)
      : DataFrame = {
    val dictVals = dict.select(col(dictCol).as("_dict_val"))
    val distinctVals = values.select(col(values.columns.head).as("_dirty_val"))
      .distinct()

    // Exact hits skip scoring entirely; only misses pay the cross product.
    // A repeated dictionary entry cannot change the anti-join; the cross
    // join de-duplicates, so its nested loop builds an aggregate.
    val misses = distinctVals.join(broadcast(dictVals),
      distinctVals("_dirty_val") === dictVals("_dict_val"), "left_anti")

    val scored = misses.crossJoin(broadcast(dictVals.distinct()))
      .withColumn("_score", scorer(col("_dirty_val"), col("_dict_val")))
    val top1 = Window.partitionBy(col("_dirty_val"))
      .orderBy(col("_score").desc, col("_dict_val"))
    scored
      .withColumn("_rn", row_number().over(top1))
      .filter(col("_rn") === 1 && col("_score") >= threshold)
      .select(col("_dirty_val"), col("_dict_val").as("_repaired_val"))
  }

  /** Write `valueCol` repaired by `map` (a [[repairMap]]) to `outCol`;
    * values the map does not name are kept. */
  private[graft] def applyRepair(df: DataFrame, valueCol: String,
                                 map: DataFrame, outCol: String): DataFrame =
    // by name: the same map may already be joined upstream of `df`
    df.join(broadcast(map), col(valueCol) === col("_dirty_val"), "left")
      .withColumn(outCol, coalesce(col("_repaired_val"), col(valueCol)))
      .drop("_dirty_val", "_repaired_val")

  /** J5 — prefix repair: take the first-2-alphanumeric prefix, fuzzy-repair
    * it against the airline-key dictionary, splice it back
    * (cleaning.py:273-295). */
  def fixKeyPrefix(df: DataFrame, keyCol: String, dict: DataFrame,
                   dictCol: String, threshold: Double = 85.0): DataFrame = {
    val withPrefix = df.withColumn("_prefix", CleanFunctions.alnumPrefix(col(keyCol)))
      .withColumn("_suffix", substring(regexp_replace(col(keyCol), "[^A-Za-z0-9]", ""), 3, Int.MaxValue))
    fuzzyFix(withPrefix, "_prefix", dict, dictCol, threshold, "_prefix_fixed")
      .withColumn(keyCol, concat(col("_prefix_fixed"), col("_suffix")))
      .drop("_prefix", "_suffix", "_prefix_fixed")
  }
}
