package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped quantiles that survive 100 TB (SURVEY.md §2.4 superset).
  *
  * Spark's exact `percentile` aggregate buffers EVERY value of a group in
  * its aggregation buffer (an OpenHashMap per group) — at warehouse scale a
  * single group holds tens of millions of rows and the buffer, not the
  * data, becomes the bottleneck. Two scale paths instead:
  *
  *  - [[exact]]: exact linear-interpolated quantiles (quantile_cont
  *    semantics) without any per-group value buffer. The trick is to
  *    reduce to (group, value) FREQUENCIES first — a spillable,
  *    map-side-combining hash aggregate — then rank the distinct values
  *    with one cumulative-count window per group and pick/interpolate the
  *    two bracketing values per requested percentile. Peak per-task state
  *    is one sort run over DISTINCT values of a group (spillable), never
  *    the raw rows.
  *
  *  - [[approx]]: `approx_percentile` — a mergeable sketch with bounded
  *    memory and one narrow shuffle of sketches, the right default when a
  *    rank-error tolerance is acceptable. Cross-engine sketches differ, so
  *    its contract is verified by a tolerance spec against [[exact]]
  *    rather than a DuckDB hash.
  */
object Quantiles {

  /** Exact interpolated quantiles per group. Output: one row per group
    * with `outNames` columns (defaults p50-style names from `ps`).
    * With `keys` empty this is a GLOBAL quantile and delegates to the
    * prefix-scan formulation ([[exactGlobal]]) — the grouped window
    * path would otherwise sort all distinct values in one task. */
  def exact(df: DataFrame, keys: Seq[String], valueCol: String,
            ps: Seq[Double], outNames: Seq[String] = Nil): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    if (keys.isEmpty) return exactGlobal(df, valueCol, ps, outNames)
    val names = if (outNames.nonEmpty) outNames
                else ps.map(p => s"p${(p * 100).toInt}")
    val kcols = keys.map(col)

    // 1. value-frequency reduction: the only pass over the raw rows.
    // NULLs are skipped (quantile_cont / Spark percentile semantics) —
    // without the filter they'd become a distinct _v that sorts first,
    // inflating _n and shifting every quantile position.
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy((kcols :+ col(valueCol).as("_v")): _*)
      .agg(count(lit(1)).as("_cnt"))

    // 2. one shuffle by group key: cumulative position of each distinct
    //    value + total row count of the group
    val wOrd = Window.partitionBy(kcols: _*).orderBy(col("_v"))
    val wAll = Window.partitionBy(kcols: _*)
    val ranked = counts
      .withColumn("_cum", sum(col("_cnt")).over(wOrd)) // rows with value <= _v
      .withColumn("_n", sum(col("_cnt")).over(wAll))

    // 3. per percentile p: target position h = (n-1)p (0-indexed);
    //    a distinct value covers positions [_cum-_cnt, _cum-1], so pick
    //    the values covering floor(h) / ceil(h) and interpolate with
    //    frac = h - floor(h) (the quantile_cont formula).
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val h = (col("_n") - 1).cast("double") * lit(p)
      def covering(rank: Column) =
        max(when(col("_cum") - col("_cnt") <= rank && rank < col("_cum"), col("_v")))
      Seq(covering(floor(h)).as(s"_lo$i"),
        covering(ceil(h)).as(s"_hi$i"),
        first(h - floor(h)).as(s"_frac$i")) // constant within a group
    }
    val picked = ranked.groupBy(kcols: _*).agg(aggs.head, aggs.tail: _*)

    // a group whose values are ALL null still emits a row (with null
    // quantiles), matching grouped quantile_cont/percentile output.
    // Null-safe equality (<=>): a NULL group KEY is a real group and must
    // match its computed quantiles row — plain equality would orphan it.
    val withAllGroups =
      if (keys.isEmpty) picked
      else {
        val allGroups = df.select(kcols: _*).distinct().alias("_qg")
        val cond = keys.map(k => col(s"_qp.$k") <=> col(s"_qg.$k"))
          .reduce(_ && _)
        picked.alias("_qp").join(allGroups, cond, "right")
          .select(keys.map(k => col(s"_qg.$k").as(k)) ++
            ps.indices.flatMap(i =>
              Seq(col(s"_lo$i"), col(s"_hi$i"), col(s"_frac$i"))): _*)
      }

    val outCols = kcols ++ ps.indices.map { i =>
      (col(s"_lo$i") + (col(s"_hi$i") - col(s"_lo$i")) * col(s"_frac$i"))
        .as(names(i))
    }
    withAllGroups.select(outCols: _*)
  }

  /** Exact interpolated GLOBAL quantiles without a single-task window.
    *
    * The grouped path's cumulative-count window has no partition key when
    * `keys` is empty, which Spark executes as ONE task holding every
    * distinct value. Here the cumulative position comes from the
    * distributed [[PrefixScan]] instead (a `Sum` over the value-frequency
    * frame ordered by the distinct, non-null value: range-partition,
    * per-partition partial sums, a config-bounded summary scan, broadcast
    * carry-in) — so the only
    * data-sized stages are hash aggregations and a range Exchange of the
    * DISTINCT values; the lone single-task stage is the ≤
    * shuffle-partitions-row summary scan, bounded by config not data. */
  def exactGlobal(df: DataFrame, valueCol: String, ps: Seq[Double],
                  outNames: Seq[String] = Nil): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    val names = if (outNames.nonEmpty) outNames
                else ps.map(p => s"p${(p * 100).toInt}")

    // value-frequency reduction (the only pass over raw rows), then the
    // exclusive prefix sum over value order = rows strictly below _v.
    // Pinned: both the prefix scan AND the total consume it, and
    // without the cut each consumer re-evaluates the whole upstream
    // frame (for q119's resample that upstream is the full per-doc
    // scoring pipeline) — one raw pass instead of two.
    val counts = Pin.data(df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("_v")).agg(count(lit(1)).as("_cnt")))
    val ranked = PrefixScan(counts, "_v", PrefixScan.Sum(col("_cnt"), "_below"))
      .withColumn("_cum", col("_below") + col("_cnt"))
    val total = counts.agg(sum(col("_cnt")).as("_n"))

    // same pick/interpolate algebra as the grouped path, as ONE global
    // aggregation over the distinct-value frame
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val h = (col("_n") - 1).cast("double") * lit(p)
      def covering(rank: Column) =
        max(when(col("_below") <= rank && rank < col("_cum"), col("_v")))
      Seq(covering(floor(h)).as(s"_lo$i"),
        covering(ceil(h)).as(s"_hi$i"),
        first(h - floor(h)).as(s"_frac$i"))
    }
    val picked = ranked.crossJoin(broadcast(total)).agg(aggs.head, aggs.tail: _*)
    picked.select(ps.indices.map { i =>
      (col(s"_lo$i") + (col(s"_hi$i") - col(s"_lo$i")) * col(s"_frac$i"))
        .as(names(i))
    }: _*)
  }

  /** Sketch-based grouped quantiles: bounded memory, mergeable partials.
    * `accuracy` bounds the rank error at 1/accuracy of the group size. */
  def approx(df: DataFrame, keys: Seq[String], valueCol: String,
             ps: Seq[Double], accuracy: Int = 10000,
             outNames: Seq[String] = Nil): DataFrame = {
    val names = if (outNames.nonEmpty) outNames
                else ps.map(p => s"p${(p * 100).toInt}")
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      percentile_approx(col(valueCol), lit(p), lit(accuracy)).as(names(i))
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
