package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The distributed prefix scan: running aggregates over the global order
  * of one column. The naive form (`sum(v) OVER (ORDER BY k)` with no
  * partition key) runs as ONE task holding the whole frame; here the
  * order is range-partitioned, each partition is scanned in parallel,
  * and a config-bounded summary carries each partition's state into the
  * next.
  *
  * CONTRACT: the order column is a unique, deterministic total order, and
  * a null key sorts first — the order of `Window.orderBy(col(k).asc)`,
  * whose single-partition result this scan reproduces exactly.
  *
  * SHAPE: every accumulator of one call shares one planning pass over
  * the NARROW (order key, values) projection — one range Exchange (whose
  * reservoir-sampling job evaluates its whole input), one pinned
  * checkpoint, one per-partition summary and one collect — so column
  * pruning reaches the caller's scan and the checkpoint stores only the
  * scanned columns. The driver folds the ≤ `spark.sql.shuffle.partitions`
  * summary rows into each partition's carry-in, one fold per
  * accumulator, and broadcasts all carries as one frame. The WIDE frame
  * derives the SAME partition id from its order key with one literal
  * binary search per row ([[graft.plans.RangeBucketExpr]] over each
  * nonempty partition's collected upper bound): it is never sampled,
  * never checkpointed, and shuffles exactly once, for the window that
  * holds one expression per accumulator. The wide pid is a pure
  * function of (order key, boundaries), so the two branches agree
  * whatever the physical partitioning.
  *
  * The narrow frame is pinned with an eager checkpoint, not a persist:
  * `spark_partition_id()` must be read from exactly one materialization
  * (a persist can be evicted and recomputed with different AQE
  * coalescing). Executor-loss trade-off centralized in [[Pin]]. */
object PrefixScan {

  sealed trait Accumulator

  /** `out` = the EXCLUSIVE running sum of `value` (0 on the first row);
    * a null value counts as 0. */
  final case class Sum(value: Column, out: String) extends Accumulator

  /** `out` = the last non-null `value` before the row, or up to and
    * including it when `inclusive`; null while none has been seen. */
  final case class Last(value: Column, out: String, inclusive: Boolean)
      extends Accumulator

  private val Pid = "_prefix_pid"

  /** `df` plus one column per accumulator, in the global order of
    * `orderCol`. */
  def apply(df: DataFrame, orderCol: String, accs: Accumulator*): DataFrame = {
    require(accs.nonEmpty, "PrefixScan needs at least one accumulator")
    val spark = df.sparkSession
    val n = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val vs = accs.indices.map(i => s"_prefix_v$i")
    val cs = accs.indices.map(i => s"_prefix_c$i")
    val values = accs.zip(vs).map {
      case (Sum(v, _), name) => coalesce(v.cast(LongType), lit(0L)).as(name)
      case (Last(v, _, _), name) => v.as(name)
    }

    val narrow = Pin.data(df.select(col(orderCol) +: values: _*)
      .repartitionByRange(n, col(orderCol))
      .withColumn(Pid, spark_partition_id()))

    // one row per NONEMPTY partition: its key upper bound, then each
    // accumulator's partial. A null key ranks below every non-null key:
    // the null-key row's value is a partition's last only when no keyed
    // row has one (max_by skips null orderings, so it cannot see it).
    val partials = accs.zip(vs).map {
      case (_: Sum, v) => sum(col(v))
      case (_: Last, v) =>
        coalesce(max_by(col(v), when(col(v).isNotNull, col(orderCol))),
          first(when(col(orderCol).isNull, col(v)), ignoreNulls = true))
    }
    val summary = narrow.groupBy(col(Pid))
      .agg(max(col(orderCol)), partials: _*)
      .collect()
      .sortBy(_.getInt(0))

    // bucket k + 1 starts after partition cut(k). A partition holding
    // only the null key has a null upper bound; nulls sort first, so it
    // can only be the first one, and it shares bucket 0 (where
    // range_bucket puts null keys) with its successor.
    val cut = summary.indices.dropRight(1).filterNot(summary(_).isNullAt(1))
    val bounds = cut.map(summary(_).get(1))
    val carries = accs.zipWithIndex.map { case (acc, i) =>
      val f = i + 2
      // into(j) = the accumulator's state before partition j
      val into = acc match {
        case _: Sum => summary.toSeq.scanLeft(0L)(_ + _.getLong(f))
        case _: Last => summary.toSeq.scanLeft(null: Any)(
          (c, r) => if (r.isNullAt(f)) c else r.get(f))
      }
      into.head +: cut.map(j => into(j + 1))
    }
    val carryDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 to bounds.length).map(b => Row(b +: carries.map(_(b)): _*)), 1),
      StructType(StructField(Pid, IntegerType, nullable = false) +:
        accs.zip(vs).zip(cs).map {
          case ((_: Sum, _), c) => StructField(c, LongType, nullable = false)
          case ((_: Last, v), c) => StructField(c, narrow.schema(v).dataType)
        }))

    val w = Window.partitionBy(col(Pid)).orderBy(col(orderCol))
    def upTo(end: Long) = w.rowsBetween(Window.unboundedPreceding, end)
    val outs = accs.zip(vs).zip(cs).map {
      case ((Sum(_, out), v), c) =>
        out -> (coalesce(sum(col(v)).over(upTo(-1L)), lit(0L)) + col(c))
      case ((Last(_, out, inclusive), v), c) =>
        out -> coalesce(last(col(v), ignoreNulls = true)
          .over(upTo(if (inclusive) 0L else -1L)), col(c))
    }
    val orderType = narrow.schema(orderCol).dataType
    df.select(col("*") +: values :+
        graft.plans.RangeBucket.bucket(col(orderCol), bounds, orderType).as(Pid): _*)
      .join(broadcast(carryDf), Pid)
      .withColumns(ListMap(outs: _*))
      .drop(Pid +: (vs ++ cs): _*)
  }
}
