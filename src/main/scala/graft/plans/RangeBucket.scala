package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Partition index of `child` within a LITERAL sorted boundary list —
  * the value-derived replacement for a second range Exchange in the
  * distributed [[graft.operators.PrefixScan]]: the narrow planning pass
  * collects each range partition's upper bound, and the full-width
  * frame then derives the SAME partition id from its order key with one
  * binary search per row — no reservoir-sampling pass over the wide
  * frame, no wide checkpoint, no re-attachment join.
  *
  * Returns the count of boundaries strictly below the key (lower
  * bound): key ≤ boundaries(i) and key > boundaries(i-1) → i; key above
  * every boundary → boundaries.length (the last partition). A null key
  * maps to partition 0, matching the range partitioner's nulls-first
  * order. Boundaries ride as expression literals (≤ the shuffle
  * partition count — a config constant), same as the centroid/codebook
  * literal pattern; O(log n) per row. */
case class RangeBucketExpr(child: Expression, boundaries: IndexedSeq[Any],
                           elemType: DataType)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "range_bucket"
  // keep plan text compact: the boundary values are partition bounds,
  // not semantics worth printing
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, boundaries.length, elemType)

  @transient private lazy val ord =
    TypeUtils.getInterpretedOrdering(elemType)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else {
      var lo = 0
      var hi = boundaries.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(boundaries(mid), v)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RangeBucketExpr =
    copy(child = newChild)
}

object RangeBucket {
  /** `boundaries` are EXTERNAL (Row.get) values of `elemType`; converted
    * to Catalyst-internal form once here. Must be sorted ascending and
    * non-null: null keys sort first and always map to partition 0, so a
    * null boundary would only be compared silently as if it were data. */
  def bucket(c: Column, boundaries: Seq[Any], elemType: DataType): Column = {
    require(!boundaries.contains(null), "range_bucket boundaries must be non-null")
    val conv = CatalystTypeConverters.createToCatalystConverter(elemType)
    ColumnBridge.column(RangeBucketExpr(ColumnBridge.expression(c),
      boundaries.map(conv).toIndexedSeq, elemType))
  }
}
