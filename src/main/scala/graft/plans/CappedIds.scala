package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The distinct values of a BIGINT column, as `distinct()` sees them (a
  * NULL is one value, first in the result; the rest ascending), or NULL
  * once more than `cap` distinct values have been seen. A buffer past the
  * cap drops its set and keeps only the overflow flag, so each task, and
  * the driver merging them, holds at most `cap + 1` values whatever the
  * input's size. It rides a write's `Dataset.observe` (an
  * [[org.apache.spark.sql.Observation]]), so a small set reaches the
  * driver from the same pass that writes the rows. */
case class CappedIds(child: Expression, cap: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIds.Buf] with UnaryLike[Expression] {
  import CappedIds.Buf

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "capped_ids"

  def createAggregationBuffer(): Buf = new Buf

  def update(b: Buf, row: InternalRow): Buf = {
    if (b.ids != null) {
      val v = child.eval(row)
      if (v == null) b.hasNull = true else b.ids += v.asInstanceOf[Long]
      b.checkCap(cap)
    }
    b
  }

  def merge(b: Buf, o: Buf): Buf = {
    if (o.ids == null) b.ids = null
    else if (b.ids != null) {
      b.ids ++= o.ids
      b.hasNull ||= o.hasNull
      b.checkCap(cap)
    }
    b
  }

  def eval(b: Buf): Any =
    if (b.ids == null) null
    else new GenericArrayData(
      (if (b.hasNull) Array[Any](null) else Array.empty[Any]) ++ b.ids.toArray.sorted)

  def serialize(b: Buf): Array[Byte] = {
    val n = if (b.ids == null) 0 else b.ids.size
    val bb = ByteBuffer.allocate(2 + 4 + 8 * n)
    bb.put((if (b.ids == null) 1 else 0).toByte).put((if (b.hasNull) 1 else 0).toByte)
    bb.putInt(n)
    if (b.ids != null) b.ids.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new Buf
    val over = bb.get() == 1
    b.hasNull = bb.get() == 1
    val n = bb.getInt()
    (0 until n).foreach(_ => b.ids += bb.getLong())
    if (over) b.ids = null
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedIds =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedIds =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CappedIds =
    copy(child = c)
}

object CappedIds {
  /** The distinct ids seen so far and whether a NULL was among them;
    * `ids` is null once the cap was passed. */
  final class Buf {
    var ids: scala.collection.mutable.HashSet[Long] =
      scala.collection.mutable.HashSet.empty[Long]
    var hasNull: Boolean = false
    def checkCap(cap: Int): Unit =
      if (ids.size + (if (hasNull) 1 else 0) > cap) ids = null
  }

  /** [[CappedIds]] over `c` cast to BIGINT, as an aggregate Column. */
  def column(c: Column, cap: Int): Column =
    ColumnBridge.column(CappedIds(ColumnBridge.expression(c.cast(LongType)), cap)
      .toAggregateExpression())
}
