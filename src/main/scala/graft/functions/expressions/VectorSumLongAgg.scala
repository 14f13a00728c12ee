package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Element-wise sum of ARRAY<BIGINT> rows as a single aggregation — the
  * exact-integer twin of [[VectorSumAgg]] for fixed-point vector math
  * (the q241 Lloyd lattice): BIGINT adds are associative, so the result
  * is bit-identical under any partitioning, which the double variant
  * cannot promise. Replaces posexplode → groupBy(key, pos) → re-assemble
  * (an extra shuffle and k× the row volume per aggregation).
  *
  * Same conventions as [[VectorSumAgg]]: null rows are ignored, a row
  * containing any null element is skipped whole, ragged lengths grow the
  * buffer (never truncate), empty groups yield null. Overflow raises
  * (`Math.addExact` in update and merge), as ANSI `sum` does — no wrap.
  *
  * Callers (through `VectorFunctions.vecSumLong`): the q241/q242 k-means
  * Lloyd round, q109's pooled means, q214's per-dimension sums and
  * `VectorPack.labelCentroids` (the q166 and q228 class centroids).
  */
case class VectorSumLongAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vecsum_long requires ARRAY<BIGINT>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vecsum_long"

  override def createAggregationBuffer(): Array[Long] = null

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var j = 0
    while (j < n) { if (arr.isNullAt(j)) return buffer; j += 1 }
    if (buffer == null) {
      val fresh = new Array[Long](n)
      var i = 0
      while (i < n) { fresh(i) = arr.getLong(i); i += 1 }
      fresh
    } else {
      val out = if (n > buffer.length) java.util.Arrays.copyOf(buffer, n)
                else buffer
      var i = 0
      while (i < n) { out(i) = Math.addExact(out(i), arr.getLong(i)); i += 1 }
      out
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1 == null) return b2
    if (b2 == null) return b1
    val (long, short) = if (b1.length >= b2.length) (b1, b2) else (b2, b1)
    var i = 0
    while (i < short.length) { long(i) = Math.addExact(long(i), short(i)); i += 1 }
    long
  }

  override def eval(buffer: Array[Long]): Any =
    if (buffer == null) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    if (buffer == null) return Array.emptyByteArray
    val bb = ByteBuffer.allocate(1 + 8 * buffer.length)
    bb.put(1: Byte)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    if (bytes.isEmpty) return null
    val bb = ByteBuffer.wrap(bytes)
    bb.get()
    Array.fill((bytes.length - 1) / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumLongAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumLongAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumLongAgg =
    copy(child = newChildren.head)
}
