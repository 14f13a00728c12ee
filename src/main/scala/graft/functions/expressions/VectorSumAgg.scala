package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Element-wise sum of ARRAY<DOUBLE> rows as a single aggregation —
  * `vecsum([a1..ak]) = [Σa1 .. Σak]`.
  *
  * SURVEY.md §7.5 reserved a TypedImperativeAggregate for exactly this
  * shape (the reference's elementwise-array reduce, ALSMeanVector.scala:33,
  * SGD gradient accumulation): the composed alternative is
  * posexplode → groupBy(key, pos) → re-assemble, which costs an extra
  * shuffle and k× the row volume. This aggregate keeps one mutable
  * Array[Double] buffer per group, supports partial aggregation (map-side
  * combine), and serializes the buffer as packed doubles between stages.
  *
  * Null rows are ignored; the first non-null row fixes the length (all
  * engine vectors are fixed-length per model). Empty groups yield null.
  *
  * Callers (through `VectorFunctions.vecSum`): the SGD gradient sum in
  * `SgdUpdater` and `Training.meanVector`, which `Training.meanExport`
  * publishes as the MEAN rows and q04 lays out per dimension.
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vecsum requires ARRAY<DOUBLE>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vecsum"

  override def createAggregationBuffer(): Array[Double] = null

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // SQL-sum convention: a row whose array contains any null element is
    // skipped whole (never silently counted as zeros)
    var j = 0
    while (j < n) { if (arr.isNullAt(j)) return buffer; j += 1 }
    if (buffer == null) {
      val fresh = new Array[Double](n)
      var i = 0
      while (i < n) { fresh(i) = arr.getDouble(i); i += 1 }
      fresh
    } else {
      // grow, never truncate: row order must not affect the result when
      // lengths are ragged (a short malformed row would otherwise clip
      // every later row nondeterministically)
      val out = if (n > buffer.length) java.util.Arrays.copyOf(buffer, n)
                else buffer
      var i = 0
      while (i < n) { out(i) += arr.getDouble(i); i += 1 }
      out
    }
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b1 == null) return b2
    if (b2 == null) return b1
    val (long, short) = if (b1.length >= b2.length) (b1, b2) else (b2, b1)
    var i = 0
    while (i < short.length) { long(i) += short(i); i += 1 }
    long
  }

  override def eval(buffer: Array[Double]): Any =
    if (buffer == null) null else new GenericArrayData(buffer)

  // 1-byte presence marker disambiguates the null buffer (no rows seen)
  // from a legitimate zero-length array
  override def serialize(buffer: Array[Double]): Array[Byte] = {
    if (buffer == null) return Array.emptyByteArray
    val bb = ByteBuffer.allocate(1 + 8 * buffer.length)
    bb.put(1: Byte)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    if (bytes.isEmpty) return null
    val bb = ByteBuffer.wrap(bytes)
    bb.get()
    Array.fill((bytes.length - 1) / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumAgg =
    copy(child = newChildren.head)
}
