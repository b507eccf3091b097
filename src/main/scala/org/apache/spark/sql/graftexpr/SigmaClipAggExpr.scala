package org.apache.spark.sql.graftexpr

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Growable primitive buffer for the sigma-clip aggregate: no boxing, and
  * (de)serialization is a flat little-endian double block instead of Kryo
  * object graphs. Row-by-row `add` grows by doubling; `addAll` of a
  * partial grows to exactly the merged size, since merges come few and
  * large (a whole image's values at 4096²). */
final class DoubleBuf(var arr: Array[Double], var n: Int) {
  def add(v: Double): Unit = {
    if (n == arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(8, arr.length * 2))
    arr(n) = v; n += 1
  }
  def addAll(o: DoubleBuf): Unit = {
    if (n + o.n > arr.length) arr = java.util.Arrays.copyOf(arr, n + o.n)
    System.arraycopy(o.arr, 0, arr, n, o.n); n += o.n
  }
}

/** `sigma_clipped_stats` as a TypedImperativeAggregate — the SURVEY.md §4
  * upgrade over the Aggregator/udaf form, motivated by measurement: at
  * ~1 M pixel groups per frame the udaf's Kryo-serialized ArrayBuffer
  * buffers dominated the combine stage (ObjectHashAggregate falls back to
  * sort-based aggregation past its key threshold and then pays object
  * serialization per buffer spill/merge). This implementation keeps a
  * primitive double array per group and serializes it as a flat byte
  * block. The clip math is graft.functions.SigmaClippedStats.clip — the
  * SAME function the Aggregator uses — so results are bit-identical and
  * oracle parity is untouched. */
case class SigmaClipAggExpr(
    child: Expression,
    sigma: Double,
    maxIters: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DoubleBuf]
    with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType), StructField("mean", DoubleType),
    StructField("median", DoubleType), StructField("std", DoubleType),
    StructField("sum", DoubleType)))

  override def createAggregationBuffer(): DoubleBuf =
    new DoubleBuf(new Array[Double](8), 0)

  override def update(buffer: DoubleBuf, input: InternalRow): DoubleBuf = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  /** An empty buffer adopts `other` instead of copying it: `other` is a
    * partial freshly deserialized for this merge, so nothing else holds
    * it. */
  override def merge(buffer: DoubleBuf, other: DoubleBuf): DoubleBuf =
    if (buffer.n == 0) other
    else { buffer.addAll(other); buffer }

  override def eval(buffer: DoubleBuf): Any = {
    val s = graft.functions.SigmaClippedStats.clip(buffer.arr, buffer.n, sigma, maxIters)
    InternalRow(s.n, s.mean, s.median, s.std, s.sum)
  }

  override def serialize(buffer: DoubleBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.n).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(buffer.n)
    var i = 0
    while (i < buffer.n) { bb.putDouble(buffer.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DoubleBuf = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    val arr = new Array[Double](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getDouble; i += 1 }
    new DoubleBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SigmaClipAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SigmaClipAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SigmaClipAggExpr =
    copy(child = newChild)
}
