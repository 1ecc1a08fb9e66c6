package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature aggregate (the `TypedImperativeAggregate`
  * anticipated by SURVEY.md §2.10/§7.4): folds a stream of fingerprints
  * (masked to their low 32 bits) into a k-element signature of affine-hash
  * minima in ONE pass over a primitive long[] buffer — the imperative
  * alternative to declaring k separate `min(pmod((x & 0xffffffff)*a+b, p))`
  * agg columns.
  *
  * The hash family is identical to the declarative formulation (same
  * (a, b) parameters, same prime), so both produce byte-identical
  * signatures — MinHashAggSpec pins that equivalence, and either
  * implementation satisfies the same DuckDB oracle.
  *
  * Scale posture: partial aggregation still applies (update on the map
  * side, elementwise-min merge on the reduce side), so only k longs per
  * (partition, key) cross the shuffle, exactly like the column version.
  */
case class MinHashAgg(
    child: Expression,
    params: Seq[(Long, Long)],
    prime: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private val k = params.length
  private val as = params.map(_._1).toArray
  private val bs = params.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects a bigint argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // Mask to the 32-bit base domain HERE, not at call sites: the
      // function is registered as a public session function and may be fed
      // raw 60-bit fingerprints — unmasked, x*a would wrap Long silently
      // (no ANSI guard in imperative code) and % would go negative.
      val x = v.asInstanceOf[Long] & 0xffffffffL
      var i = 0
      while (i < k) {
        val h = (x * as(i) + bs(i)) % prime // x < 2^32, a,b < 2^30: no overflow
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (other(i) < buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashAgg =
    copy(child = newChild)
}
