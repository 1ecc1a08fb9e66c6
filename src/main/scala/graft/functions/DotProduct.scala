package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two numeric vectors — the
  * sibling of [[CosineSimilarity]] for the LSH sign tests and the int8
  * quantized ANN scores.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0, (acc, v) -> acc + v)`)
  * allocates an intermediate array and dispatches two lambdas per element
  * per row; with 16 hyperplanes per vector that is 16 allocation+dispatch
  * chains per row. This expression is one fused tight loop inside
  * whole-stage codegen.
  *
  * Type contract:
  *   - both inputs integral (array<long> / array<int>)  -> LONG result
  *     (exact — the int8 quantized scores stay engine-portable integers);
  *   - any float/double input                           -> DOUBLE result.
  *
  * Accumulation is strictly index 0..n-1 with a single accumulator —
  * bit-identical to the left-associated HOF fold it replaces AND to the
  * left-associated `v[1]*w1 + v[2]*w2 + ...` chains in the generated
  * DuckDB oracles (IEEE addition order is preserved), so swapping the
  * implementation cannot move a hyperplane sign bit. Vector elements are
  * assumed non-null (dense embeddings); lengths must match.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<numeric> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val integral: Boolean =
    Seq(left, right).forall(e => elemType(e) match {
      case LongType | IntegerType => true
      case _ => false
    })

  override def dataType: DataType = if (integral) LongType else DoubleType

  override def prettyName: String = "dot_product"

  private def getDouble(t: DataType): (ArrayData, Int) => Double = t match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case LongType => (a, i) => a.getLong(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
  }

  private def getLong(t: DataType): (ArrayData, Int) => Long = t match {
    case LongType => (a, i) => a.getLong(i)
    case IntegerType => (a, i) => a.getInt(i).toLong
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"dot_product: vector length mismatch ($n vs ${y.numElements()})")
    }
    if (integral) {
      val gx = getLong(elemType(left)); val gy = getLong(elemType(right))
      var acc = 0L; var i = 0
      while (i < n) { acc += gx(x, i) * gy(y, i); i += 1 }
      acc
    } else {
      val gx = getDouble(elemType(left)); val gy = getDouble(elemType(right))
      var acc = 0.0; var i = 0
      while (i < n) { acc += gx(x, i) * gy(y, i); i += 1 }
      acc
    }
  }

  private def javaGet(arr: String, t: DataType, i: String, target: String): String =
    t match {
      case FloatType => s"($target) $arr.getFloat($i)"
      case DoubleType => s"($target) $arr.getDouble($i)"
      case LongType => s"($target) $arr.getLong($i)"
      case IntegerType => s"($target) $arr.getInt($i)"
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val jt = if (integral) "long" else "double"
      val zero = if (integral) "0L" else "0.0"
      val gx = javaGet(a, elemType(left), i, jt)
      val gy = javaGet(b, elemType(right), i, jt)
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |$jt $acc = $zero;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ($gx) * ($gy);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
