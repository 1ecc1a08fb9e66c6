package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float or double
  * vectors, accumulated in double, with full whole-stage-codegen support.
  *
  * This is the one place the engine needs a custom expression (SURVEY.md
  * §7.4): the reference has no vector ops, but the north-star similarity
  * workloads evaluate O(n·k) cosines, and a codegen'd tight loop beats the
  * higher-order-function formulation (zip_with + aggregate allocates an
  * intermediate array per row) by avoiding per-element lambda dispatch.
  *
  * Accumulation order is fixed (index 0..n-1, dot/na/nb separate
  * accumulators, sqrt(na)*sqrt(nb) denominator) so interpreted eval,
  * codegen, and the test-oracle reimplementation agree bit-for-bit.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is private[sql]-typed; check inputs directly instead.
  // Double elements are accepted alongside float (trained IVF centroids are
  // exact 4dp-rounded doubles — casting them to float would break oracle
  // parity with DuckDB's double lists); each side widens independently, so
  // float-vs-double mixes are the same arithmetic both engines run.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getDouble(t: DataType): (ArrayData, Int) => Double = t match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
  }

  // Hoisted per-plan (dataType is fixed once resolved): nullSafeEval is the
  // HOT path when this expression sits under a CodegenFallback HOF (the
  // array_sort-based centroid ranking evaluates it k times per row) — no
  // per-call closure allocation.
  private lazy val gx = getDouble(elemType(left))
  private lazy val gy = getDouble(elemType(right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"cosine_sim: vector length mismatch ($n vs ${y.numElements()})")
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = gx(x, i)
      val yi = gy(y, i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def javaGet(arr: String, t: DataType, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = ${javaGet(a, elemType(left), i)};
         |  final double $yi = ${javaGet(b, elemType(right), i)};
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
