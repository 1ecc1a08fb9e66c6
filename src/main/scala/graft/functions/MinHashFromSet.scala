package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the FULL k-hash MinHash signature from a
  * per-document shingle-set column in one pass over the array.
  *
  * The declarative form — k separate `array_min(transform(shs, x ->
  * pmod((x & 0xffffffff)*a+b, p)))` columns — walks the set k times, and
  * each walk is a higher-order function whose lambda is dispatched
  * per-element outside whole-stage codegen, allocating an intermediate
  * array per (row, hash). This expression computes all k minima in ONE
  * loop over the set (k multiply-mod updates per element on a primitive
  * long[]), with full codegen support — the same per-element math, so the
  * signature is byte-identical (DedupSpec pins it) and the generated
  * DuckDB oracle is unchanged.
  *
  * Scale posture: the signature projection is the narrow inner loop of
  * every MinHash query (dedup, survivorship, incremental admission,
  * streaming); at 100 TB this is the difference between k array
  * traversals per document and one.
  */
case class MinHashFromSet(
    child: Expression,
    params: Seq[(Long, Long)],
    prime: Long)
    extends UnaryExpression {

  private val k = params.length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_from_set expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = "minhash_from_set"

  // The (a, b) tables live on the expression; codegen references them from
  // the generated class instead of inlining k constants into the source.
  private lazy val as: Array[Long] = params.map(_._1).toArray
  private lazy val bs: Array[Long] = params.map(_._2).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      // Null elements map to null hashes in the declarative form and
      // array_min SKIPS nulls — so skip them here (collect_set never
      // emits nulls, but the function is registered session-wide).
      if (!arr.isNullAt(i)) {
        seen = true
        val x = arr.getLong(i) & 0xffffffffL
        var j = 0
        while (j < k) {
          val h = (x * as(j) + bs(j)) % prime
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    // array_min over an empty (or all-null) array is null per hash.
    if (!seen) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val mins = ctx.freshName("mins")
      val out = ctx.freshName("out")
      val seen = ctx.freshName("seen")
      s"""
         |final int $n = $a.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue; // array_min skips null hashes
         |  $seen = true;
         |  final long $x = $a.getLong($i) & 4294967295L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    final long $h = ($x * $asRef[$j] + $bsRef[$j]) % ${prime}L;
         |    if ($h < $mins[$j]) $mins[$j] = $h;
         |  }
         |}
         |if (!$seen) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    new Object[$k]);
         |} else {
         |  final Object[] $out = new Object[$k];
         |  for (int $j = 0; $j < $k; $j++) $out[$j] = (Long) $mins[$j];
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFromSet =
    copy(child = newChild)
}
