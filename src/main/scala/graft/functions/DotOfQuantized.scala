package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing the exact int64 dot product of
  * two quantized vectors (`array<long>`): Σ_i a[i]·b[i].
  *
  * Same rationale as [[MinhashOfHashes]]: the declarative formulation
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` is TWO chained interpreted
  * HOFs (array HOFs are CodegenFallback) allocating an intermediate
  * products array per row — and it sits in the hottest loop this engine
  * has: every kNN rescore, every ANN pair verification, every k-means
  * assignment, and the norm of every vector. This is one codegen'd walk
  * with no allocation, inside whole-stage codegen.
  *
  * Null/ragged parity with the declarative reference formulation
  * (pinned in SimilaritySpec): either array NULL ⇒ NULL; unequal
  * lengths ⇒ NULL (zip_with pads the shorter side with nulls, the null
  * product poisons the sum); any NULL element ⇒ NULL. Empty × empty ⇒ the fold seed 0.
  * Overflow bound as documented on [[graft.ml.Similarity]]: |coord| ≤
  * 2·10^6 ⇒ a 4096-dim dot ≤ 1.6e16 « 2^62; every operator quantizes
  * through that bounded scale first, and past it the sum wraps (Java
  * `long` arithmetic) rather than paying an overflow check in the
  * engine's hottest loop.
  */
case class DotOfQuantized(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint>, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = LongType
  // nullable even over non-null children: ragged lengths and null
  // elements both yield NULL (matching the declarative twin)
  override def nullable: Boolean = true
  override def prettyName: String = "dot_of_quantized"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, ya) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
        int $n = $xa.numElements();
        if ($ya.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
            if ($xa.isNullAt($i) || $ya.isNullAt($i)) { ${ev.isNull} = true; }
            else { $acc += $xa.getLong($i) * $ya.getLong($i); }
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotOfQuantized =
    copy(left = newLeft, right = newRight)
}
