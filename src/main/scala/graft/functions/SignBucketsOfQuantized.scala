package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing the banded sign-LSH bucket ids of
  * a quantized embedding (`array<long>`): for hash table t, bucket bit j =
  * sign(Σ_i qv[i] · coef(t·b+j, i)) with the pseudo-random plane
  * coefficient coef(h, i) = (a_h·i + b_h) mod 997 − 498 (i 1-based).
  * Output: `array<long>` of the L = numTables bucket ids.
  *
  * Same rationale as [[MinhashOfHashes]]: the declarative formulation is
  * L·b interpreted `aggregate(transform(...))` HOF walks of the vector
  * (48 at the default 4×12 geometry); this is ONE codegen'd walk updating
  * all L·b projections. Raw-input edges (pinned in SimilaritySpec): a
  * NULL element nullifies every projection and `when(null ≥ 0)` falls
  * through to 0 ⇒ all buckets 0; the EMPTY array leaves every projection
  * at the fold seed 0 ⇒ every bit set. Both are unreachable through
  * [[graft.ml.Similarity.vectors]] (norm filter), which is the only
  * production entry point.
  *
  * Overflow bounds: |qv[i]| ≤ 2·10^6 (quantized unit-ish floats), |coef|
  * ≤ 498 ⇒ |per-term| ≤ 10^9; 4096 dims ⇒ |proj| ≤ 4·10^12 « 2^62.
  */
case class SignBucketsOfQuantized(child: Expression, planes: Seq[(Long, Long)],
    numTables: Int, planesPerTable: Int) extends UnaryExpression {

  private def h: Int = numTables * planesPerTable

  // hoisted coefficient arrays for the interpreted path: indexing the
  // `planes` Seq (a List) inside the per-element loop made nullSafeEval
  // O(h²) per array element; the codegen path already hoists these
  @transient private lazy val planeA: Array[Long] = planes.map(_._1).toArray
  @transient private lazy val planeB: Array[Long] = planes.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_buckets_of_quantized"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val proj = new Array[Long](h)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val q = arr.getLong(i)
        val idx = i + 1L
        var p = 0
        while (p < h) {
          proj(p) += q * ((planeA(p) * idx + planeB(p)) % 997L - 498L)
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](numTables)
    if (!hasNull) {
      var t = 0
      while (t < numTables) {
        var acc = 0L
        var j = 0
        while (j < planesPerTable) {
          if (proj(t * planesPerTable + j) >= 0L) acc += 1L << j
          j += 1
        }
        out(t) = acc
        t += 1
      }
    }
    new GenericArrayData(out.map(Long.box))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val proj = ctx.freshName("proj")
      val out = ctx.freshName("out")
      val hasNull = ctx.freshName("hasNull")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val aInit = ctx.addReferenceObj("planeA", planes.map(_._1).toArray, "long[]")
      val bInit = ctx.addReferenceObj("planeB", planes.map(_._2).toArray, "long[]")
      s"""
        int $n = $c.numElements();
        long[] $proj = new long[$h];
        boolean $hasNull = false;
        for (int $i = 0; $i < $n && !$hasNull; $i++) {
          if ($c.isNullAt($i)) { $hasNull = true; }
          else {
            long $q = $c.getLong($i);
            for (int $p = 0; $p < $h; $p++) {
              $proj[$p] += $q * (($aInit[$p] * ($i + 1L) + $bInit[$p]) % 997L - 498L);
            }
          }
        }
        long[] $out = new long[$numTables];
        if (!$hasNull) {
          for (int $t = 0; $t < $numTables; $t++) {
            long $acc = 0L;
            for (int $j = 0; $j < $planesPerTable; $j++) {
              if ($proj[$t * $planesPerTable + $j] >= 0L) $acc += 1L << $j;
            }
            $out[$t] = $acc;
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SignBucketsOfQuantized =
    copy(child = newChild)
}
