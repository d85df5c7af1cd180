package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression computing the hashed-TF dimension shares
  * from an `array<long>` of token hashes: share[d] = |{h : h mod dim =
  * d}| / n as float, for d in [0, dim) — the feature-hashing vector of
  * [[graft.ml.DocVectors]].
  *
  * Exists for performance, not semantics (the [[SimhashOfHashes]]
  * precedent): the declarative formulation — `transform(sequence(0,
  * dim−1), d -> size(filter(hs, x -> x = d)))` — is correct but
  * evaluates dim × n interpreted lambda calls per row (array HOFs are
  * `CodegenFallback`), which round-9 bench measured at ~92 s/query on
  * the sf0.1 documents table. This expression is the same arithmetic in
  * ONE O(n + dim) pass inside whole-stage codegen (~60× less work per
  * row before counting codegen's constant-factor win); DocVectorsSpec
  * pins bit-equality against that declarative reference formulation.
  *
  * Null handling mirrors the declarative spelling: a null ELEMENT
  * counts toward n (matching `size`) but lands in no dimension
  * (matching `filter`'s null-drop); a null ARRAY yields null. A
  * NEGATIVE hash likewise counts toward n but lands in no dimension —
  * in the reference formulation `h % dim` is negative and matches no d
  * in [0, dim), and this expression is registered session-wide as
  * `dim_shares_of_hashes`, so arbitrary SQL callers can feed it
  * hashes `PortableHash.tokHash` would never produce; indexing
  * `counts[h % dim]` unguarded would throw on them. The one
  * IEEE divide per dimension is (double) count / (double) n cast to
  * float — the exact op sequence of the reference formulation and the
  * DuckDB oracle.
  */
case class DimSharesOfHashes(child: Expression, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "dim_shares_of_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](dim)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = (arr.getLong(i) % dim).toInt
        if (m >= 0) counts(m) += 1
      }
      i += 1
    }
    val shares = new Array[Any](dim)
    var d = 0
    while (d < dim) {
      shares(d) = (counts(d).toDouble / n.toDouble).toFloat
      d += 1
    }
    new GenericArrayData(shares)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val shares = ctx.freshName("shares")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        int $n = $c.numElements();
        int[] $counts = new int[$dim];
        for (int $i = 0; $i < $n; $i++) {
          if (!$c.isNullAt($i)) {
            long ${i}m = $c.getLong($i) % ${dim}L;
            if (${i}m >= 0L) $counts[(int) ${i}m] += 1;
          }
        }
        float[] $shares = new float[$dim];
        for (int $d = 0; $d < $dim; $d++) {
          $shares[$d] = (float) ((double) $counts[$d] / (double) $n);
        }
        ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($shares);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): DimSharesOfHashes =
    copy(child = newChild)
}
