package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression deciding the Luhn checksum of a card
  * CANDIDATE string (digits with optional separators, as matched by
  * [[graft.text.Pii.CardRe]]): walk the bytes once from the RIGHT,
  * skip non-digits, double every second digit (subtract 9 past 9), and
  * accept iff at least one digit was seen and the sum is ≡ 0 (mod 10).
  *
  * Same rationale as [[AgreeCountOfHashes]]: the declarative spelling
  * is a regexp_replace (separator strip, allocating a new string) plus
  * an interpreted `aggregate` over `sequence(1, n)` with a substring +
  * ascii per digit — ~40 allocations per candidate in the redaction
  * path. This is one allocation-free byte walk, and folding the
  * separator skip into the walk removes the regexp_replace entirely.
  * ASCII-only arithmetic: candidate strings from [[graft.text.Pii.CardRe]]
  * are ASCII by construction ([0-9 -] only), and non-ASCII bytes in an
  * arbitrary input are ≥ 0x80, which the digit range test skips — so
  * byte-walking a UTF-8 string is exact here.
  *
  * Digit-less input → false (nothing to validate is not "valid");
  * NULL → NULL (UnaryExpression's default null intolerance).
  * Interpreted/codegen parity and equality with the declarative Luhn
  * fold (PiiSpec's reference formulation) are pinned in PiiSpec.
  */
case class LuhnValidOfText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string, got ${t.sql}")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "luhn_valid"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var sum = 0
    var pos = 0
    var i = bytes.length - 1
    while (i >= 0) {
      val b = bytes(i)
      if (b >= '0' && b <= '9') {
        var d = b - '0'
        if ((pos & 1) == 1) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        pos += 1
      }
      i -= 1
    }
    pos > 0 && sum % 10 == 0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val sum = ctx.freshName("sum")
      val pos = ctx.freshName("pos")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        byte[] $bytes = $s.getBytes();
        int $sum = 0;
        int $pos = 0;
        for (int $i = $bytes.length - 1; $i >= 0; $i--) {
          byte b = $bytes[$i];
          if (b >= 48 && b <= 57) {
            int $d = b - 48;
            if (($pos & 1) == 1) { $d *= 2; if ($d > 9) $d -= 9; }
            $sum += $d;
            $pos++;
          }
        }
        ${ev.value} = $pos > 0 && $sum % 10 == 0;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LuhnValidOfText =
    copy(child = newChild)
}
