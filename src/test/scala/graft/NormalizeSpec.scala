package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.FoldMarks
import graft.text.TextAnalysis

/** Pins [[FoldMarks]]/[[TextAnalysis.textNormalize]] to the DuckDB
  * behavior the oracle runs (`strip_accents(nfc_normalize(lower(x)))`).
  * The expected strings below were PROBED from DuckDB 1.0
  * codepoint-by-codepoint (plus a 1000-string random multi-script sweep
  * with zero diffs) — hardcoding them here is the cross-engine pin,
  * since the JVM test suite cannot execute DuckDB itself.
  */
class NormalizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // (input, duckdb strip_accents(nfc_normalize(lower(input))))
  private val probedPairs = Seq(
    "café" -> "cafe",
    "naïve ÉLAN" -> "naive elan",
    "señor" -> "senor",
    "ñandú über fiancée" -> "nandu uber fiancee",
    "ḹ ṝ" -> "l r",
    // Greek: polytonic marks stripped
    "Ω μῆνιν ᾧ" -> "ω μηνιν ω",
    // Cyrillic: ё folds to е (U+0435)
    "ё ё" -> "е е",
    // Kana: mark stripped, NOT recomposed (パ U+30D1 → ハ U+30CF)
    "ア゙ パ" -> "ア ハ",
    // precomposed Hangul decomposes to markless Jamo and recomposes
    "한국어" -> "한국어",
    // Devanagari matra (Mc, U+0940) stripped
    "की" -> "क",
    // enclosing mark (Me) and Cyrillic millions sign (Me) stripped
    "a҉b" -> "ab",
    // compatibility chars untouched: NFC, never NFKC
    "Ⅷ ﬁne ½" -> "ⅷ ﬁne ½",
    // combining sequence composes nowhere after the ogonek+acute strip
    "ą́" -> "a")

  test("fold_marks matches the probed DuckDB strip_accents outputs") {
    for ((in, expected) <- probedPairs) {
      val got = FoldMarks.fold(
        UTF8String.fromString(in.toLowerCase(java.util.Locale.ROOT))).toString
      // compare against DuckDB's output of the SAME lowered input; the
      // operator routes lowercasing through Spark's lower(), tested below
      assert(got === expected, s"fold('$in')")
    }
  }

  test("fold is idempotent and is the identity on ASCII") {
    for ((in, _) <- probedPairs) {
      val once = FoldMarks.fold(UTF8String.fromString(in)).toString
      val twice = FoldMarks.fold(UTF8String.fromString(once)).toString
      assert(twice === once, s"idempotence on '$in'")
    }
    val ascii = "plain ascii text 123 !@# stays exactly as it is"
    assert(FoldMarks.fold(UTF8String.fromString(ascii)).toString === ascii)
  }

  test("textNormalize: end-to-end over the session (native path) + changed flag") {
    val df = probedPairs.zipWithIndex
      .map { case ((in, _), i) => (i.toLong, in, "xx") }
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.textNormalize(df)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("norm_text"), r.getAs[Boolean]("changed"))).toMap
    for (((in, expected), i) <- probedPairs.zipWithIndex) {
      assert(out(i.toLong)._1 === expected, s"norm('$in')")
      assert(out(i.toLong)._2 === (expected != in.toLowerCase(java.util.Locale.ROOT)),
        s"changed('$in')")
    }
    // NULL text: NULL out, changed false
    val n = TextAnalysis.textNormalize(
      Seq((99L, null.asInstanceOf[String], "xx")).toDF("doc_id", "text", "lang"))
      .collect().head
    assert(n.getAs[String]("norm_text") === null)
    assert(!n.getAs[Boolean]("changed"))
  }

  test("a UDF over the static fold equals the native expression") {
    import org.apache.spark.sql.functions._
    val df = probedPairs.map(_._1).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        call_function("fold_marks", lower(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaUdf = {
      val f = udf((s: String) => if (s == null) null
        else FoldMarks.fold(UTF8String.fromString(s)).toString)
      df.select(col("doc_id"), f(lower(col("text"))).as("n"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(native === viaUdf)
  }
}
