package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Pii

class PiiSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  /** Reference formulation of the Luhn checksum over a candidate's digit
    * string, as declarative column functions (the DuckDB twin's shape):
    * from the RIGHT, double every second digit, subtract 9 when the
    * double exceeds 9, valid iff the sum is ≡ 0 (mod 10). */
  private def luhnValidHof(cand: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val d = regexp_replace(cand, lit("[^0-9]"), lit(""))
    val n = length(d)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val dig = (ascii(d.substr(i, lit(1))) - 48).cast("long")
      val dbl = when(pmod(n - i, lit(2)) === 1, dig * 2L).otherwise(dig)
      acc + when(dbl > 9L, dbl - 9L).otherwise(dbl)
    })
    pmod(total, lit(10L)) === 0L
  }

  test("piiScrub counts and masks emails, IPv4s, and plus-phones") {
    val out = Pii.piiScrub(docs(
      (1L, "contact a.b+c@mail.example.org or root@host.io today"),
      (2L, "server at 10.0.0.1 and 192.168.255.254, port 80"),
      (3L, "call +14155550123 now"),
      (4L, "clean text with no identifiers at all")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") === 2L)
    assert(out(1L).getAs[String]("redacted")
      === "contact <EMAIL> or <EMAIL> today")
    assert(out(2L).getAs[Long]("n_ips") === 2L)
    assert(out(2L).getAs[String]("redacted")
      === "server at <IP> and <IP>, port 80")
    assert(out(3L).getAs[Long]("n_phones") === 1L)
    assert(out(3L).getAs[String]("redacted") === "call <PHONE> now")
    assert(out(4L).getAs[Long]("n_pii") === 0L)
    assert(!out(4L).getAs[Boolean]("has_pii"))
    assert(out(4L).getAs[String]("redacted")
      === "clean text with no identifiers at all")
  }

  test("piiScrub: IPv4 inside an email host counts as both, masks as email") {
    // detection counts come from the ORIGINAL text; redaction is
    // sequential email → IP, so the address is consumed by <EMAIL>
    val r = Pii.piiScrub(docs((1L, "mail admin@10.1.2.3.example.com ok"))).first()
    assert(r.getAs[Long]("n_emails") === 1L)
    assert(r.getAs[Long]("n_ips") === 1L)
    assert(r.getAs[String]("redacted") === "mail <EMAIL> ok")
  }

  test("piiScrub cards: Luhn-valid numbers mask, the near-miss must NOT flag") {
    val out = Pii.piiScrub(docs(
      (1L, "pay 4111 1111 1111 1111 now"),            // visa, spaces, valid
      (2L, "pay 4111-1111-1111-1111 now"),            // dashes, valid
      (3L, "pay 4111111111111111 now"),               // bare 16, valid
      (4L, "bad 4111111111111112 now"),               // Luhn-failing near-miss
      (5L, "amex 378282246310005 ok"),                // 15 digits, valid
      (6L, "run 12345678901234567890 long"),          // 20 digits: no candidate
      (7L, "x4111111111111111 glued")))               // letter-glued: no \b
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(1L, 2L, 3L, 5L)) {
      assert(out(id).getAs[Long]("n_cards") === 1L, s"doc $id")
      assert(out(id).getAs[String]("redacted").contains("<CARD>"), s"doc $id")
    }
    assert(out(1L).getAs[String]("redacted") === "pay <CARD> now")
    // the near-miss is a regex candidate but fails the checksum — kept
    assert(out(4L).getAs[Long]("n_cards") === 0L)
    assert(out(4L).getAs[String]("redacted") === "bad 4111111111111112 now")
    assert(out(6L).getAs[Long]("n_cards") === 0L)
    assert(out(7L).getAs[Long]("n_cards") === 0L)
  }

  test("piiScrub SSNs: dashed 3-2-4 masks; card segments never re-match as SSN") {
    val out = Pii.piiScrub(docs(
      (1L, "ssn 078-05-1120 on file"),
      (2L, "card 5555 5555 5555 4444 and ssn 078-05-1120"),
      // Luhn-INVALID dashed card: stays in the text, and its 4-digit
      // segments must not be re-masked by the 3-2-4 SSN pattern
      (3L, "bad 1234-5678-9012-3456 kept")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_ssns") === 1L)
    assert(out(1L).getAs[String]("redacted") === "ssn <SSN> on file")
    assert(out(2L).getAs[Long]("n_cards") === 1L)
    assert(out(2L).getAs[Long]("n_ssns") === 1L)
    assert(out(2L).getAs[String]("redacted") === "card <CARD> and ssn <SSN>")
    assert(out(3L).getAs[Long]("n_cards") === 0L)
    assert(out(3L).getAs[Long]("n_ssns") === 0L)
    assert(out(3L).getAs[String]("redacted") === "bad 1234-5678-9012-3456 kept")
  }

  test("native luhn_valid = the HOF fold on candidate-shaped inputs; digit-less is false") {
    import org.apache.spark.sql.functions.{call_function, col}
    // candidate-shaped inputs (≥1 digit, optional separators) — the only
    // shape CardRe can hand either implementation; includes valid cards,
    // near-misses, every separator mix, and odd/even digit counts
    val cands = Seq(
      "4111111111111111", "4111 1111 1111 1111", "4111-1111-1111-1111",
      "4111111111111112", "378282246310005", "5555 5555 5555 4444",
      "1234-5678-9012-3456", "0", "00", "059", "59", "1234567",
      "9 9 9 9", "42-42", "79927398713", "79927398710")
    val df = cands.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "cand")
    val native = df.select(col("id"), call_function("luhn_valid", col("cand")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val hof = df.select(col("id"), luhnValidHof(col("cand")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(native === hof)
    // reference anchors: 79927398713 is the canonical Luhn-valid test
    // number, its 0-suffix twin is not; "0" alone is valid (sum 0)
    assert(native(cands.indexOf("79927398713").toLong) === true)
    assert(native(cands.indexOf("79927398710").toLong) === false)
    assert(native(cands.indexOf("0").toLong) === true)
    // digit-less input: nothing to validate is NOT valid (native only —
    // CardRe never hands a digit-less candidate to either path)
    val edge = Seq((1L, "no digits at all"), (2L, ""), (3L, "- -"))
      .toDF("id", "cand")
      .select(col("id"), call_function("luhn_valid", col("cand")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(edge === Map(1L -> false, 2L -> false, 3L -> false))
  }

  test("piiScrub edges: word boundaries, over-long phones, NULL text") {
    val out = Pii.piiScrub(docs(
      (1L, "version 1.2.3.4.5 and build 1.2.3"),    // quad matches, .5 tail doesn't re-match
      (2L, "+123456 is too short, +1234567890123456 too long"),
      (3L, null)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_ips") === 1L)
    assert(out(1L).getAs[String]("redacted") === "version <IP>.5 and build 1.2.3")
    // {7,15} is greedy: 16 digits match their 15-digit prefix; the point
    // of the bound is not consuming arbitrary numeric blobs beyond it
    assert(out(2L).getAs[Long]("n_phones") === 1L)
    assert(out(2L).getAs[String]("redacted")
      === "+123456 is too short, <PHONE>6 too long")
    assert(out(3L).isNullAt(out(3L).fieldIndex("n_pii")))
    assert(out(3L).isNullAt(out(3L).fieldIndex("redacted")))
  }
}
