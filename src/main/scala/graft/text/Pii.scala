package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection + redaction over `documents(doc_id, text, …)` — the
  * scrubbing pass a training-data pipeline runs before anything else
  * ships: count and mask email addresses, credit-card numbers
  * (Luhn-validated), US-SSN-shaped ids, IPv4 literals, and
  * plus-prefixed phone numbers.
  *
  * Pattern discipline: every regex is written in the Java-regex ∩ RE2
  * portable subset (explicit `[0-9]` classes — `\d` and `\s` are NOT
  * portable, see [[TextAnalysis.WsChars]]; `\b` is ASCII word-boundary
  * in both engines; no lookarounds — RE2 has none), so the DuckDB
  * oracle matches byte-for-byte (card/SSN cases probed: separators,
  * glued letters, 20-digit runs, card-vs-SSN adjacency all agree).
  * Detection counts come from the ORIGINAL text (an IPv4 inside an
  * email host counts as both); redaction is sequential
  * email → card → SSN → IP → phone, identically ordered in both
  * engines, so an address consumed by `<EMAIL>` is not re-masked as an
  * IP and a card's digit run is not re-masked as a phone.
  *
  * Cards are the one pattern a regex alone cannot decide: a 13–19-digit
  * run with optional single space/dash separators is a CANDIDATE, and
  * only candidates whose digits pass the Luhn checksum count/mask —
  * the checksum is the precision filter that keeps invoice numbers and
  * tracking ids out of `<CARD>` (a planted Luhn-failing near-miss must
  * NOT flag). The checksum runs per candidate (a native walk over ≤19
  * digits inside a per-row `filter`), and masking is a literal replace
  * of each validated candidate — an identical-bytes run elsewhere in
  * the same doc is also masked, the trade of conditional redaction
  * without lookarounds (both engines agree on it).
  *
  * Scale shape: pure per-row map work, zero shuffle; the regexes are
  * codegen'd; the candidate filter and conditional replace are
  * interpreted HOFs that touch only matched candidates (~0 rows on
  * clean corpora).
  * NULL text null-propagates through counts, verdict, and redaction
  * (same policy as [[TextAnalysis.fingerprints]]: NULL is not "clean").
  */
object Pii {

  /** user@host.tld with the usual atom characters; 2+ alpha TLD. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted quad, word-bounded so trailing octets don't re-match. */
  val Ipv4Re: String = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** E.164-ish: plus-prefixed run of 7..15 digits (bare digit runs are
    * ids/quantities far more often than phones — precision over recall). */
  val PhoneRe: String = "\\+[0-9]{7,15}"
  /** Card CANDIDATE: 13–19 digits, each optionally followed by one space
    * or dash, word-bounded (a 20+-digit run matches nowhere — probed in
    * both engines). Luhn decides; the regex only proposes. */
  val CardRe: String = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"
  /** US-SSN-shaped national id: the dashed 3-2-4 form only (the bare
    * 9-digit form is indistinguishable from ids/zip+4 noise — precision
    * over recall, like [[PhoneRe]]). */
  val SsnRe: String = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** The Luhn-validated card candidates of `text`, in match order
    * (duplicates preserved — each occurrence counts). The checksum is the
    * native [[graft.functions.LuhnValidOfText]]: one allocation-free byte
    * walk with the separator skip folded in; PiiSpec pins it equal to
    * the interpreted Luhn fold on valid/invalid/separator inputs. */
  private def validCards(df: DataFrame, text: Column): Column =
    filter(regexp_extract_all(text, lit(CardRe), lit(0)),
      c => graft.GraftExtensions.call(df, "luhn_valid", c))

  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        validCards(docs, col("text")).as("vc"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        // explicit NULL-text branch: size(NULL) is NULL under ANSI but -1
        // under legacy sizeOfNull — this spelling propagates NULL (the
        // "NULL is not clean" policy) in EITHER session config
        when(col("text").isNull, lit(null))
          .otherwise(size(col("vc"))).cast("long").as("n_cards"),
        regexp_count(col("text"), lit(SsnRe)).cast("long").as("n_ssns"),
        regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(
              // conditional card mask: literal replace of each validated
              // candidate, folded over the (usually empty) candidate list
              aggregate(col("vc"),
                regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
                (acc, c) => call_function("replace", acc, c, lit("<CARD>"))),
              lit(SsnRe), lit("<SSN>")),
            lit(Ipv4Re), lit("<IP>")),
          lit(PhoneRe), lit("<PHONE>")).as("redacted"))
      .withColumn("n_pii",
        col("n_emails") + col("n_cards") + col("n_ssns") + col("n_ips") +
          col("n_phones"))
      .withColumn("has_pii", col("n_pii") > 0L)
      .select(col("doc_id"), col("n_emails"), col("n_cards"), col("n_ssns"),
        col("n_ips"), col("n_phones"), col("n_pii"), col("has_pii"),
        col("redacted"))

  /** The Luhn fold as one DuckDB boolean expression over candidate `c`. */
  private def luhnSql(c: String): String = {
    val d = s"regexp_replace($c, '[^0-9]', '', 'g')"
    val dig = s"(ascii(substr($d, i, 1)) - 48)"
    s"""(list_sum(list_transform(range(1, length($d) + 1), i ->
       |      CASE WHEN (length($d) - i) % 2 = 1
       |        THEN CASE WHEN 2 * $dig > 9 THEN 2 * $dig - 9 ELSE 2 * $dig END
       |        ELSE $dig END)) % 10 = 0)""".stripMargin
  }

  def piiScrubSql: String =
    s"""WITH v AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_extract_all(text, '$CardRe'),
       |      c -> ${luhnSql("c")}) AS vc
       |  FROM documents
       |), p AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |    CAST(len(vc) AS BIGINT) AS n_cards,
       |    CAST(len(regexp_extract_all(text, '$SsnRe')) AS BIGINT) AS n_ssns,
       |    CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |    CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |    regexp_replace(regexp_replace(regexp_replace(
       |      list_reduce(
       |        list_prepend(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), vc),
       |        (a, b) -> replace(a, b, '<CARD>')),
       |      '$SsnRe', '<SSN>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS redacted
       |  FROM v
       |)
       |SELECT doc_id, n_emails, n_cards, n_ssns, n_ips, n_phones,
       |  n_emails + n_cards + n_ssns + n_ips + n_phones AS n_pii,
       |  n_emails + n_cards + n_ssns + n_ips + n_phones > 0 AS has_pii,
       |  redacted
       |FROM p
       |ORDER BY doc_id, n_emails, n_cards, n_ssns, n_ips, n_phones, n_pii,
       |  has_pii, redacted""".stripMargin
}
