package graft.text

import org.apache.spark.sql.DataFrame

/** The text family as SPARK SQL text (round-9 verdict directive #4) —
  * the spellings a SQL-first user runs over a registered `documents`
  * view, restricted to the CHECKPOINT-FREE operators (pure projections
  * and single-shuffle aggregates; the checkpointed families — BPE,
  * TF-IDF, dedup — run eager intermediate materializations no SQL text
  * expresses). Each spelling is pinned to its DataFrame twin by
  * GraphSqlSpec's sweep: canonicalized physical-plan EQUALITY plus
  * result agreement, so SQL users inherit the exact plans (widen
  * repartition included, via an explicit `REPARTITION` hint mirroring
  * [[graft.Tables.widenFactor]]'s decision) with no second plan to
  * maintain.
  *
  * Spelling disciplines that make plan equality hold:
  *  - lambda variables use the names `functions.scala` generates
  *    (`x` for unary HOFs, `acc, x` where the DSL names them so);
  *  - double literals carry the `D` suffix (`0.5` alone parses as
  *    DECIMAL in Spark SQL), longs the `L` suffix where the DSL used
  *    `lit(0L)`;
  *  - regex/string literals escape backslashes (`\d` → `'\\d'`);
  *  - constant arrays are written `array(...)` — constant folding
  *    collapses them to the same `Literal` the DSL's `typedLit` built.
  */
object TextSql {

  /** Register the raw documents relation for the SQL entries, with the
    * native functions they call by name (`fold_marks`, `luhn_valid`,
    * `tok_hashes_of_text`) registered in the same session. */
  def registerDocuments(docs: DataFrame): Unit = {
    docs.createOrReplaceTempView("documents")
    graft.GraftExtensions.ensure(docs.sparkSession)
  }

  /** Spark-SQL string literal (backslashes + quotes escaped). */
  private def q(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The widen twin: `REPARTITION(n)` over the bare view when
    * [[graft.Tables.widenFactor]] says the DataFrame side repartitions. */
  private def wide(w: Option[Int]): String =
    w.map(n => s"(SELECT /*+ REPARTITION($n) */ * FROM documents)")
      .getOrElse("documents")

  private def toksOf(t: String): String =
    s"regexp_extract_all(lower($t), ${q(TextAnalysis.TokenRe)}, 0)"

  private def inList(words: Seq[String]): String =
    words.map(q).mkString("(", ", ", ")")

  /** Spark-SQL twin of [[TextAnalysis.textStats]]. */
  def textStatsSparkSql: String = {
    def ratio(c: String) = s"CASE WHEN n_tokens = 0L THEN NULL ELSE $c END"
    s"""WITH t AS (
       |  SELECT doc_id, ${toksOf("text")} AS toks,
       |    CAST(length(text) AS BIGINT) AS char_count
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, char_count,
       |    CAST(size(toks) AS BIGINT) AS n_tokens,
       |    CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |    aggregate(toks, 0L, (acc, x) -> acc + length(x)) AS sum_tok_len,
       |    CAST(size(filter(toks, x -> x IN ${inList(TextAnalysis.stopwordsEn)})) AS BIGINT) AS stop_hits
       |  FROM t
       |)
       |SELECT doc_id, char_count, n_tokens, n_distinct_tokens,
       |  ${ratio("sum_tok_len / n_tokens")} AS avg_token_len,
       |  ${ratio("stop_hits / n_tokens")} AS stopword_ratio,
       |  ${ratio("0.5D * least(1.0D, n_tokens / 200.0D)" +
           " + 0.25D * (n_distinct_tokens / n_tokens)" +
           " + 0.25D * (1.0D - stop_hits / n_tokens)")} AS quality_score
       |FROM s""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.langId]]. */
  def langIdSparkSql: String = {
    val counts = TextAnalysis.langStop.map { case (l, words) =>
      s"CAST(size(filter(toks, x -> x IN ${inList(words)})) AS BIGINT) AS c_$l"
    }.mkString(",\n    ")
    val m = TextAnalysis.langStop.map { case (l, _) => s"c_$l" }
      .mkString("greatest(", ", ", ")")
    val pred = TextAnalysis.langStop.foldRight(q("und")) { case ((l, _), els) =>
      s"CASE WHEN c_$l = $m THEN ${q(l)} ELSE $els END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${toksOf("text")} AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, lang, toks,
       |    $counts
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN $m = 0 THEN ${q("und")} ELSE $pred END AS lang_pred,
       |  $m AS lang_hits
       |FROM c""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.langIdNgram]]. */
  def langIdNgramSparkSql: String = {
    val counts = TextAnalysis.langGrams.map { case (l, grams) =>
      grams.map { g =>
        s"CAST((length(s) - length(replace(s, ${q(g)}, ''))) / ${g.length} AS BIGINT)"
      }.mkString("(", " + ", s") AS g_$l")
    }.mkString(",\n    ")
    val m = TextAnalysis.langGrams.map { case (l, _) => s"g_$l" }
      .mkString("greatest(", ", ", ")")
    val pred = TextAnalysis.langGrams.foldRight(q("und")) { case ((l, _), els) =>
      s"CASE WHEN g_$l = $m THEN ${q(l)} ELSE $els END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang, lower(text) AS s FROM documents
       |), c AS (
       |  SELECT doc_id, lang, s,
       |    $counts
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN $m = 0 THEN ${q("und")} ELSE $pred END AS lang_pred_ngram,
       |  $m AS ngram_hits
       |FROM c""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.classifierScore]]. */
  def classifierScoreSparkSql(w: Option[Int]): String = {
    val wArr = TextAnalysis.ClassifierWeights.map(_ + "L").mkString("array(", ", ", ")")
    val th = "tok_hashes_of_text(text)"
    val margin = s"coalesce(aggregate($th, 0L, (acc, x) -> " +
      s"acc + element_at($wArr, CAST(x % ${TextAnalysis.ClassifierFeatures} AS INT) + 1)), 0L)"
    s"""SELECT doc_id, n_tokens, margin, margin > 0L AS pred_keep FROM (
       |  SELECT doc_id,
       |    CAST(greatest(coalesce(size($th), 0), 0) AS BIGINT) AS n_tokens,
       |    $margin AS margin
       |  FROM ${wide(w)}
       |)""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.textNormalize]]. */
  def textNormalizeSparkSql(w: Option[Int]): String =
    s"""SELECT doc_id, norm_text,
       |  coalesce(norm_text <> lowered, false) AS changed
       |FROM (
       |  SELECT doc_id, lower(text) AS lowered,
       |    fold_marks(lower(text)) AS norm_text
       |  FROM ${wide(w)}
       |)""".stripMargin

  /** Spark-SQL twin of [[TextAnalysis.corpusHistogram]]. */
  def corpusHistogramSparkSql(w: Option[Int]): String = {
    // the DSL twin INLINES the token-count expression into every band
    // comparison (one projection) — reference the expression, not a
    // named column, or the plans split into two uncollapsible projects
    val n = s"CAST(greatest(coalesce(size(${toksOf("text")}), 0), 0) AS BIGINT)"
    val band = TextAnalysis.HistogramBands.foldLeft("0L") { (acc, b) =>
      s"CASE WHEN $n >= ${b}L THEN ${b}L ELSE $acc END"
    }
    s"""SELECT lang, band_lo, count(1) AS n_docs, sum(n_tok) AS total_tokens
       |FROM (
       |  SELECT lang, $n AS n_tok, $band AS band_lo FROM ${wide(w)}
       |)
       |GROUP BY lang, band_lo""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.tokenProfile]]. */
  def tokenProfileSparkSql: String =
    s"""SELECT doc_id, n_alpha_tokens, n_num_tokens, n_sym_tokens,
       |  n_alpha_tokens + n_num_tokens + n_sym_tokens AS n_bpe_tokens
       |FROM (
       |  SELECT doc_id,
       |    CAST(regexp_count(lower(text), '[a-z]+') AS BIGINT) AS n_alpha_tokens,
       |    CAST(regexp_count(text, '[0-9]+') AS BIGINT) AS n_num_tokens,
       |    CAST(regexp_count(lower(text), ${q(TextAnalysis.SymRe)}) AS BIGINT) AS n_sym_tokens
       |  FROM documents
       |)""".stripMargin

  /** Spark-SQL twin of [[TextAnalysis.fingerprints]]. */
  def fingerprintsSparkSql(w: Option[Int]): String = {
    val powArr = "array(1L, 31L, 961L, 29791L, 923521L, 28629151L)"
    val P = graft.functions.PortableHash.P
    s"""SELECT doc_id,
       |  md5(trim(regexp_replace(lower(text), ${q(TextAnalysis.WsRunRe)}, ' '))) AS fp_md5,
       |  aggregate(
       |    tok_hashes_of_text(text),
       |    struct(0L AS pos, 0L AS acc),
       |    (acc, x) -> struct(
       |      acc.pos + 1L AS pos,
       |      (acc.acc + ((x % 1000000L) * element_at($powArr,
       |        CAST((acc.pos % 6) + 1 AS INT)) % ${P}L)) % ${P}L AS acc),
       |    acc -> acc.acc) AS fp_rolling
       |FROM ${wide(w)}""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.corpusStats]]. */
  def corpusStatsSparkSql: String =
    s"""SELECT lang, source, n_docs, total_tokens, total_chars,
       |  n_distinct_docs, n_docs - n_distinct_docs AS n_dup_docs
       |FROM (
       |  SELECT lang, source, count(1) AS n_docs, sum(n_toks) AS total_tokens,
       |    sum(n_chars) AS total_chars, count(DISTINCT fp) AS n_distinct_docs
       |  FROM (
       |    SELECT lang, source,
       |      CAST(size(${toksOf("text")}) AS BIGINT) AS n_toks,
       |      CAST(length(text) AS BIGINT) AS n_chars,
       |      md5(trim(regexp_replace(lower(text), ${q(TextAnalysis.WsRunRe)}, ' '))) AS fp
       |    FROM documents
       |  )
       |  GROUP BY lang, source
       |)""".stripMargin

  /** Spark-SQL twin of [[TextAnalysis.sourceQuality]]. */
  /** The classifier margin (native `tok_hashes_of_text` by registered
    * name) — shared by the source- and domain-keyed quality twins. */
  private def marginSparkSql: String = {
    val wArr = TextAnalysis.ClassifierWeights.map(_ + "L").mkString("array(", ", ", ")")
    s"coalesce(aggregate(tok_hashes_of_text(text), 0L, (acc, x) -> " +
      s"acc + element_at($wArr, CAST(x % ${TextAnalysis.ClassifierFeatures} AS INT) + 1)), 0L)"
  }

  def sourceQualitySparkSql(w: Option[Int]): String =
    s"""SELECT source, n_docs, n_keep,
       |  n_keep / n_docs AS keep_frac, sum_margin / n_docs AS mean_margin
       |FROM (
       |  SELECT source, count(1) AS n_docs,
       |    sum(CASE WHEN margin > 0L THEN 1L ELSE 0L END) AS n_keep,
       |    sum(margin) AS sum_margin
       |  FROM (SELECT source, $marginSparkSql AS margin FROM ${wide(w)})
       |  GROUP BY source
       |)""".stripMargin

  /** Spark-SQL twin of [[Domains.domainQuality]] — the same rollup
    * keyed on the extracted registrable domain (the host synthesis and
    * the PSL longest-match inlined textually, matching the Column
    * tree's own duplication). */
  def domainQualitySparkSql(w: Option[Int]): String = {
    val domain = Domains.registrableDomainSparkSql(Domains.hostSparkSql)
    s"""SELECT domain, n_docs, n_keep,
       |  n_keep / n_docs AS keep_frac, sum_margin / n_docs AS mean_margin
       |FROM (
       |  SELECT domain, count(1) AS n_docs,
       |    sum(CASE WHEN margin > 0L THEN 1L ELSE 0L END) AS n_keep,
       |    sum(margin) AS sum_margin
       |  FROM (SELECT $domain AS domain, $marginSparkSql AS margin FROM ${wide(w)})
       |  GROUP BY domain
       |)""".stripMargin
  }

  /** Spark-SQL twin of [[Domains.domainDedup]] — the exact-dup election
    * joined back and attributed per registrable domain. */
  def domainDedupSparkSql(w: Option[Int]): String = {
    val domain = Domains.registrableDomainSparkSql(Domains.hostSparkSql)
    val fp = normMd5SparkSql("text")
    s"""SELECT domain, n_docs, n_dup_docs,
       |  (n_dup_docs * 1000000L) div n_docs AS dup_rate_millionths
       |FROM (
       |  SELECT domain, count(1) AS n_docs,
       |    sum(CASE WHEN doc_id != keeper_doc_id THEN 1L ELSE 0L END) AS n_dup_docs
       |  FROM (SELECT doc_id, $domain AS domain, $fp AS fp_md5 FROM ${wide(w)})
       |  JOIN (SELECT fp_md5, min(doc_id) AS keeper_doc_id
       |        FROM (SELECT doc_id, $fp AS fp_md5 FROM ${wide(w)})
       |        GROUP BY fp_md5) USING (fp_md5)
       |  GROUP BY domain
       |)""".stripMargin
  }

  /** Spark-SQL twin of [[Domains.domainQuota]] — best-quality-first
    * row_number under the domain key, capped per publisher. */
  def domainQuotaSparkSql(w: Option[Int]): String = {
    val domain = Domains.registrableDomainSparkSql(Domains.hostSparkSql)
    s"""SELECT domain, rnk, doc_id, quality_score
       |FROM (
       |  SELECT doc_id, quality_score, domain,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY quality_score DESC NULLS LAST, doc_id ASC) AS BIGINT) AS rnk
       |  FROM (SELECT doc_id, quality_score FROM ($textStatsSparkSql))
       |  JOIN (SELECT doc_id, $domain AS domain FROM ${wide(w)}) USING (doc_id)
       |)
       |WHERE rnk <= ${Domains.DomainQuotaN}L""".stripMargin
  }

  private def normMd5SparkSql(t: String): String =
    s"md5(trim(regexp_replace(lower($t), ${q(TextAnalysis.WsRunRe)}, ' ')))"

  private def dupClustersOver(fp: String): String =
    s"""SELECT fp_md5, cluster_size, keeper_doc_id,
       |  cluster_size - 1L AS n_dups
       |FROM (
       |  SELECT fp_md5, count(1) AS cluster_size, min(doc_id) AS keeper_doc_id
       |  FROM (SELECT doc_id, $fp AS fp_md5 FROM documents)
       |  GROUP BY fp_md5
       |)""".stripMargin

  /** Spark-SQL twin of [[Dedup.exactDupClusters]]. */
  def exactDupClustersSparkSql: String =
    dupClustersOver(normMd5SparkSql("text"))

  /** Spark-SQL twin of [[Dedup.exactDupClustersNorm]] (the accent-folded
    * dedup key — `fold_marks` by registered name). */
  def exactDupClustersNormSparkSql: String =
    dupClustersOver(
      s"md5(trim(regexp_replace(fold_marks(lower(text)), ${q(TextAnalysis.WsRunRe)}, ' ')))")

  /** Spark-SQL twin of [[Pii.piiScrub]]. */
  def piiScrubSparkSql: String = {
    val vc = s"filter(regexp_extract_all(text, ${q(Pii.CardRe)}, 0), x -> luhn_valid(x))"
    s"""SELECT doc_id, n_emails, n_cards, n_ssns, n_ips, n_phones,
       |  n_pii, n_pii > 0L AS has_pii, redacted
       |FROM (
       |SELECT *, n_emails + n_cards + n_ssns + n_ips + n_phones AS n_pii
       |FROM (
       |  SELECT doc_id,
       |    CAST(regexp_count(text, ${q(Pii.EmailRe)}) AS BIGINT) AS n_emails,
       |    CAST(CASE WHEN text IS NULL THEN NULL ELSE size(vc) END AS BIGINT) AS n_cards,
       |    CAST(regexp_count(text, ${q(Pii.SsnRe)}) AS BIGINT) AS n_ssns,
       |    CAST(regexp_count(text, ${q(Pii.Ipv4Re)}) AS BIGINT) AS n_ips,
       |    CAST(regexp_count(text, ${q(Pii.PhoneRe)}) AS BIGINT) AS n_phones,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          aggregate(vc,
       |            regexp_replace(text, ${q(Pii.EmailRe)}, ${q("<EMAIL>")}),
       |            (acc, x) -> replace(acc, x, ${q("<CARD>")})),
       |          ${q(Pii.SsnRe)}, ${q("<SSN>")}),
       |        ${q(Pii.Ipv4Re)}, ${q("<IP>")}),
       |      ${q(Pii.PhoneRe)}, ${q("<PHONE>")}) AS redacted
       |  FROM (SELECT doc_id, text, $vc AS vc FROM documents)
       |))""".stripMargin
  }

  /** Spark-SQL twin of [[TextAnalysis.qualityRules]]. */
  def qualityRulesSparkSql(w: Option[Int]): String = {
    val txt = "coalesce(text, '')"
    val toks = toksOf(txt)
    val lines = s"filter(transform(split($txt, ${q("\n")}), x -> trim(x)), x -> x <> '')"
    def occ(removed: String, width: Int) =
      s"CAST((length($txt) - length($removed)) / $width AS BIGINT)"
    val stopArr = TextAnalysis.stopwordsEn.map(q).mkString("array(", ", ", ")")
    import TextAnalysis._
    s"""SELECT *,
       |  r_word_count AND r_mean_len AND r_symbol AND r_bullet AND
       |    r_ellipsis AND r_alpha AND r_stopwords AS gopher_keep
       |FROM (
       |SELECT *,
       |  coalesce(mean_word_len >= ${GopherMinMeanLen}D AND mean_word_len <= ${GopherMaxMeanLen}D, false) AS r_mean_len,
       |  coalesce(symbol_ratio <= ${GopherMaxSymbolRatio}D, false) AS r_symbol,
       |  coalesce(bullet_frac <= ${GopherMaxBulletFrac}D, true) AS r_bullet,
       |  coalesce(ellipsis_frac <= ${GopherMaxEllipsisFrac}D, true) AS r_ellipsis,
       |  coalesce(alpha_frac >= ${GopherMinAlphaFrac}D, false) AS r_alpha,
       |  stop_types >= ${GopherMinStopTypes}L AS r_stopwords
       |FROM (
       |SELECT doc_id, n_words, stop_types,
       |  CASE WHEN n_words > 0L THEN sum_word_len / n_words END AS mean_word_len,
       |  CASE WHEN n_words > 0L THEN n_symbols / n_words END AS symbol_ratio,
       |  CASE WHEN n_lines > 0L THEN bullet_lines / n_lines END AS bullet_frac,
       |  CASE WHEN n_lines > 0L THEN ellipsis_lines / n_lines END AS ellipsis_frac,
       |  CASE WHEN n_words > 0L THEN alpha_words / n_words END AS alpha_frac,
       |  n_words >= ${GopherMinWords}L AND n_words <= ${GopherMaxWords}L AS r_word_count
       |FROM (
       |SELECT doc_id,
       |  CAST(size($toks) AS BIGINT) AS n_words,
       |  aggregate($toks, 0L, (acc, x) -> acc + length(x)) AS sum_word_len,
       |  CAST(size(filter($toks, x -> x RLIKE '[a-z]')) AS BIGINT) AS alpha_words,
       |  CAST(size(array_intersect(array_distinct($toks), $stopArr)) AS BIGINT) AS stop_types,
       |  CAST(size($lines) AS BIGINT) AS n_lines,
       |  CAST(size(filter($lines, x -> substring(x, 1, 1) IN ('-', '*', '•'))) AS BIGINT) AS bullet_lines,
       |  CAST(size(filter($lines, x -> endswith(x, '...') OR endswith(x, '…'))) AS BIGINT) AS ellipsis_lines,
       |  ${occ(s"translate($txt, '#', '')", 1)} + ${occ(s"translate($txt, '…', '')", 1)} +
       |    ${occ(s"regexp_replace($txt, ${q("\\.\\.\\.")}, '')", 3)} AS n_symbols
       |FROM ${wide(w)}
       |)))""".stripMargin
  }
}
