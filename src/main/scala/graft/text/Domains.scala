package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SessionCache.{PlanKey, planKey}

/** Registrable-domain curation axis — real web curation keys its
  * quotas, blocklists, and quality rollups on the REGISTRABLE DOMAIN
  * of a document's URL (eTLD+1 per the public-suffix list: everything
  * under `www.`, `cdn.news.`, `a.b.c.` collapses onto one publisher),
  * not on a feed label. This module adds that axis next to the
  * source-keyed family ([[TextAnalysis.sourceQuality]],
  * [[Curation.sourceQuota]]):
  *
  *  - [[registrableDomain]] — a PORTABLE extraction expression over a
  *    bare host: longest-match against a LITERAL embedded public-suffix
  *    subset (the stopword-profile discipline — the list is pinned in
  *    the code, identical in both engines; a production deployment
  *    swaps in the full Mozilla PSL as a broadcast relation without
  *    changing the shape). Two-label suffixes (`co.uk`…) are checked
  *    before one-label ones, unmatched hosts fall back to the whole
  *    host (conservative: never merges two unknown publishers).
  *  - [[asWebTable]] — the fixture ships no URL column, so ingestion
  *    synthesizes one deterministically from (doc_id, source) (the
  *    [[graft.multimodal.Media.asContainerTable]] discipline), with
  *    doc_id cycling subdomain depth 0–3 and the suffix across
  *    `.com`/`.co.uk`/`.org` — the oracle-gated rows prove the
  *    extraction on multi-label subdomains and multi-label suffixes in
  *    BOTH engines.
  *  - [[domainQuality]] / [[domainQuota]] — the source-keyed rollup and
  *    quota re-keyed on the registrable domain.
  *
  * Scale shape: extraction is per-row string splitting inside codegen
  * (no UDF, no join against a suffix table at this subset size — the
  * full PSL version broadcasts ~9k suffixes and probes a map, same
  * per-row cost); the rollup/quota shapes are exactly their
  * source-keyed twins' (one partial-agg shuffle / one window on the
  * domain key, AQE covering the head domain's skew).
  */
object Domains {

  /** Embedded public-suffix SUBSET (literal in both engines): the
    * two-label entries checked before the one-label ones. A production
    * build replaces this with the full PSL — the longest-match shape is
    * already the real algorithm. */
  val PslTwoLabel: Seq[String] = Seq("co.uk", "org.uk", "ac.uk", "com.au", "co.jp")
  val PslOneLabel: Seq[String] = Seq("com", "org", "net", "io", "edu", "gov", "uk", "au", "jp")

  /** Registrable domain (eTLD+1) of a bare host column: longest PSL
    * suffix match, then one more label. Hosts with no matching suffix
    * (or too few labels) return unchanged — a conservative fallback
    * that never merges unknown publishers. */
  def registrableDomain(host: Column): Column = {
    // reversed parts + NULL-guarded label reads: element_at past the
    // end is an ERROR under ANSI (Spark 4 default), and CASE conditions
    // evaluate eagerly — so every label read is wrapped in its own
    // size guard (concat_ws skips the NULLs; the n-guards in the
    // conditions keep the semantics exact)
    val parts = reverse(split(host, "\\."))
    val n = size(parts)
    val r1 = element_at(parts, 1)
    val r2 = when(n >= 2, element_at(parts, 2))
    val r3 = when(n >= 3, element_at(parts, 3))
    val last2 = concat_ws(".", r2, r1)
    when(n >= 3 && last2.isin(PslTwoLabel: _*), concat_ws(".", r3, r2, r1))
      .when(n >= 2 && r1.isin(PslOneLabel: _*), last2)
      .otherwise(host)
  }

  /** DuckDB spelling of [[registrableDomain]] over host expression `h` —
    * same literal subset, same longest-match order. */
  def registrableDomainSql(h: String): String = {
    val two = PslTwoLabel.map(s => s"'$s'").mkString("(", ", ", ")")
    val one = PslOneLabel.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""CASE
       |  WHEN len(string_split($h, '.')) >= 3
       |    AND (string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]) IN $two
       |    THEN string_split($h, '.')[-3] || '.' || string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]
       |  WHEN len(string_split($h, '.')) >= 2
       |    AND string_split($h, '.')[-1] IN $one
       |    THEN string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]
       |  ELSE $h END""".stripMargin
  }

  // ---- caller-supplied public-suffix list (wildcard/exception rules) ------
  //
  // The real PSL is DATA — ~9k rules including `*.ck`-style wildcards
  // ("every label directly under ck is a public suffix") and `!www.ck`
  // exceptions ("…except www.ck, whose registrable domain is www.ck
  // itself") — so the production operator must accept the full list as
  // a relation, not a code literal. [[registrableDomainsFromPsl]] is
  // that operator: the published PSL algorithm (exception beats
  // everything; otherwise the rule with the most labels prevails; no
  // match ⇒ the implicit `*` rule; registrable domain = prevailing
  // public suffix + one label) over a broadcast rule relation.

  /** Longest rule the candidate explode covers, in labels — the real
    * PSL's deepest rules are 5 labels and an exception rule's key can
    * be one longer than its wildcard sibling's, so 6 covers the
    * published list with headroom. A DEEPER rule cannot silently go
    * inert (the candidate explode would simply never reach it):
    * [[normalizePsl]] raises on it, so an unsupported list fails loudly
    * instead of mis-merging publishers. */
  val MaxPslLabels: Int = 6

  /** Normalize a PSL rule relation (`rule`: the raw line — plain
    * `co.uk`, wildcard `*.ck`, exception `!www.ck`) into the join-ready
    * shape: `match_key` (the literal label suffix a host must end
    * with — the wildcard's `*.` stripped, the exception's `!`
    * stripped), `match_labels` (its label count), `min_host_labels`
    * (a wildcard needs one host label beyond its key — the label the
    * `*` consumes), `ps_labels` (the public-suffix length the rule
    * implies when it PREVAILS: the exception subtracts the label it
    * exempts), `rule_labels` (the precedence rank: most labels wins),
    * and `is_exc` (exceptions outrank everything). Pure per-row string
    * work; the result is the tiny broadcast side. */
  def normalizePsl(psl: DataFrame): DataFrame = {
    val raw = col("rule")
    val isExc = raw.startsWith("!")
    val isWild = raw.startsWith("*.")
    val key = when(isExc, expr("substr(rule, 2)"))
      .when(isWild, expr("substr(rule, 3)"))
      .otherwise(raw)
    psl
      // accept the RAW file: the published list carries `// comment`
      // and blank lines between rule blocks — a caller should be able
      // to read it line-by-line and hand it over unfiltered
      .select(trim(col("rule")).as("rule"))
      .filter(length(col("rule")) > 0 && !col("rule").startsWith("//"))
      .select(raw.as("rule"), key.as("match_key"),
        isExc.cast("long").as("is_exc"),
        size(split(key, "\\.")).cast("long").as("match_labels"),
        when(isWild, size(split(key, "\\.")) + 1)
          .otherwise(size(split(key, "\\."))).cast("long").as("rule_labels"))
      .select(col("rule"),
        // fail LOUDLY on a rule deeper than the candidate explode
        // reaches — silently-inert deep rules would mis-merge
        // publishers with no error (the mixWaterfill loud-failure rule)
        when(col("match_labels") > MaxPslLabels,
            raise_error(concat(
              lit(s"PSL rule deeper than the supported $MaxPslLabels labels: "),
              col("rule"))))
          .otherwise(col("match_key")).as("match_key"),
        col("is_exc"),
        col("match_labels"), col("rule_labels"),
        col("rule_labels").as("min_host_labels"),
        when(col("is_exc") === 1L, col("match_labels") - 1L)
          .otherwise(col("rule_labels")).as("ps_labels"))
  }

  /** `(host, domain)` over the DISTINCT hosts of a relation carrying a
    * `host` column, under a caller-supplied PSL rule relation (column
    * `rule`) — the production form of [[registrableDomain]], with full
    * wildcard/exception semantics. Per the PSL algorithm: every label
    * suffix of the host (≤ [[MaxPslLabels]] deep) probes the broadcast
    * normalized rules; the prevailing match is the exception if any,
    * else the rule with the most labels; no match falls to the
    * implicit `*` rule (public suffix = the last label). Hosts that ARE
    * a public suffix (no label left for the registrable part) fall back
    * to the host itself — [[registrableDomain]]'s conservative stance,
    * which never merges two unknown publishers.
    *
    * Scale shape: the host relation deduplicates first (the
    * word-relation discipline — extraction cost is per DISTINCT host,
    * not per document), explodes ≤ MaxPslLabels candidate suffixes
    * map-side, hash-joins the ≤9k-row broadcast rules, and collapses
    * back with one host-keyed partial agg; the caller joins the result
    * onto the corpus by host. */
  def registrableDomainsFromPsl(hosts: DataFrame, psl: DataFrame): DataFrame = {
    val rules = normalizePsl(psl)
    val h = hosts.select(col("host")).distinct()
      .select(col("host"), split(col("host"), "\\.").as("parts"))
      .select(col("host"), col("parts"), size(col("parts")).cast("long").as("n"))
    val cand = h.select(col("host"), col("parts"), col("n"),
        explode(expr(s"sequence(1L, least(n, ${MaxPslLabels}L))")).as("ck"))
      .select(col("host"), col("n"), col("ck"),
        concat_ws(".", slice(col("parts"), (col("n") - col("ck") + 1L).cast("int"),
          col("ck").cast("int"))).as("suffix"))
    val matched = cand.join(broadcast(rules),
        col("suffix") === col("match_key") &&
          col("ck") === col("match_labels") &&
          col("n") >= col("min_host_labels"))
      .groupBy(col("host"), col("n"))
      .agg(max(struct(col("is_exc"), col("rule_labels"), col("ps_labels")))
        .as("prevail"))
      .select(col("host"), col("prevail.ps_labels").as("ps"))
    h.join(matched, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("ps"), lit(1L)).as("ps"), col("parts"), col("n"))
      .select(col("host"),
        when(col("n") > col("ps"),
          concat_ws(".", slice(col("parts"), (col("n") - col("ps")).cast("int"),
            (col("ps") + 1L).cast("int"))))
          .otherwise(col("host")).as("domain"))
  }

  /** The fixture PSL — INDUCED FROM THE DATA (the `vocab_coverage_ext`
    * external-artifact discipline: the oracle must derive the identical
    * rule set, so the rules are a pure function of the corpus's
    * distinct sources): per source `s`, a plain 2-label rule `s.zz`, a
    * plain 2-label rule `s.wz`, a wildcard `*.s.wz` OVER it (3 rule
    * labels — prevails by longest-match), and an exception `!ok.s.wz`
    * (outranks both). */
  def pslFromSources(docs: DataFrame): DataFrame = {
    val srcs = graft.Tables.widen(docs).select(col("source")).distinct()
    srcs.select(concat(col("source"), lit(".zz")).as("rule"))
      .unionByName(srcs.select(concat(col("source"), lit(".wz")).as("rule")))
      .unionByName(srcs.select(concat(lit("*."), col("source"), lit(".wz")).as("rule")))
      .unionByName(srcs.select(concat(lit("!ok."), col("source"), lit(".wz")).as("rule")))
  }

  /** Synthesized host for the PSL-extraction gate — cycles through
    * every rule class and depth so the oracle-gated rows prove, in
    * BOTH engines: plain-rule grouping across subdomain depths (0/1/2
    * land on one domain), wildcard matching (the `*` consuming exactly
    * one label, deeper hosts merging), EXCEPTION-BEATS-WILDCARD (the
    * `ok.` hosts would group under a 4-label wildcard domain; the
    * exception pins them to `ok.s.wz`), the implicit `*` default for
    * unlisted suffixes, and the host-is-a-public-suffix fallback. */
  private def hostPslSql: String =
    """(CASE doc_id % 10
      |  WHEN 0 THEN source || '.zz'
      |  WHEN 1 THEN 'www.' || source || '.zz'
      |  WHEN 2 THEN 'a.www.' || source || '.zz'
      |  WHEN 3 THEN 'x.b.' || source || '.wz'
      |  WHEN 4 THEN 'z.ok.' || source || '.wz'
      |  WHEN 5 THEN 'y.x.b.' || source || '.wz'
      |  WHEN 6 THEN 'q.z.ok.' || source || '.wz'
      |  WHEN 7 THEN 'm.' || source || '.qq'
      |  WHEN 8 THEN 'n.m.' || source || '.qq'
      |  ELSE source || '.wz' END)""".stripMargin.replace("\n", " ")

  /** The synthesized PSL-exercise host for the Spark-SQL twins and the
    * PSL-threaded keep verdict ([[graft.text.Curation.corpusKeepFullExt]])
    * — the SAME text both engines parse, so the trees cannot differ. */
  private[text] def hostPslSparkSql: String = hostPslSql

  /** [[domainQuality]] under the CALLER-SUPPLIED PSL — the
    * production-true form of the domain axis: rules from
    * [[pslFromSources]] (wildcards and exceptions planted), hosts from
    * [[hostPslSql]], extraction via [[registrableDomainsFromPsl]], then
    * the same per-domain quality rollup. */
  def domainQualityExt(docs: DataFrame): DataFrame =
    pslDomains(docs)
      .select(col("domain"), TextAnalysis.marginOf(docs).as("margin"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0L, 1L).otherwise(0L)).as("n_keep"),
        sum("margin").as("sum_margin"))
      .select(col("domain"), col("n_docs"), col("n_keep"),
        (col("n_keep") / col("n_docs")).as("keep_frac"),
        (col("sum_margin") / col("n_docs")).as("mean_margin"))

  /** The shared DuckDB chain of the PSL family: rule induction from
    * distinct sources, normalization, the candidate explode, the
    * precedence sort, and the default/fallback cases — ends in
    * `hosted(doc_id, text, host)` and `dom(host, domain)`. */
  private[text] def pslDomCtesSql: String =
    s"""srcs AS (
       |  SELECT DISTINCT source FROM documents
       |), rules AS (
       |  SELECT source || '.zz' AS rule FROM srcs
       |  UNION ALL SELECT source || '.wz' FROM srcs
       |  UNION ALL SELECT '*.' || source || '.wz' FROM srcs
       |  UNION ALL SELECT '!ok.' || source || '.wz' FROM srcs
       |), norm AS (
       |  SELECT rule,
       |    CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
       |         WHEN rule LIKE '*.%' THEN substr(rule, 3)
       |         ELSE rule END AS match_key,
       |    CASE WHEN rule LIKE '!%' THEN 1 ELSE 0 END AS is_exc
       |  FROM rules
       |), normed AS (
       |  SELECT rule, match_key, is_exc,
       |    CAST(len(string_split(match_key, '.')) AS BIGINT) AS match_labels,
       |    CAST(len(string_split(match_key, '.'))
       |      + (CASE WHEN rule LIKE '*.%' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS rule_labels
       |  FROM norm
       |), ready AS (
       |  SELECT match_key, is_exc, match_labels, rule_labels,
       |    rule_labels AS min_host_labels,
       |    CASE WHEN is_exc = 1 THEN match_labels - 1
       |         ELSE rule_labels END AS ps_labels
       |  FROM normed
       |), hosted AS (
       |  SELECT doc_id, text, $hostPslSql AS host FROM documents
       |), dh AS (
       |  SELECT host, string_split(host, '.') AS parts,
       |    CAST(len(string_split(host, '.')) AS BIGINT) AS n
       |  FROM (SELECT DISTINCT host FROM hosted)
       |), pslcand AS (
       |  SELECT host, parts, n, CAST(ck AS BIGINT) AS ck,
       |    array_to_string(parts[CAST(n - ck + 1 AS INT):CAST(n AS INT)], '.')
       |      AS suffix
       |  FROM dh, UNNEST(range(1, least(n, $MaxPslLabels) + 1)) u(ck)
       |), prevail AS (
       |  SELECT host, max(struct_pack(is_exc := is_exc,
       |      rule_labels := rule_labels, ps_labels := ps_labels)) AS pv
       |  FROM pslcand JOIN ready ON suffix = match_key
       |    AND ck = match_labels AND n >= min_host_labels
       |  GROUP BY host
       |), dom AS (
       |  SELECT dh.host AS host,
       |    CASE WHEN n > coalesce(pv.ps_labels, 1)
       |      THEN array_to_string(
       |        parts[CAST(n - coalesce(pv.ps_labels, 1) AS INT):CAST(n AS INT)], '.')
       |      ELSE dh.host END AS domain
       |  FROM dh LEFT JOIN prevail ON dh.host = prevail.host
       |)""".stripMargin

  /** Oracle twin of [[domainQualityExt]] — the same rule induction,
    * candidate explode, precedence sort, and default/fallback cases in
    * DuckDB. */
  def domainQualityExtSql: String = {
    val th = s"list_transform(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}'), tk -> ${graft.functions.PortableHash.tokHashSql("tk")})"
    s"""WITH $pslDomCtesSql, scored AS (
       |  SELECT domain, ${TextAnalysis.marginSqlOf(th)} AS margin
       |  FROM hosted JOIN dom USING (host)
       |), agg AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |    CAST(sum(margin) AS BIGINT) AS sum_margin
       |  FROM scored GROUP BY domain
       |)
       |SELECT domain, n_docs, n_keep,
       |  n_keep / n_docs AS keep_frac,
       |  sum_margin / n_docs AS mean_margin
       |FROM agg
       |ORDER BY domain, n_docs, n_keep, keep_frac, mean_margin""".stripMargin
  }

  /** Session cache of the checkpointed `(host, domain)` PSL resolution
    * — THE persisted artifact of the production domain axis (a curation
    * nightly writes the resolution table next to its PSL snapshot and
    * every downstream job joins it by host; re-deriving it per face
    * re-ran the whole normalize→explode→prevail chain, ~7 broadcast
    * builds + several corpus scans, in EACH of the three `_ext` faces —
    * r17 JobProbe: 22 jobs / 2.2 s warm for `domain_dedup_ext` alone).
    * Keyed on the docs plan (the rules and hosts both derive from it);
    * capacity 2 for the corpus/shard alternation headroom the other
    * artifact caches carry. */
  private val pslDomCache = new graft.SessionCache[PlanKey, DataFrame](capacity = 2)
  private[graft] def pslDomBuilds = pslDomCache.builds

  /** The shared Spark half of the PSL family: documents → (doc_id,
    * text, domain) under the induced rule set. */
  private def pslDomains(docs: DataFrame): DataFrame = {
    val wide = graft.Tables.widen(docs)
    val hosted = wide.select(col("doc_id"), col("text"),
      expr(hostPslSql).as("host"))
    val domMap = pslDomCache.getOrBuild(docs.sparkSession,
        planKey(docs)) {
      registrableDomainsFromPsl(hosted, pslFromSources(docs)).localCheckpoint()
    }
    hosted.join(domMap, Seq("host"))
      .select(col("doc_id"), col("text"), col("domain"))
  }

  /** [[domainQuota]] under the CALLER-SUPPLIED PSL — the per-publisher
    * cap keyed on the full-algorithm extraction, so a publisher
    * sharding itself across wildcard-ruled subdomains (every
    * `<label>.s.wz` is its own public suffix) still caps per
    * REGISTRABLE domain, not per shard. Same window, same total order. */
  def domainQuotaExt(docs: DataFrame, quota: Int = DomainQuotaN): DataFrame = {
    val scored = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val withDom = scored.join(
      pslDomains(docs).select(col("doc_id"), col("domain")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id").asc)
    withDom.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= quota)
      .select(col("domain"), col("rnk"), col("doc_id"), col("quality_score"))
  }

  /** Oracle twin of [[domainQuotaExt]]. */
  def domainQuotaExtSql(quota: Int = DomainQuotaN): String =
    s"""WITH $pslDomCtesSql, t AS (
       |  SELECT doc_id, domain,
       |    regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}') AS toks
       |  FROM hosted JOIN dom USING (host)
       |), s AS (
       |  SELECT doc_id, domain,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |    CAST(len(list_filter(toks, x -> list_contains(${TextAnalysis.sqlList(TextAnalysis.stopwordsEn)}, x))) AS BIGINT) AS stop_hits
       |  FROM t
       |), q AS (
       |  SELECT doc_id, domain,
       |    0.5e0 * least(1e0, n_tokens / 200e0)
       |      + 0.25e0 * (n_distinct_tokens / n_tokens)
       |      + 0.25e0 * (1e0 - stop_hits / n_tokens) AS quality_score
       |  FROM s
       |), ranked AS (
       |  SELECT domain, doc_id, quality_score,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY quality_score DESC NULLS LAST, doc_id ASC) AS BIGINT) AS rnk
       |  FROM q
       |)
       |SELECT domain, rnk, doc_id, quality_score
       |FROM ranked WHERE rnk <= $quota
       |ORDER BY domain, rnk, doc_id, quality_score""".stripMargin

  /** [[domainDedup]] under the CALLER-SUPPLIED PSL — duplicate
    * attribution per full-algorithm registrable domain. */
  def domainDedupExt(docs: DataFrame): DataFrame = {
    // consumed twice (keeper election + join back): slim (id, domain,
    // md5) rows — the curatedBase checkpoint discipline; without it the
    // scan+normalize+md5 pass runs once per consumer
    val fp = pslDomains(docs).select(col("doc_id"), col("domain"),
      TextAnalysis.normMd5(col("text")).as("fp_md5"))
      .localCheckpoint()
    val keepers = fp.groupBy("fp_md5").agg(min("doc_id").as("keeper_doc_id"))
    fp.join(keepers, "fp_md5")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper_doc_id"), 1L).otherwise(0L))
          .as("n_dup_docs"))
      .select(col("domain"), col("n_docs"), col("n_dup_docs"),
        expr("(n_dup_docs * 1000000L) div n_docs").as("dup_rate_millionths"))
  }

  /** Oracle twin of [[domainDedupExt]]. */
  def domainDedupExtSql: String =
    s"""WITH $pslDomCtesSql, fp AS (
       |  SELECT doc_id, domain, ${TextAnalysis.normMd5Sql("text")} AS fp_md5
       |  FROM hosted JOIN dom USING (host)
       |), keepers AS (
       |  SELECT fp_md5, min(doc_id) AS keeper_doc_id FROM fp GROUP BY fp_md5
       |), g AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN doc_id <> keeper_doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dup_docs
       |  FROM fp JOIN keepers USING (fp_md5) GROUP BY domain
       |)
       |SELECT domain, n_docs, n_dup_docs,
       |  CAST((n_dup_docs * 1000000) // n_docs AS BIGINT)
       |    AS dup_rate_millionths
       |FROM g
       |ORDER BY domain, n_docs, n_dup_docs, dup_rate_millionths""".stripMargin

  /** Classifier-share floor for [[domainAutoblock]], in exact
    * millionths: a publisher whose classifier-gate pass share sits
    * under this is blocked wholesale. Sized inside the fixture's
    * keep-share spread (0.375–1.0 at the gate SF) so blocks are
    * observable where they are verified. */
  val DomainMinKeepMillionths: Long = 700000L

  /** AUDIT-DRIVEN domain blocklist — the `salted_auto`/`bloom_auto`
    * decision-as-data discipline applied to the curation axis: nobody
    * hand-writes the publisher blocklist; the corpus's own per-domain
    * classifier pass share does. One scored scan (checkpointed — it is
    * ALSO the verdict's input, so the audit pays one pass) rolls up to
    * the ≤|domains| verdict `domain_keep_millionths = n_keep·10⁶ div
    * n_docs` (exact integers — no float threshold seam), which joins
    * back per doc as a broadcast: `blocked` ⟺ the doc's publisher
    * fell under the floor. The per-doc verdict relation is what a
    * curation run persists next to its keep log: re-tuning the floor
    * is a re-filter of this relation, not a re-score.
    *
    * Scale shape: one corpus scan + one domain-keyed partial agg + a
    * broadcast join back (the verdict is ≤|domains| rows by
    * construction); no window, no second text pass. */
  def domainAutoblock(docs: DataFrame,
      minKeepMillionths: Long = DomainMinKeepMillionths): DataFrame = {
    val scored = asWebTable(docs)
      .select(col("doc_id"), col("domain"),
        TextAnalysis.marginOf(docs).as("margin"))
      .localCheckpoint()
    scored.select(col("doc_id"), col("domain"))
      .join(broadcast(verdictOf(scored)), Seq("domain"))
      .select(col("doc_id"), col("domain"), col("domain_keep_millionths"),
        (col("domain_keep_millionths") < minKeepMillionths).as("blocked"))
  }

  private def verdictOf(scored: DataFrame): DataFrame =
    scored.groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0L, 1L).otherwise(0L)).as("n_keep"))
      .select(col("domain"),
        expr("(n_keep * 1000000L) div n_docs").as("domain_keep_millionths"))

  /** The PERSISTABLE blocklist artifact behind [[domainAutoblock]]:
    * `(domain, domain_keep_millionths)`, ≤|domains| rows — what a
    * curation nightly writes next to its keep log and [[blockGate]]
    * probes at ingest. */
  def domainBlockVerdict(docs: DataFrame): DataFrame =
    verdictOf(asWebTable(docs).select(col("doc_id"), col("domain"),
      TextAnalysis.marginOf(docs).as("margin")))

  /** STATELESS ingest-time blocklist gate — the
    * [[graft.text.Mixture.mixGate]] discipline for the publisher
    * blocklist: each arriving doc's registrable domain (per-row codegen
    * extraction — no state, no watermark, no text pass beyond what the
    * caller carries) probes the PERSISTED [[domainBlockVerdict]]
    * relation by a stream-static broadcast LEFT join; a publisher
    * ABSENT from the artifact is NOT blocked (no evidence — the
    * conservative default for a blocklist, the mirror image of
    * mixGate's admit-nothing default for an allowlist-shaped plan).
    * Runs unchanged on a `readStream` of arriving (doc_id, source)
    * rows; spec pins stream flags ≡ batch flags ≡ [[domainAutoblock]]'s
    * on the artifact's own corpus. */
  def blockGate(docs: DataFrame, verdict: DataFrame,
      minKeepMillionths: Long = DomainMinKeepMillionths): DataFrame =
    docs.withColumn("domain", registrableDomain(expr(hostSql)))
      .join(broadcast(verdict), Seq("domain"), "left")
      .withColumn("blocked",
        coalesce(col("domain_keep_millionths") < minKeepMillionths,
          lit(false)))
      .drop("domain_keep_millionths")

  /** Oracle twin of [[domainAutoblock]]. */
  def domainAutoblockSql(
      minKeepMillionths: Long = DomainMinKeepMillionths): String = {
    val th = s"list_transform(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}'), tk -> ${graft.functions.PortableHash.tokHashSql("tk")})"
    s"""WITH w AS (
       |  SELECT doc_id, ${registrableDomainSql(hostSparkSql)} AS domain,
       |    ${TextAnalysis.marginSqlOf(th)} AS margin
       |  FROM documents
       |), v AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |  FROM w GROUP BY domain
       |), b AS (
       |  SELECT domain,
       |    CAST((n_keep * 1000000) // n_docs AS BIGINT) AS domain_keep_millionths
       |  FROM v
       |)
       |SELECT doc_id, domain, domain_keep_millionths,
       |  domain_keep_millionths < $minKeepMillionths AS blocked
       |FROM w JOIN b USING (domain)
       |ORDER BY doc_id, domain, domain_keep_millionths, blocked""".stripMargin
  }

  /** Synthesized host as a SQL fragment over a documents row — one body
    * for both engines (plain CASE/|| only). doc_id % 4 cycles the
    * subdomain depth (bare, www., cdn.news., a.b.c.) and doc_id % 3 the
    * suffix (.com / .co.uk / .org), so every registrable domain
    * `source + suffix` arrives under FOUR different hosts — the planted
    * multi-subdomain fixture the grouping proof needs. */
  private def hostSql: String =
    """(CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'www.'
      |  WHEN 2 THEN 'cdn.news.' ELSE 'a.b.c.' END
      | || source ||
      | CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
      |  ELSE '.org' END)""".stripMargin.replace("\n", " ")

  /** The synthesized host fragment for the Spark-SQL twins — the SAME
    * text [[asWebTable]] parses via `expr`, so the trees cannot
    * differ. */
  private[text] def hostSparkSql: String = hostSql

  /** Spark-SQL spelling of [[registrableDomain]] with the host
    * expression textually inlined at EVERY reference — exactly the tree
    * the Column builder produces (each Scala `parts`/`host` reference
    * duplicates the expression; Catalyst sees the same duplication
    * either way, which is what the plan-equality sweep pins). */
  def registrableDomainSparkSql(h: String): String = {
    val parts = s"reverse(split($h, '\\\\.'))"
    val n = s"size($parts)"
    val r1 = s"element_at($parts, 1)"
    val r2 = s"CASE WHEN $n >= 2 THEN element_at($parts, 2) END"
    val r3 = s"CASE WHEN $n >= 3 THEN element_at($parts, 3) END"
    val last2 = s"concat_ws('.', $r2, $r1)"
    val two = PslTwoLabel.map(x => s"'$x'").mkString("(", ", ", ")")
    val one = PslOneLabel.map(x => s"'$x'").mkString("(", ", ", ")")
    s"CASE WHEN $n >= 3 AND $last2 IN $two" +
      s" THEN concat_ws('.', $r3, $r2, $r1)" +
      s" WHEN $n >= 2 AND $r1 IN $one THEN $last2 ELSE $h END"
  }

  /** Ingestion: documents → web-lake schema `(doc_id, url, host,
    * domain, source, …)` with the deterministic synthesized URL. */
  def asWebTable(docs: DataFrame): DataFrame = {
    val wide = graft.Tables.widen(docs)
    val host = expr(hostSql)
    wide.select(col("doc_id"), col("text"), col("lang"), col("source"),
      concat(lit("https://"), host, lit("/doc/"), col("doc_id")).as("url"),
      host.as("host"),
      registrableDomain(host).as("domain"))
  }

  /** Per-registrable-domain quality rollup — [[TextAnalysis.sourceQuality]]
    * re-keyed on the domain: counts, classifier-gate pass counts, exact
    * mean margin. The grouping key is the EXTRACTED domain, so all
    * subdomain variants of one publisher land in one row. */
  def domainQuality(docs: DataFrame): DataFrame =
    asWebTable(docs)
      .select(col("domain"), TextAnalysis.marginOf(docs).as("margin"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") > 0L, 1L).otherwise(0L)).as("n_keep"),
        sum("margin").as("sum_margin"))
      .select(col("domain"), col("n_docs"), col("n_keep"),
        (col("n_keep") / col("n_docs")).as("keep_frac"),
        (col("sum_margin") / col("n_docs")).as("mean_margin"))

  /** Oracle twin of [[domainQuality]]. */
  def domainQualitySql: String = {
    val th = s"list_transform(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}'), tk -> ${graft.functions.PortableHash.tokHashSql("tk")})"
    s"""WITH w AS (
       |  SELECT ${registrableDomainSql(hostSql)} AS domain, text
       |  FROM documents
       |), h AS (
       |  SELECT domain, ${TextAnalysis.marginSqlOf(th)} AS margin
       |  FROM w
       |), agg AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |    CAST(sum(margin) AS BIGINT) AS sum_margin
       |  FROM h GROUP BY domain
       |)
       |SELECT domain, n_docs, n_keep,
       |  n_keep / n_docs AS keep_frac,
       |  sum_margin / n_docs AS mean_margin
       |FROM agg
       |ORDER BY domain, n_docs, n_keep, keep_frac, mean_margin""".stripMargin
  }

  /** Per-registrable-domain duplicate attribution —
    * [[Dedup.dedupBySource]] re-keyed on the domain: per publisher, its
    * doc count, how many of its docs lose the exact-dup election
    * (normalized-content MD5, min-doc_id keeper), and the exact dup
    * rate. THE curation question the feed label cannot answer: a
    * publisher syndicating itself across `www.`/`cdn.`/mirror
    * subdomains looks like distinct sources until the key is the
    * registrable domain.
    *
    * Scale shape: identical to the source-keyed twin — one fingerprint
    * scan, one fp-keyed partial agg, one fp-keyed join back, one
    * domain-keyed partial agg; the extraction adds per-row codegen
    * string work, no new shuffle. */
  def domainDedup(docs: DataFrame): DataFrame = {
    // NO checkpoint here (unlike [[domainDedupExt]]): this face is in
    // the plan-equality audit's checkpoint-free family — its Spark-SQL
    // twin pins the exact plan
    val fp = asWebTable(docs).select(col("doc_id"), col("domain"),
      TextAnalysis.normMd5(col("text")).as("fp_md5"))
    val keepers = fp.groupBy("fp_md5").agg(min("doc_id").as("keeper_doc_id"))
    fp.join(keepers, "fp_md5")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper_doc_id"), 1L).otherwise(0L))
          .as("n_dup_docs"))
      .select(col("domain"), col("n_docs"), col("n_dup_docs"),
        expr("(n_dup_docs * 1000000L) div n_docs").as("dup_rate_millionths"))
  }

  /** Oracle twin of [[domainDedup]]. */
  def domainDedupSql: String =
    s"""WITH fp AS (
       |  SELECT doc_id, ${registrableDomainSql(hostSql)} AS domain,
       |    ${TextAnalysis.normMd5Sql("text")} AS fp_md5
       |  FROM documents
       |), keepers AS (
       |  SELECT fp_md5, min(doc_id) AS keeper_doc_id FROM fp GROUP BY fp_md5
       |), g AS (
       |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN doc_id <> keeper_doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dup_docs
       |  FROM fp JOIN keepers USING (fp_md5) GROUP BY domain
       |)
       |SELECT domain, n_docs, n_dup_docs,
       |  CAST((n_dup_docs * 1000000) // n_docs AS BIGINT)
       |    AS dup_rate_millionths
       |FROM g
       |ORDER BY domain, n_docs, n_dup_docs, dup_rate_millionths""".stripMargin

  /** Default per-domain cap — sized like [[Curation.SourceQuotaN]]:
    * below the fixture's per-domain doc count at the gate's SF, so the
    * cut is observable where it is verified. */
  val DomainQuotaN: Int = 5

  /** Per-registrable-domain quality quota — [[Curation.sourceQuota]]
    * re-keyed on the domain: keep at most `quota` docs per publisher,
    * best [[TextAnalysis.textStats]] quality first (ties by doc_id —
    * total order, both engines agree row-for-row). The crawl guard
    * "no single publisher may contribute more than N documents",
    * immune to subdomain sharding. */
  def domainQuota(docs: DataFrame, quota: Int = DomainQuotaN): DataFrame = {
    val scored = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val withDom = scored.join(
      asWebTable(docs).select(col("doc_id"), col("domain")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id").asc)
    withDom.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= quota)
      .select(col("domain"), col("rnk"), col("doc_id"), col("quality_score"))
  }

  /** The SCALE spelling of the publisher quota — [[domainQuota]]'s
    * documented mega-publisher escape hatch, implemented: no per-doc
    * rank window at all. The rank window's per-partition sort state is
    * the publisher's DOC COUNT, so one 10⁹-doc publisher makes that
    * window partition the job's tail at 100 TB. This spelling runs the
    * [[TextAnalysis.lengthQuartiles]] discipline on the quality axis
    * instead:
    *
    *  1. histogram: per-(domain, Q20 quality CELL) counts — the score
    *     axis is QUANTIZED to `floor(quality_score · 2²⁰)` (exact: a
    *     power-of-two scale of a cross-engine-bit-identical double),
    *     so the cell count per domain is bounded by 2²⁰ + 1 whatever
    *     the doc count — raw double scores are nearly unique per doc,
    *     which would collapse the "cell-bounded" claim right back to a
    *     publisher-doc-sized sort (the lengthQuartiles discipline works
    *     unquantized only because lengths are small integers);
    *  2. threshold by prefix-sum rank arithmetic over the CELLS (the
    *     window sorts cell counts, not documents): the quota-th best
    *     cell = max qb with cum(≥qb) ≥ quota, one ≤|domains|-row
    *     relation;
    *  3. map-side keep: cell ≥ threshold cell after a broadcast join —
    *     pure integer compare, nothing corpus-sized is sorted.
    *
    * TIE RULE, stated: every doc in the threshold CELL (a 2⁻²⁰-wide
    * quality band) is kept, so a cell straddling the boundary admits
    * up to (cell population − 1) docs beyond the quota — rank
    * arithmetic on a histogram cannot see doc_ids inside one cell, and
    * dropping the whole cell instead would under-fill the quota.
    * Wherever no same-cell population straddles the threshold this is
    * row-identical to [[domainQuota]] minus the `rnk` column
    * (spec-pinned); NULL-score docs (empty token lists) never pass —
    * the windowed face can admit them only into under-quota
    * publishers, which is exactly the no-straddle caveat's other face.
    * Publishers with fewer than `quota` scored docs keep them all
    * (their histogram never crosses, the threshold left-joins NULL). */
  def domainQuotaThreshold(docs: DataFrame,
      quota: Int = DomainQuotaN): DataFrame = {
    val scored = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val withDom = scored.join(
        asWebTable(docs).select(col("doc_id"), col("domain")), Seq("doc_id"))
      // consumed twice (histogram + final filter): slim (domain, id,
      // score) rows, the curatedBase checkpoint discipline
      .localCheckpoint()
    Curation.quotaThresholdOf(withDom, "domain", quota)
  }

  /** Oracle twin of [[domainQuotaThreshold]] — same histogram, same
    * prefix-sum crossing, same tie rule. */
  def domainQuotaThresholdSql(quota: Int = DomainQuotaN): String =
    Curation.quotaThresholdSqlOver("domain",
      registrableDomainSql(hostSql), quota)

  /** Oracle twin of [[domainQuota]]. */
  def domainQuotaSql(quota: Int = DomainQuotaN): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${registrableDomainSql(hostSql)} AS domain,
       |    regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}') AS toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, domain,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |    CAST(len(list_filter(toks, x -> list_contains(${TextAnalysis.sqlList(TextAnalysis.stopwordsEn)}, x))) AS BIGINT) AS stop_hits
       |  FROM t
       |), q AS (
       |  SELECT doc_id, domain,
       |    0.5e0 * least(1e0, n_tokens / 200e0)
       |      + 0.25e0 * (n_distinct_tokens / n_tokens)
       |      + 0.25e0 * (1e0 - stop_hits / n_tokens) AS quality_score
       |  FROM s
       |), ranked AS (
       |  SELECT domain, doc_id, quality_score,
       |    CAST(row_number() OVER (PARTITION BY domain
       |      ORDER BY quality_score DESC NULLS LAST, doc_id ASC) AS BIGINT) AS rnk
       |  FROM q
       |)
       |SELECT domain, rnk, doc_id, quality_score
       |FROM ranked WHERE rnk <= $quota
       |ORDER BY domain, rnk, doc_id, quality_score""".stripMargin
}
