package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Training-data MIXTURE planning — the step between curation and the
  * shard writer: given per-source token inventories and target mixture
  * weights, decide how much of each source a training run takes, then
  * take it DETERMINISTICALLY. The three faces:
  *
  *  - [[mixPlan]]: the one-shot allocation report — each source's
  *    target share of the token budget, the sampling rate that
  *    achieves it, and the SHORTFALL where the source simply does not
  *    have the mass (the signal a mixture owner acts on: lower the
  *    weight or find more data);
  *  - [[mixWaterfill]]: the exact allocation — undersized sources are
  *    capped at their inventory and their unused share re-flows to the
  *    others in proportion to weight (classic water-filling), as a
  *    fixed-round [[graft.Iterate.rounds]] loop over the |sources|-row state
  *    relation (the kcore discipline: rounds are spec-pinned converged
  *    on the fixtures, and the oracle unrolls the same rounds);
  *  - [[mixSample]]: the achievement audit — documents kept by an
  *    exact integer hash gate (`permHash(doc_id) % 10⁶ <
  *    rate_millionths`, a dedicated seed in the engine-wide
  *    seed-split), so the SAME documents are kept on every run, every
  *    engine, every cluster size; per source, achieved doc/token
  *    counts land next to the plan's expectation.
  *
  * Weights here are derived deterministically from the source name
  * (`1 + tokHash(source) mod 9` — the fixture carries no weight
  * column); production passes its own weight relation through the same
  * arithmetic. All arithmetic is exact int64: budget·weight stays
  * under 2⁶³ for any budget below ~1e18/9 tokens — beyond any corpus —
  * so no decimal widening is needed (contrast the pageRank damping
  * multiply, where per-node mass is unbounded).
  *
  * Scale shape: ONE tokenize+rollup shuffle on the source key
  * (≤|sources| rows out) feeds everything; the waterfill loop joins
  * |sources|-row relations with 1-row broadcast scalars (never a
  * nested loop — constant-key discipline); the sample gate is a
  * per-row predicate under a broadcast rate join — zero extra
  * shuffles at any corpus size.
  */
object Mixture {

  /** Token budget for the fixture-scale query entries — chosen so the
    * heavy-weight sources SATURATE (inventory < fair share) and the
    * waterfill actually re-flows mass on the test corpora. */
  val MixBudget: Long = 20000L

  /** Waterfill rounds — spec-pinned converged on the fixtures (each
    * round saturates ≥1 source or terminates; worst case |sources|). */
  val WaterfillRounds: Int = 8

  /** Dedicated sampling-hash seed (seed-split: 42 minhash, 7
    * planes/CMS, 99 SimHash, 13 Bloom, 173 KMV, 211 here). */
  private val (hA, hB) = PortableHash.minhashPerms(1, seed = 211L).head

  /** Deterministic per-source weight 1..9 — stands in for the caller's
    * weight table on the weight-less fixture. */
  private[graft] def weightOf(src: org.apache.spark.sql.Column) =
    lit(1L) + pmod(PortableHash.tokHash(src), lit(9L))

  private def weightSqlOf(src: String): String =
    s"(1 + ((${PortableHash.tokHashSql(src)} % 9 + 9) % 9))"

  /** Per-source inventory: docs, tokens, weight — the rollup every
    * face shares. */
  private[graft] def inventoryOf(docs: DataFrame): DataFrame = inventory(docs)

  private def inventory(docs: DataFrame): DataFrame =
    graft.Tables.widen(docs)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"))
      .withColumn("weight", weightOf(col("source")))

  private def inventorySql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}'))) AS BIGINT)
       |      AS total_tokens,
       |    CAST(${weightSqlOf("source")} AS BIGINT) AS weight
       |  FROM documents GROUP BY source""".stripMargin

  /** Merge two per-source inventories — the incremental face's core:
    * doc and token counts are SUMS (mergeable by construction), and
    * the weight is a pure function of the source name, so
    * inventory(A) ⊕ inventory(B) = inventory(A ∪ B) EXACTLY for any
    * row split. FULL OUTER on source so a single-shard source
    * survives with its own counts. */
  def inventoryMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("source"), col("n_docs").as("da"), col("total_tokens").as("ta"))
      .join(b.select(col("source"), col("n_docs").as("db"),
        col("total_tokens").as("tb")), Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("da"), lit(0L)) + coalesce(col("db"), lit(0L))).as("n_docs"),
        (coalesce(col("ta"), lit(0L)) + coalesce(col("tb"), lit(0L))).as("total_tokens"))
      .withColumn("weight", weightOf(col("source")))

  /** Incremental face: plan from inventory(corpus shard) ⊕
    * inventory(nightly shard) — must hash-match the whole-corpus
    * [[mixPlan]] (the merge theorem above; the incremental_cms/
    * incremental_kmv discipline). A production nightly persists the
    * corpus inventory (a ≤|sources|-row artifact) and only ever
    * tokenizes the new batch. */
  def incrementalMixPlan(shardA: DataFrame, shardB: DataFrame,
      budget: Long = MixBudget): DataFrame =
    mixPlanFromInventory(
      inventoryMerge(inventory(shardA), inventory(shardB)), budget)

  /** One-shot mixture plan: target_s = budget·w_s div Σw; the rate
    * that achieves it capped at 10⁶ (a source cannot yield more than
    * itself); shortfall = what the cap cost. Single rollup + one 1-row
    * broadcast scalar attach. */
  def mixPlan(docs: DataFrame, budget: Long = MixBudget): DataFrame =
    mixPlanFromInventory(inventory(docs), budget)

  /** [[mixPlan]] over a caller-supplied inventory relation (the
    * persisted-artifact path [[incrementalMixPlan]] rides). */
  def mixPlanFromInventory(inventory: DataFrame,
      budget: Long = MixBudget): DataFrame = {
    // checkpoint makes `k` a real column (the graph_summary discipline:
    // a foldable literal key constant-folds the attach into the
    // BroadcastNestedLoopJoin the plan audit forbids)
    val inv = inventory.withColumn("k", lit(1)).localCheckpoint()
    val tot = inv.groupBy("k").agg(sum("weight").as("w_sum"))
    inv.join(broadcast(tot), Seq("k"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("weight"),
        expr(s"($budget * weight) div w_sum").as("target_tokens"))
      .withColumn("rate_millionths",
        expr("least(1000000L, (target_tokens * 1000000L) div greatest(total_tokens, 1L))"))
      .withColumn("expected_tokens",
        expr("(total_tokens * rate_millionths) div 1000000L"))
      .withColumn("shortfall_tokens",
        expr("greatest(target_tokens - expected_tokens, 0L)"))
  }

  /** Oracle twin of [[mixPlan]]. */
  def mixPlanSql(budget: Long = MixBudget): String =
    s"""WITH inv AS (
       |  $inventorySql
       |), tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_sum FROM inv),
       |t AS (
       |  SELECT source, n_docs, total_tokens, weight,
       |    CAST(($budget * weight) // w_sum AS BIGINT) AS target_tokens
       |  FROM inv, tot
       |), r AS (
       |  SELECT *, CAST(least(1000000, (target_tokens * 1000000) // greatest(total_tokens, 1))
       |    AS BIGINT) AS rate_millionths
       |  FROM t
       |)
       |SELECT source, n_docs, total_tokens, weight, target_tokens, rate_millionths,
       |  CAST((total_tokens * rate_millionths) // 1000000 AS BIGINT) AS expected_tokens,
       |  CAST(greatest(target_tokens - (total_tokens * rate_millionths) // 1000000, 0)
       |    AS BIGINT) AS shortfall_tokens
       |FROM r
       |ORDER BY source, n_docs, total_tokens, weight, target_tokens,
       |  rate_millionths, expected_tokens, shortfall_tokens""".stripMargin

  /** Exact weighted water-filling: [[WaterfillRounds]] rounds of
    * [[graft.Iterate.rounds]];
    * per round, the remaining budget splits over the UNSATURATED
    * sources in proportion to weight, and any source whose whole
    * inventory fits inside its share saturates at the inventory. The
    * final fair share allocates the survivors. Every scalar (remaining
    * budget, unsaturated weight mass) is a 1-row constant-key
    * broadcast; the state relation is |sources| rows, checkpointed per
    * round. */
  def mixWaterfill(docs: DataFrame, budget: Long = MixBudget,
      rounds: Int = WaterfillRounds): DataFrame =
    mixWaterfillFromInventory(inventory(docs), budget, rounds)

  /** [[mixWaterfill]] over a caller-supplied inventory relation — the
    * persisted-artifact path (pairs with [[mixPlanFromInventory]] /
    * [[inventoryMerge]]: a nightly merges the shard inventory in and
    * re-fills without touching the corpus). */
  def mixWaterfillFromInventory(inventory: DataFrame,
      budget: Long = MixBudget, rounds: Int = WaterfillRounds): DataFrame = {
    require(rounds >= 1, s"mixWaterfillFromInventory needs rounds >= 1 (got $rounds)")
    val st0 = inventory
      .select(col("source"), col("n_docs"), col("total_tokens"), col("weight"),
        lit(null).cast("long").as("alloc"))
      .withColumn("k", lit(1)).localCheckpoint()
    def scalars(s: DataFrame): DataFrame = s.groupBy("k").agg(
      (lit(budget) - coalesce(sum("alloc"), lit(0L))).as("rem"),
      coalesce(sum(when(col("alloc").isNull, col("weight"))), lit(0L)).as("wu"))
    val st = graft.Iterate.rounds(st0, rounds) { st =>
      st.join(broadcast(scalars(st)), Seq("k"))
        .select(col("source"), col("n_docs"), col("total_tokens"), col("weight"),
          when(col("alloc").isNotNull, col("alloc"))
            .when(col("total_tokens") <= expr("(rem * weight) div greatest(wu, 1L)"),
              col("total_tokens"))
            .otherwise(lit(null).cast("long")).as("alloc"),
          col("k"))
    }
    val fin = st.join(broadcast(scalars(st)), Seq("k")).localCheckpoint()
    // Convergence gate: after the loop, every still-unsaturated source
    // must have inventory STRICTLY above its final fair share — an
    // unsaturated source at/below it would have saturated in one more
    // round (shifting everyone else's re-flow), i.e. `rounds` was too
    // small for this source count. The oracle unrolls the same rounds,
    // so a silent non-convergence would MATCH the oracle and the gate
    // could never catch it — fail loudly here instead. The check is an
    // action over the checkpointed ≤|sources|-row state: driver-cheap.
    val unconverged = fin.filter(col("alloc").isNull &&
      col("total_tokens") <= expr("(rem * weight) div greatest(wu, 1L)")).count()
    require(unconverged == 0L,
      s"mixWaterfill did not converge in $rounds rounds: $unconverged " +
        "source(s) would still saturate — raise `rounds` toward |sources|")
    fin
      .select(col("source"), col("n_docs"), col("total_tokens"), col("weight"),
        coalesce(col("alloc"), expr("(rem * weight) div greatest(wu, 1L)"))
          .as("alloc_tokens"))
      .withColumn("rate_millionths",
        expr("least(1000000L, (alloc_tokens * 1000000L) div greatest(total_tokens, 1L))"))
  }

  /** Oracle twin of [[mixWaterfill]] — the same rounds unrolled as
    * MATERIALIZED CTEs (DuckDB inlines by default and each round is
    * referenced several times — the kcore-oracle lesson). */
  def mixWaterfillSql(budget: Long = MixBudget,
      rounds: Int = WaterfillRounds): String = {
    require(rounds >= 1, s"mixWaterfillSql needs rounds >= 1 (got $rounds)")
    val sb = new StringBuilder
    sb.append(
      s"""WITH inv AS (
         |  $inventorySql
         |),
         |s0 AS MATERIALIZED (
         |  SELECT source, n_docs, total_tokens, weight,
         |    CAST(NULL AS BIGINT) AS alloc
         |  FROM inv
         |)""".stripMargin)
    for (r <- 0 until rounds) {
      sb.append(s""",
         |g$r AS MATERIALIZED (
         |  SELECT $budget - coalesce(sum(alloc), 0) AS rem,
         |    coalesce(sum(CASE WHEN alloc IS NULL THEN weight END), 0) AS wu
         |  FROM s$r
         |),
         |s${r + 1} AS MATERIALIZED (
         |  SELECT source, n_docs, total_tokens, weight,
         |    CASE WHEN alloc IS NOT NULL THEN alloc
         |         WHEN total_tokens <= (rem * weight) // greatest(wu, 1)
         |           THEN total_tokens
         |         ELSE NULL END AS alloc
         |  FROM s$r, g$r
         |)""".stripMargin)
    }
    sb.append(s""",
       |gf AS (
       |  SELECT $budget - coalesce(sum(alloc), 0) AS rem,
       |    coalesce(sum(CASE WHEN alloc IS NULL THEN weight END), 0) AS wu
       |  FROM s$rounds
       |),
       |fin AS (
       |  SELECT source, n_docs, total_tokens, weight,
       |    CAST(coalesce(alloc, (rem * weight) // greatest(wu, 1)) AS BIGINT)
       |      AS alloc_tokens
       |  FROM s$rounds, gf
       |)
       |SELECT source, n_docs, total_tokens, weight, alloc_tokens,
       |  CAST(least(1000000, (alloc_tokens * 1000000) // greatest(total_tokens, 1))
       |    AS BIGINT) AS rate_millionths
       |FROM fin
       |ORDER BY source, n_docs, total_tokens, weight, alloc_tokens,
       |  rate_millionths""".stripMargin)
    sb.toString
  }

  /** Deterministic sampling audit: apply [[mixPlan]]'s rates with the
    * exact hash gate and report achieved vs expected per source. The
    * gate is doc-level (`permHash(doc_id) % 10⁶ < rate`), so the kept
    * SET is a pure function of (corpus, budget) — re-runs, engines,
    * and cluster sizes all keep the same documents; token achievement
    * tracks expectation to within per-doc granularity. */
  def mixSample(docs: DataFrame, budget: Long = MixBudget): DataFrame = {
    // ONE tokenize pass feeds both the plan's inventory and the gate
    // (the corpusKeep shared-tokenize discipline): the checkpointed
    // (source, doc_id, n) relation is the only text-priced scan
    val t = graft.Tables.widen(docs)
      .select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .localCheckpoint()
    val inv = t.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"))
      .withColumn("weight", weightOf(col("source")))
    val rates = mixPlanFromInventory(inv, budget)
      .select(col("source"), col("rate_millionths"), col("expected_tokens"))
      .localCheckpoint()
    t.join(broadcast(rates), Seq("source"))
      .filter(pmod(PortableHash.permHash(col("doc_id"), hA, hB), lit(1000000L))
        < col("rate_millionths"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs_kept"), sum("n").as("tokens_kept"),
        first("rate_millionths").as("rate_millionths"),
        first("expected_tokens").as("expected_tokens"))
      .select(col("source"), col("rate_millionths"), col("docs_kept"),
        col("tokens_kept"), col("expected_tokens"))
  }

  /** The INGEST-TIME face of [[mixSample]] — the orphanGate discipline
    * for mixture admission: each arriving document is flagged
    * `mix_keep` by tossing the SAME deterministic coin
    * (`permHash(doc_id) % 10⁶ < rate`) against a PERSISTED plan
    * relation (the tiny ≤|sources|-row artifact a nightly [[mixPlan]]
    * writes), probed by a stream-static broadcast LEFT join —
    * STATELESS: no watermark, no state store, so it runs unchanged on
    * a batch relation or an unbounded stream. Because the coin is a
    * pure function of doc_id and the rate a pure function of the
    * persisted plan, the stream admits EXACTLY the set the batch gate
    * keeps (spec-pinned: per-source admitted counts equal
    * [[mixSample]]'s `docs_kept` on the same rows). A source ABSENT
    * from the plan admits nothing (NULL rate → false) — the
    * conservative default for an unplanned feed.
    *
    * Scale shape: per micro-batch one broadcast probe + a per-row hash
    * — no shuffle, no text pass (the plan already priced the corpus;
    * admission needs only doc_id and source). */
  def mixGate(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(
        broadcast(rates.select(col("source"), col("rate_millionths"))),
        Seq("source"), "left")
      .withColumn("mix_keep",
        coalesce(
          pmod(PortableHash.permHash(col("doc_id"), hA, hB), lit(1000000L))
            < col("rate_millionths"), lit(false)))
      .drop("rate_millionths")

  /** Oracle twin of [[mixSample]]. */
  def mixSampleSql(budget: Long = MixBudget): String =
    s"""WITH inv AS (
       |  $inventorySql
       |), tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_sum FROM inv),
       |rates AS (
       |  SELECT source,
       |    CAST(least(1000000, ((($budget * weight) // w_sum) * 1000000)
       |      // greatest(total_tokens, 1)) AS BIGINT) AS rate_millionths,
       |    CAST((total_tokens * least(1000000, ((($budget * weight) // w_sum) * 1000000)
       |      // greatest(total_tokens, 1))) // 1000000 AS BIGINT) AS expected_tokens
       |  FROM inv, tot
       |),
       |d AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')) AS BIGINT) AS n
       |  FROM documents
       |)
       |SELECT d.source AS source, r.rate_millionths AS rate_millionths,
       |  CAST(count(*) AS BIGINT) AS docs_kept,
       |  CAST(sum(d.n) AS BIGINT) AS tokens_kept,
       |  r.expected_tokens AS expected_tokens
       |FROM d JOIN rates r ON r.source = d.source
       |WHERE ${PortableHash.permHashSql("doc_id", hA, hB)} % 1000000 < r.rate_millionths
       |GROUP BY d.source, r.rate_millionths, r.expected_tokens
       |ORDER BY source, rate_millionths, docs_kept, tokens_kept, expected_tokens""".stripMargin
}
