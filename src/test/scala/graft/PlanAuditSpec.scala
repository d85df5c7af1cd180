package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for scale-critical properties: column
  * pruning reaches the parquet scan, the small side of the kNN join is
  * broadcast, and no operator degenerates into a cartesian product.
  * These lock in the plan shapes the Scaladocs claim — a regression
  * that silently widens a scan or drops a broadcast fails here, not in
  * a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** name → executed-plan string, each built on first use and shared by
    * every test: constructing a query runs its eager jobs (checkpoints,
    * fixpoint rounds), and the two all-query sweeps below would
    * otherwise construct all of them twice. */
  private val plans = scala.collection.mutable.Map.empty[String, String]

  private def plan(name: String): String =
    plans.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString)

  test("text operators prune the documents scan to the columns they read") {
    // lang_id needs (doc_id, lang, text); media needs (doc_id, text, source,
    // n_chars, lang); none may read the full table when fewer cols suffice
    val p = plan("token_profile")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"token_profile reads more than it uses: $readSchema")
  }

  test("events_wau attaches the span cap as a broadcast HASH join") {
    // the regression this session's audit caught: a lit(1) key added on
    // the probe side folds away, leaving no equi-key and a nested-loop
    // join; the key must originate on the checkpointed days relation.
    // The global no-nested-loop sweep forbids the failure mode; this
    // pins the intended shape so the fix can't silently degrade.
    val p = plan("events_wau")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast span attach in:\n$p")
  }

  test("events_funnel joins and aggregates only on user_id (one partitioning)") {
    // every hashpartitioning in the funnel plan must key on user_id —
    // the chain is designed so ONE partitioning serves all three stage
    // minima and the assembly joins
    val p = plan("events_funnel")
    val parts = "hashpartitioning\\(([a-zA-Z_0-9#]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(parts.nonEmpty, s"expected hash partitionings in:\n$p")
    assert(parts.forall(_.startsWith("user_id")),
      s"funnel shuffles on non-user keys: $parts")
  }

  test("embed_knn broadcasts the filtered query side as a hash join") {
    // The scoring join is vec_id =!= query_id (non-equi) AND
    // size(qqv) === size(qv) — the dimensionality guard doubles as an
    // equi-key, so Spark plans a BroadcastHashJoin over the ≤nQueries
    // broadcast rows instead of a nested loop. Guard both that and the
    // query-side LessThan pushdown into the parquet scan.
    val p = plan("embed_knn")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast hash join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"),
      s"query-side filter not pushed to the embeddings scan")
  }

  test("embed_ann_knn broadcasts the query-band probe side") {
    // the per-query bucket probes (nQueries×L rows) must broadcast into
    // the bands relation — the corpus side never shuffles for the probe
    val p = plan("embed_ann_knn")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe join in:\n$p")
  }

  test("pricing_summary pushes the ship-date cutoff into the parquet scan") {
    val p = plan("pricing_summary")
    assert("PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_shipdate".r
        .findFirstIn(p).isDefined,
      s"ship-date cutoff not pushed to the lineitem scan:\n$p")
  }

  test("sales_rollup broadcasts all three dimension joins; one Expand serves every level") {
    val p = plan("sales_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3,
      s"dimension chain not fully broadcast:\n$p")
    assert("Expand".r.findAllIn(p).size >= 1,
      s"rollup did not compile to a single Expand pass:\n$p")
  }

  test("late_order_priority keeps the semi-join a HASH join on the order key") {
    // the range predicate must ride as a join condition on the hash
    // semi-join — if it degrades to a nested loop the global sweep also
    // fails, but this pins the positive shape
    val p = plan("late_order_priority")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"semi join degraded:\n$p")
  }

  test("no query plans a cartesian product or a nested-loop join") {
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
    }
  }

  test("every aggregating query combines map-side before the shuffle") {
    // partial_ aggregate functions in the plan = map-side combine: the
    // shuffle carries one row per (group, partition), not per input row.
    // Exception: distinct() compiles to a FUNCTION-LESS HashAggregate
    // pair — no "partial_" prefix exists (it attaches to agg functions),
    // but the pre-shuffle stage is still there, so for the distinct-only
    // plans we assert the aggregate-node pair instead.
    val distinctOnly =
      Set("embed_ann_pairs", "incremental_dedup", "incremental_ann", "simhash_pairs",
        "near_dup_pairs", "near_dup_jaccard", "split_leak_fuzzy",
        // the aHash pairing family is the simhash_pairs shape: the only
        // aggregate is the pair-collapsing distinct()
        "image_dup_pairs", "incremental_image_dup", "audio_dup_pairs",
        "incremental_audio_dup", "video_dup_pairs", "incremental_video_dup",
        "cimage_dup_pairs", "incremental_cimage_dup",
        // corpus_diff's only aggregates are its two distinct-fingerprint
        // relations (the moved-content sides)
        "corpus_diff",
        // graph_components' returned plan is the node-domain distinct
        // joined to the (checkpointed) star-contraction labels — the
        // iteration's own aggs ran at construction, behind checkpoints
        "graph_components",
        // the persisted lifecycle returns the UN-checkpointed assembly
        // (unlike the session-cached incremental face, whose plan is a
        // checkpoint scan): its heavy aggs ran at construction behind
        // checkpoints, and the min-policy projection prunes the
        // best-rollup's min(struct) down to its keys — the residual
        // aggregates are the function-less distinct pairs
        "incremental_media_keep_persisted")
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val p = plan(name)
      if (distinctOnly(name)) {
        assert("HashAggregate".r.findAllIn(p).size >= 2,
          s"$name: distinct lacks its pre-shuffle aggregate stage:\n$p")
      } else if (p.contains("Aggregate")) {
        assert(p.contains("partial_"), s"$name has no partial aggregation:\n$p")
      }
    }
  }

  test("doc_repetition stays shuffle-free (the n-gram multiset never leaves its row)") {
    // the per-(doc, n-gram) groupBy formulation would shuffle every token
    // of every document (the round-2 fingerprint mistake); the operator's
    // only exchange is the widen() repartition of the small local scan
    val p = plan("doc_repetition")
    assert(!p.contains("hashpartitioning"),
      s"doc_repetition shuffles the n-gram stream:\n$p")
    assert(!p.contains("HashAggregate"),
      s"doc_repetition grew a grouping aggregate:\n$p")
  }

  test("vocab_topk plans TakeOrdered, never a global sort or one-partition window") {
    // top-k over the aggregated vocab must be TakeOrderedAndProject
    // (k rows kept per partition, driver merge) — a Sort + Limit or a
    // row_number window would serialize the whole vocab through one task
    val p = plan("vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab_topk does not plan a distributed top-k:\n$p")
    assert(!p.contains("Window"), s"vocab_topk plans a window:\n$p")
  }

  test("classifier_score stays shuffle-free (weights ride as a literal, no model join)") {
    // inference is per-row map work over the fused tokenize+hash chain;
    // the only exchange allowed is widen()'s round-robin repartition of
    // the small local scan — never a hash shuffle or an aggregate
    val p = plan("classifier_score")
    assert(!p.contains("hashpartitioning"),
      s"classifier_score shuffles the corpus:\n$p")
    assert(!p.contains("HashAggregate"),
      s"classifier_score grew a grouping aggregate:\n$p")
  }

  test("shipping_priority: both date predicates push to their scans; top-k is a merge, not a sort") {
    // the Q3 shape's scale contract: lineitem's shipdate and orders'
    // orderdate filters reach the parquet scans (GreaterThan/LessThan in
    // PushedFilters), the filtered customer side broadcasts, and the
    // global top-10 plans as TakeOrderedAndProject — per-partition top-k
    // + a k-row merge, never an Exchange into one sort partition.
    val p = plan("shipping_priority")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r.findFirstIn(p).isDefined,
      s"shipdate not pushed to the lineitem scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*LessThan\\(o_orderdate".r.findFirstIn(p).isDefined,
      s"orderdate not pushed to the orders scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k is not a k-row merge:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer side not broadcast:\n$p")
  }

  test("returned_revenue: returnflag and quarter push to the scans; top-k is a merge") {
    val p = plan("returned_revenue")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(l_returnflag,R\\)".r.findFirstIn(p).isDefined,
      s"returnflag not pushed to the lineitem scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(p).isDefined,
      s"quarter window not pushed to the orders scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k is not a k-row merge:\n$p")
  }

  test("local_supplier_volume: constant dims broadcast; rollup is partial-aggregated") {
    val p = plan("local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join in:\n$p")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(r_name,ASIA\\)".r.findFirstIn(p).isDefined,
      s"region filter not pushed to the region scan:\n$p")
    assert(p.contains("partial_sum"), s"revenue rollup not map-side combined:\n$p")
  }

  test("knn_classify broadcasts queries, and the vote join never shuffles labels") {
    // same shape as embed_knn (queries broadcast into ONE corpus scan,
    // LessThan pushed to parquet); the label join must broadcast the
    // ≤nQueries·k winner rows, so label lookup is also broadcast-side —
    // every join in the plan is a BroadcastHashJoin, none shuffles the
    // corpus
    val p = plan("knn_classify")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast hash join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"),
      s"query-side filter not pushed to the embeddings scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"knn_classify shuffles a join side:\n$p")
  }

  test("corpus_mix broadcasts per-source thresholds into a map-only corpus pass") {
    // the corpus-side pass must never shuffle: per-source thresholds
    // derive from the tiny source-stats relation and BROADCAST into the
    // hash-bucket filter; the only exchanges belong to the stats agg
    val p = plan("corpus_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"corpus_mix does not broadcast the threshold relation:\n$p")
  }

  test("quality_rules stays shuffle-free (every rule folds over the row's own arrays)") {
    // seven published document-shape rules, all per-row map work — the
    // only exchange is widen()'s repartition of the small local scan
    val p = plan("quality_rules")
    assert(!p.contains("hashpartitioning"),
      s"quality_rules shuffles:\n$p")
  }

  test("vocab_coverage broadcasts the vocab selection into the pair relation") {
    // the ≤|vocab|-row threshold selection must broadcast into the
    // (doc, token) multiplicity relation — a shuffled token-key join
    // would re-partition the corpus-sized pair relation for a lookup
    val p = plan("vocab_coverage")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab_coverage does not broadcast the vocab selection:\n$p")
  }

  test("pack_sequences_epochs broadcasts rates into a fused map-side corpus pass") {
    // the corpus pass computes tokenize + mix bucket + repeat verdict in
    // ONE projection and joins only the broadcast per-source rates — a
    // doc_id join of corpusMixEpochs output against a separate token
    // count pass would shuffle two corpus-sized relations
    val p = plan("pack_sequences_epochs")
    assert(p.contains("BroadcastHashJoin"),
      s"pack_sequences_epochs does not broadcast the rates relation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pack_sequences_epochs shuffles a join side:\n$p")
  }

  test("decontaminate broadcasts the benchmark shingle set into a semi join") {
    // the corpus side must stay map-only up to the per-doc count: the
    // benchmark's distinct shingle relation broadcasts and the match is
    // a LEFT SEMI hash join, never a shuffle of exploded corpus shingles
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark side not broadcast as a semi join:\n$p")
    // fuzzy sibling: the benchmark BAND relation broadcasts into the
    // corpus band stream — train docs never pair with each other, so the
    // corpus side stays one map-only signature pass + a broadcast join
    val pf = plan("decontaminate_fuzzy")
    assert(pf.contains("BroadcastHashJoin"),
      s"benchmark bands not broadcast into the corpus band stream:\n$pf")
  }

  test("no sketch-pairing plan expands buckets through collect_list") {
    // Round-4 verdict #3: every sketch-pairing operator must use the
    // checkpointed self-equi-join shape (codegen, AQE-skew-splittable) —
    // a collect_list bucket expansion pins a hot bucket's quadratic pair
    // blow-up to ONE task, interpreted. collect_list also forces an
    // ObjectHashAggregate, so both spellings are asserted absent.
    for (name <- Seq("near_dup_pairs", "near_dup_jaccard", "incremental_dedup",
        "simhash_pairs", "embed_ann_pairs", "incremental_ann")) {
      val p = plan(name)
      assert(!p.contains("collect_list") && !p.contains("ObjectHashAggregate"),
        s"$name expands buckets via collect_list:\n$p")
    }
  }

  test("corpus_keep scans the documents parquet once (shared tokenized base)") {
    // All three components (fingerprints, signatures, quality stats)
    // derive from one checkpointed base; the final plan must contain NO
    // documents parquet scan (the single scan ran at checkpoint time),
    // while a plain text operator shows exactly one.
    assert(!plan("corpus_keep").contains("documents.parquet"),
      "corpus_keep re-scans documents parquet instead of the shared base")
    // same contract for the full-pipeline composition: keep verdict,
    // token counts, and split all derive from the one checkpointed base
    assert(!plan("pipeline_manifest").contains("documents.parquet"),
      "pipeline_manifest re-scans documents parquet instead of the shared base")
    assert(!plan("pipeline_manifest_chunked").contains("documents.parquet"),
      "pipeline_manifest_chunked re-scans documents parquet instead of the shared base")
    assert("documents\\.parquet".r.findAllIn(plan("text_stats")).size === 1)
    // corpus_keep_full: the seven-gate verdict is session-cached AND
    // checkpointed (r16 optimization round), so the served plan is a
    // pure projection over the materialized relation — zero documents
    // scans (the corpus scan and the benchmark side of the
    // decontamination semi-join both ran once, at build time)
    assert(!plan("corpus_keep_full").contains("documents.parquet"),
      "corpus_keep_full re-scans documents parquet instead of the cached verdict")
    // boilerplate_scrub: the flag side AND the rebuild join both derive
    // from the checkpointed (doc, toks, th) base — no re-scan either
    assert(!plan("boilerplate_scrub").contains("documents.parquet"),
      "boilerplate_scrub re-scans documents parquet instead of the shared base")
  }

  test("ANN bucket space scales with the hash-table count (no fixed-bucket ceiling)") {
    // Round-3 weakness: a single 8-plane table = 256 buckets FOREVER, so
    // per-bucket population (and the quadratic pairing) grew linearly with
    // the corpus. The banded scheme's bucket domain is L·2^b; even the
    // tiny sf0.001 corpus (500 vectors) must occupy more distinct
    // (table, bucket) cells than the entire old ceiling.
    import graft.ml.Similarity
    val bands = Similarity.annBands(
      Similarity.vectors(Tables.embeddings(spark, dir)))
    val perTable = bands.groupBy("tbl").agg(
      org.apache.spark.sql.functions.countDistinct("bucket").as("nb")).collect()
    assert(perTable.length === Similarity.NumTables)
    val totalCells = perTable.map(_.getAs[Long]("nb")).sum
    assert(totalCells > 256L,
      s"bucket occupancy $totalCells does not exceed the old 256-bucket ceiling")
    val dom = bands.agg(org.apache.spark.sql.functions.max("bucket"),
      org.apache.spark.sql.functions.min("bucket")).head()
    assert(dom.getLong(0) < (1L << Similarity.PlanesPerTable) && dom.getLong(1) >= 0L)
  }

  test("corpus_mix_epochs broadcasts per-source rates into a map-only corpus pass") {
    // same contract as corpus_mix: the corpus side never shuffles — the
    // rate relation derives from the tiny source-stats agg and broadcasts
    val p = plan("corpus_mix_epochs")
    assert(p.contains("BroadcastHashJoin"),
      s"corpus_mix_epochs does not broadcast the rate relation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus_mix_epochs shuffles the corpus for the rate join:\n$p")
  }

  test("pii_scrub stays shuffle-free (regex + Luhn fold are per-row map work)") {
    val p = plan("pii_scrub")
    assert(!p.contains("hashpartitioning"), s"pii_scrub shuffles the corpus:\n$p")
    assert(!p.contains("HashAggregate"), s"pii_scrub grew an aggregate:\n$p")
  }

  test("vocab_mincount plans a distributed filter — no TakeOrdered, no sort, no window") {
    // the tokenizer-scale vocab spelling must keep selection distributed:
    // the same partial-agg shuffle as vocab_topk, then a plain Filter —
    // nothing ordered ever lands on the driver
    val p = plan("vocab_mincount")
    assert(!p.contains("TakeOrderedAndProject"),
      s"vocab_mincount still drains an ordered merge to the driver:\n$p")
    assert(!p.contains("Sort") && !p.contains("Window"),
      s"vocab_mincount plans a sort/window:\n$p")
    assert(p.contains("partial_"), s"vocab_mincount lost map-side combine:\n$p")
  }

  test("pipeline_manifest_bpe scans the documents parquet once (shared tokenized base)") {
    // keep verdict, merge learning, encode, and split all derive from the
    // one checkpointed curation base — the final plan re-scans nothing
    assert(!plan("pipeline_manifest_bpe").contains("documents.parquet"),
      "pipeline_manifest_bpe re-scans documents parquet instead of the shared base")
  }

  test("split_leak_report computes fingerprint and split in ONE scan, no self-join") {
    // both verdicts are per-row functions of the same row — joining a
    // fingerprint side with a splitAssign side would self-join the
    // corpus on doc_id for two map columns
    val p = plan("split_leak_report")
    assert("documents\\.parquet".r.findAllIn(p).size === 1,
      s"split_leak_report scans documents more than once:\n$p")
    assert(!p.contains("Join"), s"split_leak_report plans a join:\n$p")
  }

  test("revenue_monthly prunes the orders scan to the three columns it reads") {
    val p = plan("revenue_monthly")
    val rs = "ReadSchema: struct<[^>]*>".r.findFirstIn(p).getOrElse("")
    assert(rs.contains("o_custkey") && rs.contains("o_totalprice") &&
      rs.contains("o_orderdate"), s"missing column in scan: $rs")
    assert(!rs.contains("o_orderkey") && !rs.contains("o_orderstatus") &&
      !rs.contains("o_orderpriority"),
      s"revenue_monthly reads columns it never uses: $rs")
  }

  test("revenue_running is one custkey shuffle feeding ONE window node") {
    // both window functions (frame sum + row_number) share the
    // (o_custkey, orderdate, orderkey) spec, so CollapseWindow must
    // leave a single Window operator — a second one would re-sort the
    // order-grain relation for nothing
    val p = plan("revenue_running")
    assert("\\bWindow\\b".r.findAllIn(p).size === 1,
      s"expected exactly one Window node:\n$p")
    val parts = "hashpartitioning\\(\\w+".r.findAllIn(p)
      .map(_.stripPrefix("hashpartitioning(")).toSet
    assert(parts === Set("o_custkey"),
      s"revenue_running shuffles on ${parts} (want o_custkey only):\n$p")
  }

  test("customer_rfm is one per-customer partial agg then pure projection") {
    val p = plan("customer_rfm")
    assert(!p.contains("Window"), s"customer_rfm plans a window:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    val parts = "hashpartitioning\\(\\w+".r.findAllIn(p)
      .map(_.stripPrefix("hashpartitioning(")).toSet
    assert(parts === Set("c_custkey"),
      s"customer_rfm shuffles on ${parts} (want c_custkey only):\n$p")
  }

  test("revenue_trend shuffles only on the calendar cell keys (the windows ride the bounded relation)") {
    // the fact collapses to monthly cells FIRST; the unpartitioned
    // lag/frame windows then sort a ≤12·|years| relation — the plan
    // must show no shuffle key other than the cell keys
    val p = plan("revenue_trend")
    val parts = "hashpartitioning\\(\\w+".r.findAllIn(p)
      .map(_.stripPrefix("hashpartitioning(")).toSet
    assert(parts === Set("o_year"),
      s"revenue_trend shuffles on ${parts} (want the cell keys only):\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("referential_audit probes carry bare 8-byte keys on every edge") {
    val p = plan("referential_audit")
    for (k <- Seq("o_orderkey", "p_partkey", "c_custkey"))
      assert(p.contains(s"ReadSchema: struct<$k:bigint>"),
        s"parent side of $k is not a bare-key scan:\n$p")
  }

  test("exact_2hop and approx_2hop read the edge relation once and plan no join") {
    // the degree identity needs one node-keyed shuffle over the edge
    // endpoints: an in-degree and an out-degree aggregate joined on the
    // node would scan the edges twice and shuffle them twice
    for (name <- Seq("exact_2hop", "approx_2hop")) {
      val p = plan(name)
      assert("lineitem\\.parquet".r.findAllIn(p).size === 1,
        s"$name scans the edge source more than once:\n$p")
      assert(!p.contains("Join"), s"$name plans a join:\n$p")
    }
  }

  test("MAX filter is applied at the scan stage even where pushdown cannot reach parquet") {
    // The fixture edge view DERIVES src/dst (l_partkey % 100, ...), so the
    // LessThan cannot be pushed into the parquet reader — only IsNotNull
    // lands in PushedFilters. The guard here is that the filter still sits
    // directly on top of the scan (map-side, before any shuffle); pushdown
    // onto RAW columns is separately proven by embed_knn's LessThan(vec_id).
    val p = plan("edge_count")
    assert("Filter [^\\n]*% 100\\) < \\d+".r.findFirstIn(p).isDefined,
      s"MAX filter missing from plan:\n$p")
    assert(!p.contains("Exchange") ||
      p.indexOf("Filter") > p.indexOf("Exchange"),
      "MAX filter must evaluate before the aggregation exchange")
  }
}
