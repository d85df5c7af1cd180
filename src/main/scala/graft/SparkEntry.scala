package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{EdgeLists, GraphPatterns}
import graft.text.{Dedup, TextAnalysis}
import graft.ml.Similarity
import graft.events.Events

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (the
  * reference's complete capability surface) or one of this engine's
  * LLM-data-pipeline extensions, as a pure function
  * `(SparkSession, sfDir) => DataFrame`. [[oracleSql]] carries the
  * equivalent DuckDB SQL over the same parquet tables; column names are
  * aliased identically on both sides (the driver's compare sorts columns
  * by name before hashing).
  *
  * Graph queries run over the canonical edge view (FIXTURES.md §C): a
  * directed multigraph on node ids 0..99 derived from lineitem with
  * integer-only arithmetic. MAX thresholds (the reference's compiled-in
  * subgraph filter, `approx/Approx2HopCount.java:41`) use mid-domain
  * values so the filter is observable.
  */
object SparkEntry {

  private val EdgeCte = s"WITH edges AS (${EdgeLists.lineitemEdgeSql})"
  /** MAX for the edge-census query (reference default 11,316,812 scaled
    * to the 0..99 fixture domain). */
  private val CensusMax = 90L
  /** MAX for 2-hop/triangle queries (reference default 12,500 scaled). */
  private val PathMax = 50L

  private def edges(s: SparkSession, dir: String): DataFrame =
    EdgeLists.fromLineitem(s, dir)

  /** Per-process scratch dir for the round-trip queries (edge CSV, docs
    * JSONL) — unique per JVM (two processes must not overwrite each
    * other's files mid-scan) and deleted on JVM exit (a per-pid dir that
    * outlives its process would otherwise accumulate one copy per run in
    * tmp). The shutdown hook never runs on SIGKILL/OOM-kill, so
    * lazy-init also sweeps peer dirs whose owning pid is no longer alive
    * (round-5 advice: repeatedly-killed bench runs accumulated one dir
    * per run) — accumulation is bounded at one dir per LIVE process. */
  private lazy val scratchBase: java.io.File = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val myPid = ProcessHandle.current().pid()
    // graft_edges_csv_<pid> is the pre-round-6 name of the same dir —
    // keep sweeping it so a stale one from an older killed run still goes
    val Stale = "graft_(?:scratch|edges_csv)_(\\d+)".r
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case Stale(pid) if scala.util.Try {
              val p = pid.toLong
              p != myPid && {
                val h = ProcessHandle.of(p)
                !(h.isPresent && h.get.isAlive)
              }
            }.getOrElse(false) =>
          rm(f)
        case _ => ()
      }
    })
    val d = new java.io.File(tmp, s"graft_scratch_$myPid")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(d)))
    d
  }

  /** `<scratchBase>/<kind>/<sf-dir-name>` for a round-trip query. */
  private def scratch(kind: String, dir: String): String =
    new java.io.File(new java.io.File(scratchBase, kind),
      new java.io.File(dir).getName).getPath

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    GraphPatterns.triangleCounter(edges(spark, "/root/testdata/sf0.001"), Some(PathMax))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // S1+P3+A5: countedges.CountEdgesAfterMax
    "edge_count" -> ((s, dir) =>
      GraphPatterns.edgeCount(edges(s, dir), Some(CensusMax))),
    // S1 end-to-end through the driver gate: round-trip the edge view
    // through the reference's native format (headerless src,dst CSV,
    // any malformed line a hard error) and run the census on the re-read
    // relation — same oracle as edge_count by construction.
    // NB: the CSV write happens eagerly at DataFrame-construction time —
    // the round-trip IS the operator (fromCsv needs the files on disk), so
    // its bench time is sink+scan, not census cost. The path is the
    // per-process, exit-cleaned [[edgesCsvBase]] (round-4 advice: a
    // hardcoded repo path broke relocated checkouts).
    "edge_count_csv" -> ((s, dir) => {
      val tmp = scratch("edges_csv", dir)
      EdgeLists.fromLineitem(s, dir).write.mode("overwrite").csv(tmp)
      GraphPatterns.edgeCount(EdgeLists.fromCsv(s, tmp), Some(CensusMax))
    }),
    // The PRODUCTION arrival contract for the same format: PERMISSIVE
    // parse + quarantine stream (the corpus_stats_jsonl discipline on
    // the reference's own CSV). The fixture plants a deterministic
    // corrupted copy of every edge with (src·31+dst) % 97 = 0, so the
    // oracle prices the quarantine from the parquet relation alone —
    // the bad-line count is data-derived, never a synthetic constant.
    "edge_census_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
      val tmp = scratch("edges_csv_q", dir)
      val edges = EdgeLists.fromLineitem(s, dir)
      edges.select(concat_ws(",", col("src"), col("dst")).as("value"))
        .union(edges
          .filter((col("src") * 31 + col("dst")) % 97 === 0)
          .select(concat(lit("x"), col("src"), lit(","), col("dst"))
            .as("value")))
        .write.mode("overwrite").text(tmp)
      graft.sources.CsvEdges.censusReport(
        graft.sources.CsvEdges.readEdges(s, tmp), CensusMax)
    }),
    // A1+A2: exact.Exact2HopCount — degree-identity plan
    "exact_2hop" -> ((s, dir) =>
      GraphPatterns.twoHopCountDegrees(edges(s, dir))),
    // J1: the same count through the explicit self-join plan
    "exact_2hop_join" -> ((s, dir) =>
      GraphPatterns.twoHopCountJoin(edges(s, dir))),
    // P1+J1+A3: approx.Approx2HopCount (MAX-filtered subgraph)
    "approx_2hop" -> ((s, dir) =>
      GraphPatterns.twoHopCountDegrees(edges(s, dir), Some(PathMax))),
    // S3: approx job's materialized (x,y,z) triples, grouped w/ multiplicity.
    // No orderBy here: determinism for the oracle compare is Verify's job
    // (it sorts before dumping); the query itself stays an unsorted plan.
    "twohop_paths" -> ((s, dir) =>
      GraphPatterns.twoHopPaths(edges(s, dir), Some(PathMax))),
    // P2+J2+J3: rsjoin.RSJoinTriangleCount (raw ×3 counter, shuffle join)
    "rsjoin_triangles" -> ((s, dir) =>
      GraphPatterns.triangleCounter(edges(s, dir), Some(PathMax))),
    // J4: repjoin.* (README-documented broadcast variant)
    // Degree-ordered oriented enumeration — the O(m^1.5) spelling of
    // triangles_distinct; each triangle found once from its min-rank
    // corner, super-spreader wedge explosion structurally avoided.
    "triangles_oriented" -> ((s, dir) =>
      GraphPatterns.trianglesOriented(edges(s, dir), Some(PathMax))),
    "repjoin_triangles" -> ((s, dir) =>
      GraphPatterns.triangleCounter(edges(s, dir), Some(PathMax),
        broadcastClosing = true)),
    // ---- graph extensions beyond the reference's counters ----
    // Exact-millionths PageRank, 5 unrolled rounds; one join + one
    // partial-agg shuffle per round over the checkpointed weighted edges.
    "pagerank" -> ((s, dir) =>
      GraphPatterns.pageRank(edges(s, dir))),
    // Mass-conserving variant: dangling-node rank mass redistributed
    // uniformly each round (one extra 1-row scalar agg per round).
    "pagerank_conserving" -> ((s, dir) =>
      GraphPatterns.pageRankConserving(edges(s, dir))),
    // Personalized variant: teleport restricted to the node % 10 = 0
    // seed set — rank radiates from the seeds through follow edges.
    "pagerank_personalized" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = edges(s, dir)
      // seeds over BOTH endpoints (a dst-only node can be a seed too —
      // the oracle's predicate ranges over the whole node domain)
      GraphPatterns.pageRankPersonalized(e,
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .filter(col("node") % 10 === 0))
    }),
    // Multi-source BFS: min hop count from the modular seed set within
    // 6 directed hops; unreached nodes absent.
    "graph_distances" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = edges(s, dir)
      GraphPatterns.graphDistances(e,
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .filter(col("node") % 10 === 0))
    }),
    // Widest-path (max-min bottleneck) capacities from the same seed
    // set: the third semiring (greatest/least) next to BFS min-plus and
    // PageRank sum-times; multiplicity as capacity.
    "graph_widest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = edges(s, dir)
      GraphPatterns.widestPaths(e,
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node")))
          .filter(col("node") % 10 === 0))
    }),
    // Label-propagation communities (deterministic min-tie-break LPA):
    // the dense-region clustering one giant weak component hides.
    "graph_communities" -> ((s, dir) =>
      GraphPatterns.labelCommunities(edges(s, dir))),
    // Weakly connected components via the dedup star-contraction.
    "graph_components" -> ((s, dir) =>
      GraphPatterns.connectedComponents(edges(s, dir))),
    // Directed mutual-reachability classes (forward-backward coloring).
    "graph_scc" -> ((s, dir) =>
      GraphPatterns.stronglyConnectedComponents(edges(s, dir))),
    // Per-node in/out degree + distinct-neighbor report.
    "degree_report" -> ((s, dir) =>
      GraphPatterns.degreeReport(edges(s, dir))),
    // Reciprocated-follow census: unordered pairs with both directions.
    "mutual_follows" -> ((s, dir) =>
      GraphPatterns.mutualFollows(edges(s, dir))),
    // The raw triangle counter resolved per middle node (Σ = counter).
    "triangle_participation" -> ((s, dir) =>
      GraphPatterns.triangleParticipation(edges(s, dir), Some(PathMax))),
    // One-row graph-shape dashboard (nodes/edges/loops/reciprocity/
    // degree maxima) — five scalar aggs composed on a constant key.
    "graph_summary" -> ((s, dir) =>
      GraphPatterns.graphSummary(edges(s, dir))),
    // Triangle-closure suggestions: >= 2 common middlemen, no direct
    // edge — the LEFT ANTI complement of the triangle counter's closure.
    "follow_suggestions" -> ((s, dir) =>
      GraphPatterns.followSuggestions(edges(s, dir))),
    // HITS hubs/authorities: 3 rounds, exact int64 millionths with
    // per-round max normalization (L2 isn't cross-engine exact).
    "hits_scores" -> ((s, dir) =>
      GraphPatterns.hitsScores(edges(s, dir))),
    // k-core peel (k=3, 8 fixed rounds — converged on the fixture):
    // surviving nodes with their in-core degree.
    "kcore" -> ((s, dir) =>
      GraphPatterns.kCore(edges(s, dir))),
    // Audience-overlap similarity: follower-set Jaccard in millionths
    // for account pairs sharing >= 2 distinct followers.
    "follower_jaccard" -> ((s, dir) =>
      GraphPatterns.followerJaccard(edges(s, dir))),
    // Scale-safe variant: Jaccard over the capped follower sets —
    // super-spreader followers (out-degree > cap) deterministically
    // excluded before pairing, bounding pair work at Θ(|E|·cap).
    "follower_jaccard_capped" -> ((s, dir) =>
      GraphPatterns.followerJaccardCapped(edges(s, dir))),
    // Power-of-two degree-distribution histogram — the skew audit.
    "degree_histogram" -> ((s, dir) =>
      GraphPatterns.degreeHistogram(edges(s, dir))),
    // Popularity mixing matrix: per follow, follower out-band ×
    // followed in-band — the exact-integer assortativity audit.
    "degree_mixing" -> ((s, dir) =>
      GraphPatterns.degreeMixing(edges(s, dir))),
    // Per-node reciprocity: followees, follow-backs, fraction in
    // millionths — the mutual census resolved to WHO reciprocates.
    "node_reciprocity" -> ((s, dir) =>
      GraphPatterns.nodeReciprocity(edges(s, dir))),
    // ---- LLM-data-pipeline extensions: text analysis ----
    "text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(graft.Tables.documents(s, dir))),
    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(graft.Tables.documents(s, dir))),
    "lang_id_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgram(graft.Tables.documents(s, dir))),
    "token_profile" -> ((s, dir) =>
      TextAnalysis.tokenProfile(graft.Tables.documents(s, dir))),
    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(graft.Tables.documents(s, dir))),
    "corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(graft.Tables.documents(s, dir))),
    // The JSONL ingest path end-to-end through the driver gate: round-trip
    // the documents relation through newline-delimited JSON (the format
    // LLM corpora arrive in — explicit schema, PERMISSIVE parse with a
    // quarantine split) and run the corpus rollup on the re-read
    // relation — same oracle as corpus_stats by construction. Like
    // edge_count_csv, the write happens eagerly at construction (the
    // round-trip IS the operator); bench time is sink+scan, not rollup.
    "corpus_stats_jsonl" -> ((s, dir) => {
      val tmp = scratch("docs_jsonl", dir)
      graft.sources.JsonLines.writeDocuments(graft.Tables.documents(s, dir), tmp)
      TextAnalysis.corpusStats(
        graft.sources.JsonLines.good(graft.sources.JsonLines.readDocuments(s, tmp)))
    }),
    // Intra-document n-gram repetition signals (Gopher-style filters):
    // per-row map work only — the n-gram multiset never leaves its row.
    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.docRepetition(graft.Tables.documents(s, dir))),
    // PII detect + redact (emails / IPv4s / plus-prefixed phones):
    // per-row codegen'd regexp in the portable Java∩RE2 subset.
    "pii_scrub" -> ((s, dir) =>
      graft.text.Pii.piiScrub(graft.Tables.documents(s, dir))),
    // Vocabulary induction: top-k tokens by occurrence count with doc
    // frequency; partial-agg shuffle + TakeOrdered, no global sort.
    "vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopK(graft.Tables.documents(s, dir))),
    // Tokenizer-scale sibling: selection by count threshold — the same
    // one-shuffle agg followed by a distributed filter, so nothing
    // (not even a k-row merge) ever lands on the driver.
    // The published Gopher document-shape rules: seven boolean verdicts
    // + signals per doc, gopher_keep as the conjunction. Pure map work.
    "quality_rules" -> ((s, dir) =>
      graft.text.TextAnalysis.qualityRules(graft.Tables.documents(s, dir))),
    // Coverage acceptance check for an induced vocab: per doc, the
    // occurrence/type counts the vocabulary fails to cover.
    "vocab_coverage" -> ((s, dir) =>
      graft.text.TextAnalysis.vocabCoverage(graft.Tables.documents(s, dir))),
    // Coverage against an EXTERNAL vocabulary — judge corpus B under
    // tokenizer A's vocab. The vocab is induced over the benchmark
    // slice (doc_id % 50 = 0), coverage judged over the rest.
    "vocab_coverage_ext" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      TextAnalysis.vocabCoverageExt(
        docs.filter(col("doc_id") % 50 =!= 0),
        TextAnalysis.vocabByMinCount(docs.filter(col("doc_id") % 50 === 0),
          TextAnalysis.VocabMinCountExt))
    }),
    "vocab_mincount" -> ((s, dir) =>
      TextAnalysis.vocabByMinCount(graft.Tables.documents(s, dir))),
    // Byte-level BPE merge induction over the word-frequency relation:
    // the corpus pays one tokenize+count shuffle, the 8 merge rounds run
    // on the <=|vocab| table (TakeOrdered top pair, broadcast rewrite).
    "bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(graft.Tables.documents(s, dir))),
    // Encode under the learned merges: per-doc token counts the packer
    // would consume; the corpus re-enters as the (doc, word) relation.
    "bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(graft.Tables.documents(s, dir))),
    // The token-ID sequences themselves — (doc_id, pos, token_id) per
    // token position under the learned merges; ids are a pure function
    // of the merge table (byte value, or 256 + first producing round).
    "bpe_tokenize" -> ((s, dir) =>
      TextAnalysis.bpeTokenize(graft.Tables.documents(s, dir))),
    // Tokenizer fertility per language: BPE ids spent per whitespace
    // token in exact millionths — the per-lang acceptance number.
    "bpe_fertility" -> ((s, dir) =>
      TextAnalysis.bpeFertility(graft.Tables.documents(s, dir))),
    // Unigram-LM (SentencePiece-style) tokenizer — the second
    // production tokenizer family: substring seed, fixed hard-EM rounds
    // over the <=|distinct words| relation under exact Q20 integer
    // log2 costs, count-rank prune, Viterbi-segmenting encode.
    "unigram_vocab" -> ((s, dir) =>
      graft.text.Unigram.unigramVocab(graft.Tables.documents(s, dir))),
    "unigram_encode" -> ((s, dir) =>
      graft.text.Unigram.unigramEncode(graft.Tables.documents(s, dir))),
    // Fertility face — SAME schema as bpe_fertility, so the two
    // tokenizer families compare column-for-column on the same corpus.
    "unigram_fertility" -> ((s, dir) =>
      graft.text.Unigram.unigramFertility(graft.Tables.documents(s, dir))),
    // The frozen-tokenizer path: the vocabulary artifact is PERSISTED
    // and RELOADED (the training_shards discipline), then the batch
    // encodes under it with no EM — the oracle is the induced encode,
    // so the gate proves the frozen path reproduces it exactly.
    "unigram_encode_frozen" -> ((s, dir) => {
      val docs = graft.Tables.documents(s, dir)
      val tmp = scratch("unigram_vocab", dir)
      graft.text.Unigram.unigramVocab(docs)
        .write.mode("overwrite").parquet(tmp)
      graft.text.Unigram.unigramEncodeWith(docs, s.read.parquet(tmp))
    }),
    // The unigram ID-SEQUENCE face — bpe_tokenize's twin for the second
    // tokenizer family: (doc_id, pos, token_id) per token position, ids
    // a pure function of the vocabulary artifact (1-based vocab rank by
    // piece); per-doc row counts tile unigram_encode's counts.
    "unigram_tokenize" -> ((s, dir) =>
      graft.text.Unigram.unigramTokenize(graft.Tables.documents(s, dir))),
    // BPE acceptance check under an EXTERNAL tokenizer: merges learned
    // on the doc_id % 50 = 0 slice, byte-fallback rate judged on the
    // rest — unseen text encodes to raw byte ids, so byte_frac ≈ 1 marks
    // the docs the tokenizer compresses not at all.
    "bpe_coverage_ext" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      val rounds = TextAnalysis.bpeRoundsFromMergeTable(
        TextAnalysis.bpeMerges(docs.filter(col("doc_id") % 50 === 0)))
      TextAnalysis.bpeCoverageExt(docs.filter(col("doc_id") % 50 =!= 0), rounds)
    }),
    // Corpus-frequency rarity signals: raw occurrences shuffle once into
    // (doc, token) multiplicities; tf derives from that relation.
    "token_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarity(graft.Tables.documents(s, dir))),
    // Corpus-bigram LM fluency score (the CCNet-style LM filter,
    // log-free): map-side bigram explode, one pair shuffle, model
    // derived from the same checkpointed relation it scores.
    "lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(graft.Tables.documents(s, dir))),
    // Per-source distinctive terms (exact tf/df lift, no float log):
    // shares token_rarity's checkpointed pair relation; rank window is
    // vocab-bounded per source.
    "tfidf_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTerms(graft.Tables.documents(s, dir))),
    // Exact per-lang length quartiles via value-histogram + prefix sums
    // — the scalable spelling of a distributed exact percentile.
    // Count-min sketch of corpus token counts: the mergeable
    // point-frequency summary (cell-wise-sum merge, spec-pinned), and
    // its read path audited against exact counts (n_est >= n_exact).
    "cms_token_counts" -> ((s, dir) =>
      TextAnalysis.cmsTokenCounts(graft.Tables.documents(s, dir))),
    "cms_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.cmsHeavyHitters(graft.Tables.documents(s, dir))),
    "length_quartiles" -> ((s, dir) =>
      TextAnalysis.lengthQuartiles(graft.Tables.documents(s, dir))),
    // Hashed-feature linear classifier inference: literal weight table,
    // per-row codegen map over the fused tokenize+hash — zero shuffle.
    "classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(graft.Tables.documents(s, dir))),
    // Cross-document boilerplate blocks (CCNet/RefinedWeb repeated-span
    // filter): non-overlapping 8-token block hashes, doc-frequency join,
    // per-doc boilerplate share — tokenRarity's two-pass skeleton.
    "boilerplate_blocks" -> ((s, dir) =>
      TextAnalysis.boilerplateBlocks(graft.Tables.documents(s, dir))),
    // The transform counterpart: flagged tiles removed, normalized
    // cleaned text out (the count+mask pairing pii_scrub ships).
    "boilerplate_scrub" -> ((s, dir) =>
      TextAnalysis.boilerplateScrub(graft.Tables.documents(s, dir))),
    // Accent-folding normalization (lower -> NFD -> strip marks -> NFC),
    // the canonical pre-dedup text scrub; native codegen, ASCII fast path.
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.textNormalize(graft.Tables.documents(s, dir))),
    // Per-language token-count distribution over fixed power-of-two
    // bands — one partial-agg shuffle of <= |langs|*|bands| rows.
    "corpus_histogram" -> ((s, dir) =>
      TextAnalysis.corpusHistogram(graft.Tables.documents(s, dir))),
    // Per-source classifier rollup: pass counts + mean margin, the
    // curation dashboard; map-side scoring, one source-key shuffle.
    // ---- mixture planning: weighted token allocation + sampling ----
    // One-shot plan: per-source target share, achieving rate, shortfall.
    "corpus_mix_plan" -> ((s, dir) =>
      graft.text.Mixture.mixPlan(graft.Tables.documents(s, dir))),
    // Exact weighted water-filling: undersized sources cap at their
    // inventory, unused share re-flows by weight (fixed driver rounds).
    "corpus_mix_waterfill" -> ((s, dir) =>
      graft.text.Mixture.mixWaterfill(graft.Tables.documents(s, dir))),
    // Deterministic hash-gate sampling audit: achieved vs expected.
    "corpus_mix_sample" -> ((s, dir) =>
      graft.text.Mixture.mixSample(graft.Tables.documents(s, dir))),
    // Inventory merge theorem as the incremental gate: plan over
    // inventory(corpus) ⊕ inventory(shard) hash-matches the
    // whole-corpus plan.
    "incremental_mix_plan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.text.Mixture.incrementalMixPlan(
        docs.filter(col("doc_id") % 10 =!= 9),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    "source_quality" -> ((s, dir) =>
      TextAnalysis.sourceQuality(graft.Tables.documents(s, dir))),
    // Registrable-domain axis: the same quality rollup and quota keyed
    // on eTLD+1 of the (synthesized) URL — subdomain variants of one
    // publisher collapse onto one row / one cap.
    "domain_quality" -> ((s, dir) =>
      graft.text.Domains.domainQuality(graft.Tables.documents(s, dir))),
    "domain_quota" -> ((s, dir) =>
      graft.text.Domains.domainQuota(graft.Tables.documents(s, dir))),
    "domain_dedup" -> ((s, dir) =>
      graft.text.Domains.domainDedup(graft.Tables.documents(s, dir))),
    // The production-true domain axis: a CALLER-SUPPLIED public-suffix
    // list with full wildcard (*.s.wz) and exception (!ok.s.wz)
    // semantics — rules induced from the corpus's distinct sources (the
    // vocab_coverage_ext external-artifact discipline) so the oracle
    // derives the identical rule relation, hosts planted to prove
    // longest-match, exception-beats-wildcard, the implicit `*`
    // default, and the host-is-a-public-suffix fallback in BOTH engines.
    "domain_quality_ext" -> ((s, dir) =>
      graft.text.Domains.domainQualityExt(graft.Tables.documents(s, dir))),
    // The quota and dedup axes under the same caller-supplied PSL —
    // the full-algorithm extraction threaded through every member of
    // the domain family, not just the quality rollup.
    // The quota's SCALE spelling: per-domain quality histogram →
    // prefix-sum rank threshold → map-side filter; no per-doc rank
    // window (the mega-publisher escape hatch, implemented). Ties at
    // the threshold are all kept — the stated histogram tie rule.
    "source_quota_threshold" -> ((s, dir) =>
      graft.text.Curation.sourceQuotaThreshold(graft.Tables.documents(s, dir))),
    "domain_quota_threshold" -> ((s, dir) =>
      graft.text.Domains.domainQuotaThreshold(graft.Tables.documents(s, dir))),
    "domain_quota_ext" -> ((s, dir) =>
      graft.text.Domains.domainQuotaExt(graft.Tables.documents(s, dir))),
    "domain_dedup_ext" -> ((s, dir) =>
      graft.text.Domains.domainDedupExt(graft.Tables.documents(s, dir))),
    // Audit-driven publisher blocklist (the salted_auto discipline on
    // the curation axis): the per-domain classifier pass share decides
    // which publishers are blocked wholesale; per-doc verdict relation.
    "domain_autoblock" -> ((s, dir) =>
      graft.text.Domains.domainAutoblock(graft.Tables.documents(s, dir))),
    // ---- LLM-data-pipeline extensions: deduplication ----
    "exact_dup_clusters" -> ((s, dir) =>
      Dedup.exactDupClusters(graft.Tables.documents(s, dir))),
    // Accent-folded fingerprint variant: café/cafe copies share a
    // cluster — the fold_marks pass threaded into the dedup key.
    "exact_dup_clusters_norm" -> ((s, dir) =>
      Dedup.exactDupClustersNorm(graft.Tables.documents(s, dir))),
    "minhash_bands" -> ((s, dir) =>
      Dedup.minhashBands(graft.Tables.documents(s, dir))),
    // Bucket-occupancy report over the pairing population: the size
    // distribution + exact pair bound that predicts the LSH join's cost.
    "band_occupancy" -> ((s, dir) =>
      Dedup.bandOccupancy(graft.Tables.documents(s, dir))),
    // The SimHash twin of the occupancy report: same Σ sz·(sz−1)/2
    // pair bound over the Hamming-band (band, nibble) buckets.
    "simhash_occupancy" -> ((s, dir) =>
      Dedup.simhashOccupancy(graft.Tables.documents(s, dir))),
    "near_dup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(graft.Tables.documents(s, dir))),
    // Threshold calibration: candidate-pair counts per agreement level
    // (the S-curve read off the corpus; every minMatch's yield is a
    // prefix sum of these 17 rows).
    "near_dup_score_hist" -> ((s, dir) =>
      Dedup.nearDupScoreHist(graft.Tables.documents(s, dir))),
    // Exact-substring duplication (the ExactSubstr axis): maximal
    // cross-doc verbatim token spans, their per-doc share, and the
    // scrubbed text with the spans removed.
    "dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(graft.Tables.documents(s, dir))),
    "dup_span_stats" -> ((s, dir) =>
      Dedup.dupSpanStats(graft.Tables.documents(s, dir))),
    "dup_span_scrub" -> ((s, dir) =>
      Dedup.dupSpanScrub(graft.Tables.documents(s, dir))),
    // Per-source exact-duplication rate: which feed is reposting.
    "dedup_by_source" -> ((s, dir) =>
      Dedup.dedupBySource(graft.Tables.documents(s, dir))),
    // Span family's incremental entry: shard windows vs the persisted
    // corpus window-hash relation; only the shard pays the sweep.
    "incremental_dup_spans" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      Dedup.incrementalDupSpans(
        docs.filter(col("doc_id") % 10 === 9),
        Dedup.windowShingles(docs.filter(col("doc_id") % 10 =!= 9)))
    }),
    "near_dup_jaccard" -> ((s, dir) =>
      Dedup.nearDupJaccard(graft.Tables.documents(s, dir))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(graft.Tables.documents(s, dir))),
    // Duplication profile: cluster-size histogram (singletons at 1);
    // sum(size * n_clusters) = corpus size.
    "dedup_cluster_sizes" -> ((s, dir) =>
      Dedup.dedupClusterSizes(graft.Tables.documents(s, dir))),
    // The graded star-contraction face: dedup_clusters itself (one
    // component algorithm), same oracle and the same cache entry.
    "dedup_clusters_star" -> ((s, dir) =>
      Dedup.dedupClusters(graft.Tables.documents(s, dir))),
    // Quality-aware survivor policy: same components, but the kept copy
    // is the highest-classifier-margin member, not the smallest id.
    "dedup_clusters_best" -> ((s, dir) =>
      Dedup.dedupClustersBest(graft.Tables.documents(s, dir))),
    // The full chain on accent-folded text: fingerprints AND sketches
    // see café==cafe, so accent variants unite end to end.
    "dedup_clusters_norm" -> ((s, dir) =>
      Dedup.dedupClustersNorm(graft.Tables.documents(s, dir))),
    // The exact-cluster face of the same knob (margin-ordered keeper).
    "exact_dup_clusters_best" -> ((s, dir) =>
      Dedup.exactDupClustersBest(graft.Tables.documents(s, dir))),
    // Policy × identity composed: accent-folded clusters keep the
    // highest-margin copy (margin scored on the ORIGINAL text).
    "exact_dup_clusters_best_norm" -> ((s, dir) =>
      Dedup.exactDupClustersBestNorm(graft.Tables.documents(s, dir))),
    // The near-dup face of the same composition: the full folded chain
    // with the margin-ordered survivor on top.
    "dedup_clusters_best_norm" -> ((s, dir) =>
      Dedup.dedupClustersBestNorm(graft.Tables.documents(s, dir))),
    // Nightly-ingest twin: shard = doc_id % 10 = 9 (scale-invariant 10%
    // split); corpus fingerprints/bands recomputed here from the other
    // 90% — in production they'd be parquet reads of the persisted
    // relations. Full ingest composition: exact-known content is dropped
    // by the fingerprint anti-join FIRST (its complement is the
    // exact-dup verdict), then only genuinely-new content enters
    // near-dup candidate pairing — which is also what keeps the
    // persisted band relation from accumulating one keeper per shard
    // for the same boilerplate.
    "incremental_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.incrementalNearDupPairs(
        Dedup.newContent(docs.filter(col("doc_id") % 10 === 9),
          Dedup.contentFingerprints(corpus)),
        Dedup.signatureBands(corpus))
    }),
    // Nightly-ingest admission manifest (same shard split): per shard
    // doc, the keep/drop verdict with reasons against the persisted
    // corpus fingerprints + signature bands — pipeline_manifest's
    // incremental sibling.
    "ingest_manifest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.ingestManifest(docs.filter(col("doc_id") % 10 === 9),
        Dedup.contentFingerprints(corpus), Dedup.signatureBands(corpus))
    }),
    "corpus_keep" -> ((s, dir) =>
      graft.text.Curation.corpusKeep(graft.Tables.documents(s, dir))),
    // All five gate families in one verdict (dup ×2, quality score,
    // Gopher rules, classifier gate, decontamination), same benchmark
    // split as the decontaminate queries: bench = doc_id % 50 = 0.
    "corpus_keep_full" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.text.Curation.corpusKeepFull(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // The SAME verdict with the domain gate keyed on the caller-supplied
    // PSL (full wildcard/exception semantics): the production extractor
    // and the production verdict share one code path, so a publisher
    // sharding across wildcard-ruled subdomains is capped per
    // registrable domain INSIDE the keep conjunction.
    "corpus_keep_full_ext" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.text.Curation.corpusKeepFullExt(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        graft.text.Domains.pslFromSources(docs))
    }),
    // One-row dataset card: docs/langs/sources, content-derived char and
    // token totals, distinct content, exact-dup rate in millionths.
    "corpus_card" -> ((s, dir) =>
      graft.text.Curation.corpusCard(graft.Tables.documents(s, dir))),
    // The five-gate verdict collapsed to the curation yield table: per
    // reason-combination document counts (<= 2^7 rows).
    "corpus_keep_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.text.Curation.corpusKeepStats(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // Deterministic hash-based train/val/test assignment (map-only; a
    // doc's split never changes as the corpus grows).
    "corpus_split" -> ((s, dir) =>
      graft.text.Curation.splitAssign(graft.Tables.documents(s, dir))),
    // Leakage audit: duplicated content whose copies span >= 2 splits
    // (train memorizes what val measures); healthy corpus => empty.
    // The near-dup face of the leak audit: candidate pairs whose
    // endpoints land in different splits (both splits computed map-side
    // from the ids on the pair row — no corpus join).
    "split_leak_fuzzy" -> ((s, dir) =>
      graft.text.Curation.splitLeakFuzzy(graft.Tables.documents(s, dir))),
    "split_leak_report" -> ((s, dir) =>
      graft.text.Curation.splitLeakReport(graft.Tables.documents(s, dir))),
    // Deterministic source-mixture downsampling: per-source hash
    // thresholds from integer weights; corpus pass stays map-only.
    "corpus_mix" -> ((s, dir) =>
      graft.text.Curation.corpusMix(graft.Tables.documents(s, dir))),
    // Oversampling twin: rebalance to the weights at constant total size,
    // emitting per-doc repeat counts (epochs) — overweight sources get
    // n_repeats > 1, underweight ones hash-threshold down, map-only.
    "corpus_mix_epochs" -> ((s, dir) =>
      graft.text.Curation.corpusMixEpochs(graft.Tables.documents(s, dir))),
    // Absolute per-source cap (the anti-domination guard next to the
    // mix's proportional weights): best-N by quality, total ordering.
    "source_quota" -> ((s, dir) =>
      graft.text.Curation.sourceQuota(graft.Tables.documents(s, dir))),
    // Corpus version diff: old = docs minus the %10=0 ids ("new in v2"),
    // new = docs minus the %10=9 ids with %10=5 texts edited — per id:
    // same/changed/added/removed + moved-content flag via the distinct
    // fingerprint relations (a scale-invariant synthetic version pair).
    "corpus_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = graft.Tables.documents(s, dir)
      graft.text.Curation.corpusDiff(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 =!= 9).withColumn("text",
          when(col("doc_id") % 10 === 5, concat(col("text"), lit(" edited v2")))
            .otherwise(col("text"))))
    }),
    // Sharded sequence packing: per-shard running token sums bin docs
    // into ~2048-token training sequences (window per shard, parallel).
    "pack_sequences" -> ((s, dir) =>
      graft.text.Curation.packSequences(graft.Tables.documents(s, dir))),
    // Chunked variant: overlong docs split at the exact budget
    // boundaries they cross, so no bin ever exceeds the token budget.
    "pack_sequences_chunked" -> ((s, dir) =>
      graft.text.Curation.packSequencesChunked(graft.Tables.documents(s, dir))),
    // Oversampled packing: each doc's corpus_mix_epochs repeat copies
    // materialized (map-side explode) and packed, copies scattered
    // across shards by the (doc_id, epoch) hash key.
    "pack_sequences_epochs" -> ((s, dir) =>
      graft.text.Curation.packSequencesEpochs(graft.Tables.documents(s, dir))),
    // The whole pipeline in one DAG: curate → keep → split → pack,
    // one scan + one tokenize pass end to end.
    "pipeline_manifest" -> ((s, dir) =>
      graft.text.Curation.pipelineManifest(graft.Tables.documents(s, dir))),
    // Same composition with the chunked packer: the manifest a
    // fixed-context trainer consumes (no bin ever exceeds the budget).
    "pipeline_manifest_chunked" -> ((s, dir) =>
      graft.text.Curation.pipelineManifestChunked(graft.Tables.documents(s, dir))),
    // The closed tokenizer loop: learn BPE merges on the kept corpus,
    // encode every kept doc, chunk-pack on the BPE token counts — bins
    // hold exactly `budget` TOKENIZER tokens, which is what a trainer
    // actually consumes. One tokenize pass feeds keep/learn/encode/split.
    "pipeline_manifest_bpe" -> ((s, dir) =>
      graft.text.Curation.pipelineManifestBpe(graft.Tables.documents(s, dir))),
    // The written training artifact end-to-end through the driver gate:
    // curate → learn merges → encode to token ids → chunk-pack → write
    // partitionBy(split, shard) → re-read, each chunk's id slice
    // summarized to (n_ids, ids_sum) for the oracle compare. Like
    // edge_count_csv, the write happens eagerly at construction (the
    // round-trip IS the operator); bench time includes the sink+scan.
    "training_shards" -> ((s, dir) =>
      graft.text.Curation.trainingShardsReport(graft.Tables.documents(s, dir),
        scratch("train_shards", dir))),
    // The nightly-append composition: base artifact written (8 hash
    // shards), then a synthesized nightly batch (doc_id + 1e6, suffixed
    // text — unseen words included) appended as shard 8 encoded under
    // the FROZEN base merges via dynamic partition overwrite; result is
    // the appended delta's per-chunk report. Batch admission (dedup /
    // quality vs the corpus) is ingest_manifest's job — this is the
    // write that follows it.
    "training_shards_incr" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val docs = graft.Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(col("text"), lit(" nightly batch")).as("text"))
      graft.text.Curation.trainingShardsIncr(docs, batch,
        scratch("train_shards_incr", dir))
    }),
    // The shard writer proven TOKENIZER-AGNOSTIC: the same curate →
    // encode → chunk-pack → partitioned write → pruned re-read
    // composition with the UNIGRAM tokenizer in the encoder seat — the
    // vocabulary induced on the kept corpus, PERSISTED, RELOADED, and
    // the batch encoded frozen (the production path); oracle = the
    // induced chain (frozen ≡ induced, the unigram_encode_frozen
    // contract extended to the full trainer-facing artifact).
    "training_shards_unigram" -> ((s, dir) =>
      graft.text.Curation.trainingShardsUnigramReport(
        graft.Tables.documents(s, dir),
        scratch("train_shards_unigram", dir),
        scratch("train_shards_unigram_vocab", dir))),
    // The unigram nightly append: base shards + PERSISTED vocabulary
    // written, then the synthesized batch (unseen words included)
    // appended as shard 8 encoded FROZEN under the reloaded artifact —
    // the full unigram artifact lifecycle (train_shards_incr's seam,
    // second tokenizer family).
    "training_shards_unigram_incr" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val docs = graft.Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(col("text"), lit(" nightly batch")).as("text"))
      graft.text.Curation.trainingShardsUnigramIncr(docs, batch,
        scratch("train_shards_unigram_incr", dir),
        scratch("train_shards_unigram_incr_vocab", dir))
    }),
    // Benchmark decontamination: benchmark = doc_id % 50 = 0 (a 2%
    // scale-invariant "eval set"), train = the rest; flags train docs
    // sharing >= 1 distinct 13-token shingle with any benchmark doc
    // (Dedup.DecontaminationWindow — the production n-gram width; the
    // dedup family's 3-shingles flagged 52% of fixture train docs).
    "decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      Dedup.contamination(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // Contamination severity (same split): per train doc, the FRACTION
    // of its shingles the benchmark contains — clean docs present at 0.
    "decontaminate_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      Dedup.contaminationOverlap(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // The reverse rollup (same split): per benchmark item, how many
    // distinct train docs leak it — the eval owner's burn report.
    "decontaminate_report" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      Dedup.contaminationReport(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // Fuzzy sibling (same split): train docs whose MinHash signature
    // agrees >= 8/16 with some benchmark doc — the paraphrased-leak case
    // exact-window shingle matching misses by design.
    "decontaminate_fuzzy" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      Dedup.contaminationFuzzy(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    "doc_simhash" -> ((s, dir) =>
      Dedup.docSimhash(graft.Tables.documents(s, dir))),
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(graft.Tables.documents(s, dir))),
    // SimHash sibling of incremental_dedup (same shard split, same
    // newContent-first composition): shard vs the persisted 16-byte
    // (doc_id, simhash) corpus sketch.
    "incremental_simhash" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.incrementalSimhashPairs(
        Dedup.newContent(docs.filter(col("doc_id") % 10 === 9),
          Dedup.contentFingerprints(corpus)),
        Dedup.simhashSketch(corpus))
    }),
    // ---- LLM-data-pipeline extensions: embedding similarity ----
    // Corpus health report: per (dims, norm² band) counts with -1/0
    // sentinel bands for un-scorable and zero vectors.
    "embed_norm_stats" -> ((s, dir) =>
      Similarity.embedNormStats(graft.Tables.embeddings(s, dir))),
    // Similarity-structure report: all-pairs cosine over a bounded
    // sample prefix, banded to 1/20ths.
    "embed_sim_hist" -> ((s, dir) =>
      Similarity.embedSimHist(graft.Tables.embeddings(s, dir))),
    "embed_knn" -> ((s, dir) =>
      Similarity.embedKnn(graft.Tables.embeddings(s, dir))),
    "embed_ann_pairs" -> ((s, dir) =>
      Similarity.embedAnnPairs(graft.Tables.embeddings(s, dir))),
    "embed_ann_knn" -> ((s, dir) =>
      Similarity.embedAnnKnn(graft.Tables.embeddings(s, dir))),
    // ANN acceptance audit: per-query recall of the bucket-probe search
    // against exact top-k ground truth, exact millionths.
    "ann_recall" -> ((s, dir) =>
      Similarity.annRecall(graft.Tables.embeddings(s, dir))),
    "embed_ivf_knn" -> ((s, dir) =>
      Similarity.embedIvfKnn(graft.Tables.embeddings(s, dir))),
    // Product quantization (Jégou et al. 2011): the memory-bound ANN
    // scale path — coded corpus, codebook-health report, ADC+rerank
    // search, and its recall audit against exact ground truth.
    "pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(graft.Tables.embeddings(s, dir))),
    "pq_occupancy" -> ((s, dir) =>
      Similarity.pqOccupancy(graft.Tables.embeddings(s, dir))),
    "embed_pq_knn" -> ((s, dir) =>
      Similarity.embedPqKnn(graft.Tables.embeddings(s, dir))),
    "pq_recall" -> ((s, dir) =>
      Similarity.pqRecall(graft.Tables.embeddings(s, dir))),
    // Hashed-TF document vectors (feature hashing) + doc-similarity kNN:
    // the text→vector bridge; the whole similarity stack runs on these.
    "doc_vectors" -> ((s, dir) =>
      graft.ml.DocVectors.docVectorsExploded(graft.Tables.documents(s, dir))),
    "doc_knn" -> ((s, dir) =>
      graft.ml.DocVectors.docKnn(graft.Tables.documents(s, dir))),
    "doc_dedup" -> ((s, dir) =>
      graft.ml.DocVectors.docDedup(graft.Tables.documents(s, dir))),
    "doc_ann_knn" -> ((s, dir) =>
      graft.ml.DocVectors.docAnnKnn(graft.Tables.documents(s, dir))),
    "doc_ann_recall" -> ((s, dir) =>
      graft.ml.DocVectors.docAnnRecall(graft.Tables.documents(s, dir))),
    // nightly shard encoded under FROZEN corpus-trained codebooks — the
    // PQ member of the incremental family.
    "incremental_pq" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = graft.Tables.embeddings(s, dir)
      Similarity.pqEncode(e.filter(col("vec_id") % 10 === 9),
        Similarity.pqCodebooksOf(e.filter(col("vec_id") % 10 =!= 9)))
    }),
    // Semantic dedup (SemDeDup-style): connected components over the
    // cosine-similarity pair graph, star-contraction iterator. Threshold
    // 0.3 sits inside the fixture corpus's similarity range (its ANN
    // pairs top out near 0.43 — synthetic embeddings cluster weakly);
    // real embedding corpora run ~0.8+, a constant not a plan change.
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(graft.Tables.embeddings(s, dir),
        simThreshold = 0.3)),
    // k-NN label classification over the labeled embedding corpus:
    // queries broadcast, one corpus scan, bounded-state top-k, majority
    // vote on the ≤ nQueries·k winner rows.
    "knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(graft.Tables.embeddings(s, dir))),
    // The ANN face of the occupancy report: the (table, bucket) space's
    // size distribution + exact pair bound, from counts only.
    "ann_occupancy" -> ((s, dir) =>
      Similarity.annOccupancy(graft.Tables.embeddings(s, dir))),
    // The IVF face: per inverted list, member count + exact-int corpus
    // share — the probe-cost model and quantizer-health check.
    "ivf_occupancy" -> ((s, dir) =>
      Similarity.ivfOccupancy(graft.Tables.embeddings(s, dir))),
    // Nightly-shard IVF: only the shard assigns, centroids FROZEN from
    // the corpus (vec_id % 10 split — the incremental-family shape).
    "incremental_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = graft.Tables.embeddings(s, dir)
      Similarity.incrementalIvfAssign(e.filter(col("vec_id") % 10 === 9),
        Similarity.kmeansCentroidsOf(e.filter(col("vec_id") % 10 =!= 9),
          16, 5))
    }),
    // Nightly-ingest twin for embeddings: shard = vec_id % 10 = 9; the
    // corpus vector/band sketches are parquet reads of persisted
    // relations in production — here they're derived, so checkpoint them
    // once (the vector relation feeds both rescore sides AND the band
    // derivation; uncached it would recompute the corpus quantize
    // pipeline ~3x, which no real deployment pays).
    "incremental_ann" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = graft.Tables.embeddings(s, dir)
      val corpusV = Similarity.vectors(e.filter(col("vec_id") % 10 =!= 9))
        .localCheckpoint()
      Similarity.incrementalAnnPairs(e.filter(col("vec_id") % 10 === 9),
        corpusV, Similarity.annBands(corpusV).localCheckpoint())
    }),
    // ---- LLM-data-pipeline extensions: multimodal binary columns ----
    "media_features" -> ((s, dir) =>
      graft.multimodal.Media.mediaFeatures(graft.Tables.documents(s, dir))),
    "media_frames" -> ((s, dir) =>
      graft.multimodal.Media.frameSample(graft.Tables.documents(s, dir))),
    "media_resize" -> ((s, dir) =>
      graft.multimodal.Media.mediaResize(graft.Tables.documents(s, dir))),
    // Format-AWARE twins: WAV sample frames at their true layout with
    // sample-accurate timestamps; BMP scanline downscale at the real
    // 4-byte-aligned row stride.
    "media_frames_wav" -> ((s, dir) =>
      graft.multimodal.Media.audioFrames(graft.Tables.documents(s, dir))),
    "media_resize_bmp" -> ((s, dir) =>
      graft.multimodal.Media.imageRows(graft.Tables.documents(s, dir))),
    // Container duration + sample-count face: mvhd timescale/duration
    // (v0 AND v1 planted) on the nested box walk; WAV frames/rate with
    // the honest truncation clamp. All-integer microseconds.
    "media_duration" -> ((s, dir) =>
      graft.multimodal.Media.mediaDuration(graft.Tables.documents(s, dir))),
    // The four content sketch families (image aHash over real BMP
    // scanlines, audio amplitude hash over the walked WAV samples, video
    // stride hash over the walked mdat, PNG/JPEG stride hash over the
    // first IDAT / post-SOS entropy stream) register their six faces
    // each from MediaFamily.all — see mediaFamilyFaces below.
    // The composed media-lake curation verdict (the corpus_keep
    // discipline for binary payloads): kind sniff, decode eligibility,
    // exact payload fingerprint dup, per-modality content clusters
    // (exact copies entering via copy->keeper edges), keep as the
    // conjunction — plus the yield rollup and the one-row dataset card.
    "media_keep" -> ((s, dir) =>
      graft.multimodal.MediaKeep.mediaKeep(graft.Tables.documents(s, dir))),
    // Best-copy survivor policy threaded through the composed verdict
    // (r16): same clusters, but the surviving content copy maximizes
    // the modality quality metric — a truncated re-upload with a
    // smaller id loses to the intact original. Projects the SAME
    // cached verdict relation as media_keep.
    "media_keep_best" -> ((s, dir) =>
      graft.multimodal.MediaKeep.mediaKeepBest(graft.Tables.documents(s, dir))),
    "media_keep_stats" -> ((s, dir) =>
      graft.multimodal.MediaKeep.mediaKeepStats(graft.Tables.documents(s, dir))),
    "media_card" -> ((s, dir) =>
      graft.multimodal.MediaKeep.mediaCard(graft.Tables.documents(s, dir))),
    // Nightly-ingest twin of the composed verdict: the shard's keep
    // verdict against the persisted corpus state (fp keepers + keeper
    // sketches + cluster labels + per-cluster best) — equals
    // batch-restricted-to-shard, only never-seen-fingerprint shard
    // payloads pay decode + hash. The best/stats/card faces project
    // the same cached shard relation.
    "incremental_media_keep" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.multimodal.MediaKeep.incrementalMediaKeep(
        docs.filter(col("doc_id") % 10 === 9),
        graft.multimodal.MediaKeep.mediaCorpusState(
          docs.filter(col("doc_id") % 10 =!= 9)))
    }),
    "incremental_media_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.multimodal.MediaKeep.incrementalMediaKeepBest(
        docs.filter(col("doc_id") % 10 === 9),
        graft.multimodal.MediaKeep.mediaCorpusState(
          docs.filter(col("doc_id") % 10 =!= 9)))
    }),
    "incremental_media_keep_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.multimodal.MediaKeep.incrementalMediaKeepStats(
        docs.filter(col("doc_id") % 10 === 9),
        graft.multimodal.MediaKeep.mediaCorpusState(
          docs.filter(col("doc_id") % 10 =!= 9)))
    }),
    "incremental_media_card" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.multimodal.MediaKeep.incrementalMediaCard(
        docs.filter(col("doc_id") % 10 === 9),
        graft.multimodal.MediaKeep.mediaCorpusState(
          docs.filter(col("doc_id") % 10 =!= 9)))
    }),
    // The PERSISTED-state lifecycle (the training_shards discipline —
    // the round-trip IS the operator): corpus state written as seven
    // parquet tables, reloaded, shard verdict run against the reloaded
    // relations. Same oracle as incremental_media_keep: a green row
    // proves the parquet round-trip loses nothing the verdict reads.
    "incremental_media_keep_persisted" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      graft.multimodal.MediaKeep.incrementalMediaKeepPersisted(
        docs.filter(col("doc_id") % 10 === 9),
        docs.filter(col("doc_id") % 10 =!= 9),
        scratch("media_state", dir))
    }),
    // ---- LLM-data-pipeline extensions: event streams ----
    "events_sessions" -> ((s, dir) =>
      Events.sessionize(graft.Tables.events(s, dir))),
    "events_hourly" -> ((s, dir) =>
      Events.hourlyRollup(graft.Tables.events(s, dir))),
    "top_events_per_user" -> ((s, dir) =>
      Events.topEventsPerUser(graft.Tables.events(s, dir))),
    // Ordered view→click→purchase funnel: sequential first-times per
    // user (a purchase before the first view doesn't count).
    "events_funnel" -> ((s, dir) =>
      Events.funnel(graft.Tables.events(s, dir))),
    // Day-cohort retention matrix: first-activity-day cohorts counted
    // at each active day offset.
    "events_retention" -> ((s, dir) =>
      Events.retention(graft.Tables.events(s, dir))),
    // Funnel with a 48h conversion window: stages 2/3 only count within
    // the window of the user's first stage-1 event.
    "events_funnel_windowed" -> ((s, dir) =>
      Events.funnelWindowed(graft.Tables.events(s, dir))),
    // Rolling 7-day distinct actives per day (WAU) — the sliding
    // distinct count via bounded map-side coverage explode.
    "events_wau" -> ((s, dir) =>
      Events.rollingActiveUsers(graft.Tables.events(s, dir))),
    // DAU / trailing-30 MAU ratio per day in exact millionths.
    "events_stickiness" -> ((s, dir) =>
      Events.stickiness(graft.Tables.events(s, dir))),
    // As-of join: each purchase attributed to the same user's most
    // recent at-or-before view (union-tag + one running window — never
    // the quadratic inequality join).
    "events_asof" -> ((s, dir) =>
      Events.asofAttribution(graft.Tables.events(s, dir))),
    // Range join: errors anywhere in the trailing 5 min of each
    // purchase, via the bucketed equi-join rewrite (never a
    // nested-loop range predicate).
    "events_nearby" -> ((s, dir) =>
      Events.nearbyEventCounts(graft.Tables.events(s, dir))),
    // User-journey Markov matrix: immediate type→type transitions per
    // user sequence, conditional probabilities in exact millionths.
    "events_transitions" -> ((s, dir) =>
      Events.eventTransitions(graft.Tables.events(s, dir))),
    // PIVOT surface: hour × declared event-type counts, wide + zero-filled.
    "events_pivot" -> ((s, dir) =>
      Events.eventPivot(graft.Tables.events(s, dir))),
    // KMV sketch set-ops: per event-type-pair audience union/intersection
    // estimates from the K-min synopses, audited against the exact join.
    "audience_overlap" -> ((s, dir) =>
      graft.events.Audience.audienceOverlap(graft.Tables.events(s, dir))),
    // Second-order journeys: consecutive 3-step type sequences with a
    // distributed count-floor filter (never a global top-k sort).
    "events_journeys" -> ((s, dir) =>
      Events.eventJourneys(graft.Tables.events(s, dir))),
    // ---- relational star-schema surface (grouping sets, windowed
    // top-k, semi-joins, star joins) over the TPC-H-ish tables ----
    "sales_rollup" -> ((s, dir) =>
      graft.relational.Sales.salesRollup(
        graft.Tables.lineitem(s, dir), graft.Tables.table(s, dir, "supplier"),
        graft.Tables.table(s, dir, "nation"), graft.Tables.table(s, dir, "region"))),
    "top_suppliers_per_region" -> ((s, dir) =>
      graft.relational.Sales.topSuppliersPerRegion(
        graft.Tables.lineitem(s, dir), graft.Tables.table(s, dir, "supplier"),
        graft.Tables.table(s, dir, "nation"), graft.Tables.table(s, dir, "region"))),
    "pricing_summary" -> ((s, dir) =>
      graft.relational.Sales.pricingSummary(graft.Tables.lineitem(s, dir))),
    "late_order_priority" -> ((s, dir) =>
      graft.relational.Sales.lateOrderPriority(
        graft.Tables.table(s, dir, "orders"), graft.Tables.lineitem(s, dir))),
    "segment_revenue" -> ((s, dir) =>
      graft.relational.Sales.segmentRevenue(
        graft.Tables.lineitem(s, dir), graft.Tables.table(s, dir, "orders"),
        graft.Tables.table(s, dir, "customer"))),
    "brand_revenue" -> ((s, dir) =>
      graft.relational.Sales.brandRevenue(
        graft.Tables.lineitem(s, dir), graft.Tables.table(s, dir, "part"))),
    "customers_without_orders" -> ((s, dir) =>
      graft.relational.Sales.customersWithoutOrders(
        graft.Tables.table(s, dir, "customer"),
        graft.Tables.table(s, dir, "orders"))),
    "order_sizes" -> ((s, dir) =>
      graft.relational.Sales.orderSizes(graft.Tables.lineitem(s, dir))),
    // Bloom runtime-filter acceptance audit: probe rows / bloom passes /
    // true matches / false positives, exact-int rates — hash-exact in
    // both engines via the portable hash family.
    "bloom_prefilter" -> ((s, dir) =>
      graft.relational.RuntimeFilters.bloomAudit(
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.lineitem(s, dir))),
    // The closed runtime-filter loop: the filter's own occupancy routes
    // the probe through the prefilter or a pass-through bit relation;
    // the oracle is the UNFILTERED join (result identity, either way).
    "bloom_auto" -> ((s, dir) =>
      graft.relational.RuntimeFilters.bloomAutoRevenue(
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.lineitem(s, dir))),
    // DATA-DRIVEN Bloom sizing: the filter width m is an exact
    // power-of-two ladder over the build-side distinct count, carried
    // as data through the bit relation (positions mod m, lifted into
    // the static NumBits domain so the probe plan never changes), then
    // routed by occupancy exactly as bloom_auto; oracle = the
    // unfiltered join (result identity at every m and either route).
    "bloom_sized" -> ((s, dir) =>
      graft.relational.RuntimeFilters.bloomSizedRevenue(
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.lineitem(s, dir))),
    // The sized filter's acceptance audit — unlike the revenue gate,
    // this oracle REPRODUCES the ladder, the mod-m positions, and the
    // lift bit-for-bit in DuckDB.
    "bloom_sized_audit" -> ((s, dir) =>
      graft.relational.RuntimeFilters.bloomSizedAudit(
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.lineitem(s, dir))),
    // The sizing verdict itself as a 1-row relation: (n_keys, m).
    "bloom_size_verdict" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.relational.RuntimeFilters.bloomSizeVerdict(
        graft.Tables.table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")), "o_orderkey")
    }),
    // The TPC-H Q3/Q5 star-join shapes: selective top-k unshipped
    // revenue, and same-nation customer/supplier volume by region.
    "shipping_priority" -> ((s, dir) =>
      graft.relational.Sales.shippingPriority(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.table(s, dir, "customer"))),
    "returned_revenue" -> ((s, dir) =>
      graft.relational.Sales.returnedRevenue(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.table(s, dir, "customer"))),
    "local_supplier_volume" -> ((s, dir) =>
      graft.relational.Sales.localSupplierVolume(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.table(s, dir, "customer"),
        graft.Tables.table(s, dir, "supplier"),
        graft.Tables.table(s, dir, "nation"),
        graft.Tables.table(s, dir, "region"))),
    // ---- time-series analytics over the orders fact (round 10):
    // calendar rollup, MoM trend, RFM scoring, running LTV ----
    "revenue_monthly" -> ((s, dir) =>
      graft.relational.Timeline.revenueMonthly(
        graft.Tables.table(s, dir, "orders"))),
    "revenue_trend" -> ((s, dir) =>
      graft.relational.Timeline.revenueTrend(
        graft.Tables.table(s, dir, "orders"))),
    "customer_rfm" -> ((s, dir) =>
      graft.relational.Timeline.customerRfm(
        graft.Tables.table(s, dir, "orders"))),
    "revenue_running" -> ((s, dir) =>
      graft.relational.Timeline.revenueRunning(
        graft.Tables.table(s, dir, "orders"))),
    "ship_latency_quartiles" -> ((s, dir) =>
      graft.relational.Timeline.shipLatencyQuartiles(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "orders"))),
    // Salting rewrites, oracle-gated by result-IDENTITY with the
    // unsalted queries (the rewrite's whole contract).
    "salted_brand_revenue" -> ((s, dir) =>
      graft.relational.SkewJoin.saltedBrandRevenue(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "part"))),
    "salted_order_rollup" -> ((s, dir) =>
      graft.relational.SkewJoin.saltedOrderRollup(
        graft.Tables.lineitem(s, dir))),
    // The closed loop: join_skew's audit relation DECIDES, per key,
    // which path each row takes — hot keys salt, the tail stays plain.
    // Same result-identity oracle as the manual spellings.
    "salted_auto" -> ((s, dir) =>
      graft.relational.SkewJoin.autoSaltedBrandRevenue(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "part"))),
    // The aggregation-skew symmetry of salted_auto: the audit routes
    // hot keys through the (key, salt) pre-agg while the uniform tail
    // takes the straight single-phase agg; the two branches partition
    // the keys, so the oracle is the UNSALTED rollup.
    "salted_rollup_auto" -> ((s, dir) =>
      graft.relational.SkewJoin.saltedRollupAuto(
        graft.Tables.lineitem(s, dir))),
    // Incremental hot-key audit: the persisted per-key count artifact
    // merged with the shard's counts re-aggregates to the whole-fact
    // audit exactly (counts are additive) — the oracle IS the
    // whole-fact hotKeys relation. Threshold 2x mean so the fixture's
    // order-size head is actually flagged (the default salts x mean
    // would be empty on the near-uniform TPC-H key).
    "incremental_hot" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val fact = graft.Tables.lineitem(s, dir).select(col("l_orderkey"))
      val corpusCounts = graft.relational.SkewJoin.keyCounts(
        fact.filter(col("l_orderkey") % 10 =!= 9), "l_orderkey")
        .localCheckpoint()
      graft.relational.SkewJoin.incrementalHotKeys(corpusCounts,
        fact.filter(col("l_orderkey") % 10 === 9), "l_orderkey", 2000000L)
    }),
    // ---- warehouse maintenance (round 10): the pre-publish
    // referential gate and the relational incremental merge ----
    "referential_audit" -> ((s, dir) =>
      graft.relational.Warehouse.referentialAudit(
        graft.Tables.lineitem(s, dir),
        graft.Tables.table(s, dir, "orders"),
        graft.Tables.table(s, dir, "customer"),
        graft.Tables.table(s, dir, "part"))),
    // Rollup merge theorem as the incremental gate: rollup(stored) ⊕
    // rollup(batch) must hash-match the oracle's whole-fact rollup.
    "incremental_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.lineitem(s, dir)
      graft.relational.Warehouse.incrementalRollup(
        li.filter(col("l_orderkey") % 10 =!= 9),
        li.filter(col("l_orderkey") % 10 === 9),
        graft.Tables.table(s, dir, "supplier"),
        graft.Tables.table(s, dir, "nation"),
        graft.Tables.table(s, dir, "region"))
    }),
    // Zone-map manifest (per fixed-width key zone: min/max/count) and
    // the range-predicate skipping audit it prices.
    "zone_map" -> ((s, dir) =>
      graft.sources.ZoneMaps.zoneMap(graft.Tables.lineitem(s, dir), "l_orderkey")),
    "zone_skip" -> ((s, dir) =>
      graft.sources.ZoneMaps.zoneSkip(graft.Tables.lineitem(s, dir), "l_orderkey")),
    // Equi-depth re-sharding plan computed from the manifest alone.
    "compaction_plan" -> ((s, dir) =>
      graft.sources.ZoneMaps.compactionPlan(graft.Tables.lineitem(s, dir), "l_orderkey")),
    // Merge theorem as the incremental gate: manifest(corpus) ⊕
    // manifest(shard) must hash-match the oracle's whole-table manifest.
    "incremental_zone_map" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.lineitem(s, dir)
      graft.sources.ZoneMaps.zoneMapMerge(
        graft.sources.ZoneMaps.zoneMap(li.filter(col("l_suppkey") % 10 =!= 9), "l_orderkey"),
        graft.sources.ZoneMaps.zoneMap(li.filter(col("l_suppkey") % 10 === 9), "l_orderkey"))
    }),
    // Join-key skew audit: the pre-shuffle salting decision input.
    "join_skew" -> ((s, dir) =>
      graft.relational.RuntimeFilters.joinSkew(
        graft.Tables.lineitem(s, dir), "l_orderkey")),
    // KMV merge theorem as the incremental gate: min-K(stored ⊕ shard)
    // must hash-match the oracle's whole-corpus min-K relation.
    "incremental_kmv" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val ev = graft.Tables.events(s, dir)
      graft.events.Audience.incrementalKmv(
        ev.filter(col("event_id") % 10 =!= 9),
        ev.filter(col("event_id") % 10 === 9))
    }),
    // CMS merge theorem as the incremental gate: sketch(stored ⊕ shard)
    // must hash-match the oracle's whole-corpus sketch.
    "incremental_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(s, dir)
      TextAnalysis.cmsTokenCountsMerged(
        docs.filter(col("doc_id") % 10 =!= 9),
        docs.filter(col("doc_id") % 10 === 9))
    }),
  ) ++ mediaFamilyFaces.map { case (n, q, _) => n -> q }

  /** The six faces of every content sketch family ([[graft.multimodal
    * .MediaFamily]]), as `(query name, query, oracle SQL)` — one loop
    * registers all of them in [[queries]] and [[oracleSql]] (the SQL is
    * built only when [[oracleSql]] asks). Faces: the 8-byte sketch,
    * banded-Hamming near-dup pairs, star-contraction clusters (cluster
    * id = min member), the best-copy cluster face (highest resolution /
    * longest clip / most content survives), the band occupancy cost
    * report, and the nightly shard-vs-persisted-sketch pairing (shard =
    * doc_id % 10 = 9). */
  private def mediaFamilyFaces
      : Seq[(String, (SparkSession, String) => DataFrame, () => String)] = {
    import org.apache.spark.sql.functions.col
    def docs(s: SparkSession, dir: String) = graft.Tables.documents(s, dir)
    graft.multimodal.MediaFamily.all.flatMap { f =>
      val n = f.name
      Seq[(String, (SparkSession, String) => DataFrame, () => String)](
        (s"${n}_ahash", (s, dir) => f.ahash(docs(s, dir)), () => f.ahashSql),
        (s"${n}_dup_pairs", (s, dir) => f.dupPairs(docs(s, dir)),
          () => f.dupPairsSql()),
        (s"${n}_dup_clusters", (s, dir) => f.dupClusters(docs(s, dir)),
          () => f.dupClustersSql()),
        (s"${n}_dup_clusters_best",
          (s, dir) => f.dupClustersBest(docs(s, dir)),
          () => f.dupClustersBestSql()),
        (s"${n}_occupancy", (s, dir) => f.occupancy(docs(s, dir)),
          () => f.occupancySql),
        (s"incremental_${n}_dup", (s, dir) => {
          val d = docs(s, dir)
          f.incrementalPairs(d.filter(col("doc_id") % 10 === 9),
            f.keyed(f.ahash(d.filter(col("doc_id") % 10 =!= 9)))
              .localCheckpoint())
        }, () => f.incrementalPairsSql()))
    }
  }

  /** The reference five as SPARK SQL text (round-8 directive #8) — the
    * spellings a SQL-first user runs over the registered `edges` view,
    * keyed by the same names as [[queries]]. Each is pinned to its
    * DataFrame twin by GraphSqlSpec: canonicalized physical-plan
    * EQUALITY plus result agreement, so the SQL surface inherits the
    * weighted-rewrite/semi-join/broadcast plans unchanged. */
  def sqlQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.graph.GraphSql
    def over(sql: String): (SparkSession, String) => DataFrame = (s, dir) => {
      GraphSql.registerEdges(edges(s, dir))
      s.sql(sql)
    }
    def overEvents(sql: String): (SparkSession, String) => DataFrame =
      (s, dir) => {
        graft.events.EventsSql.registerEvents(graft.Tables.events(s, dir))
        s.sql(sql)
      }
    // text-domain entries: the widen decision is computed from the live
    // relation (graft.Tables.widenFactor) and spliced as a REPARTITION
    // hint so the SQL plan is the DataFrame plan, repartition included
    def overDocs(build: Option[Int] => String): (SparkSession, String) => DataFrame =
      (s, dir) => {
        val docs = graft.Tables.documents(s, dir)
        graft.text.TextSql.registerDocuments(docs)
        s.sql(build(graft.Tables.widenFactor(docs)))
      }
    import graft.text.TextSql
    import graft.relational.SalesSql
    def overSales(sql: String): (SparkSession, String) => DataFrame =
      (s, dir) => {
        SalesSql.registerSales(s, dir)
        s.sql(sql)
      }
    Map(
      // the checkpoint-free text family (round-9 directive #4)
      "text_stats" -> overDocs(_ => TextSql.textStatsSparkSql),
      "lang_id" -> overDocs(_ => TextSql.langIdSparkSql),
      "lang_id_ngram" -> overDocs(_ => TextSql.langIdNgramSparkSql),
      "quality_rules" -> overDocs(TextSql.qualityRulesSparkSql),
      "classifier_score" -> overDocs(TextSql.classifierScoreSparkSql),
      "pii_scrub" -> overDocs(_ => TextSql.piiScrubSparkSql),
      "corpus_histogram" -> overDocs(TextSql.corpusHistogramSparkSql),
      "text_normalize" -> overDocs(TextSql.textNormalizeSparkSql),
      "token_profile" -> overDocs(_ => TextSql.tokenProfileSparkSql),
      "doc_fingerprint" -> overDocs(TextSql.fingerprintsSparkSql),
      "corpus_stats" -> overDocs(_ => TextSql.corpusStatsSparkSql),
      "source_quality" -> overDocs(TextSql.sourceQualitySparkSql),
      // the registrable-domain curation axis (r11) — same checkpoint-free
      // rollup/quota/attribution shapes, keyed on the extracted eTLD+1
      "domain_quality" -> overDocs(TextSql.domainQualitySparkSql),
      "domain_quota" -> overDocs(TextSql.domainQuotaSparkSql),
      "domain_dedup" -> overDocs(TextSql.domainDedupSparkSql),
      // dedup domain: the exact-duplicate clusterings (checkpoint-free)
      "exact_dup_clusters" -> overDocs(_ => TextSql.exactDupClustersSparkSql),
      "exact_dup_clusters_norm" ->
        overDocs(_ => TextSql.exactDupClustersNormSparkSql),
      // ML domain: the embedding-corpus health rollup over a
      // registered embeddings view
      "embed_norm_stats" -> ((s, dir) => {
        val emb = graft.Tables.embeddings(s, dir)
        graft.ml.Similarity.registerEmbeddings(emb)
        s.sql(graft.ml.Similarity.embedNormStatsSparkSql(
          graft.Tables.widenFactor(emb)))
      }),
      "edge_count" -> over(GraphSql.edgeCountSql(Some(CensusMax))),
      "exact_2hop" -> over(GraphSql.twoHopCountSql(None)),
      "approx_2hop" -> over(GraphSql.twoHopCountSql(Some(PathMax))),
      "rsjoin_triangles" -> over(GraphSql.triangleCounterSql(Some(PathMax))),
      "repjoin_triangles" -> over(
        GraphSql.triangleCounterSql(Some(PathMax), broadcastClosing = true)),
      // the non-iterative graph extensions (plan-equality holds for the
      // checkpoint-free operators; the iterative family's eager
      // localCheckpoint rounds have no SQL twin by construction)
      "mutual_follows" -> over(GraphSql.mutualFollowsSql()),
      "degree_report" -> over(GraphSql.degreeReportSql()),
      "degree_histogram" -> over(GraphSql.degreeHistogramSql()),
      "degree_mixing" -> over(GraphSql.degreeMixingSql()),
      "triangle_participation" -> over(
        GraphSql.triangleParticipationSql(Some(PathMax))),
      "follow_suggestions" -> over(GraphSql.followSuggestionsSql()),
      // the event-analytics family over a registered events view (the
      // second SQL domain; events_wau stays DataFrame-only — its span
      // cap rides a localCheckpoint no SQL text expresses)
      "events_hourly" -> overEvents(graft.events.EventsSql.hourlyRollupSql()),
      "events_sessions" -> overEvents(graft.events.EventsSql.sessionizeSql()),
      "top_events_per_user" -> overEvents(
        graft.events.EventsSql.topEventsPerUserSql()),
      "events_retention" -> overEvents(graft.events.EventsSql.retentionSql()),
      "events_asof" -> overEvents(graft.events.EventsSql.asofAttributionSql()),
      "events_nearby" -> overEvents(
        graft.events.EventsSql.nearbyEventCountsSql()),
      "events_transitions" -> overEvents(
        graft.events.EventsSql.eventTransitionsSparkSql()),
      // the relational star-schema family over the registered TPC-H-ish
      // views (round 10) — the SQL surface now spans every domain
      "pricing_summary" -> overSales(SalesSql.pricingSummarySparkSql()),
      "order_sizes" -> overSales(SalesSql.orderSizesSparkSql),
      "brand_revenue" -> overSales(SalesSql.brandRevenueSparkSql),
      "segment_revenue" -> overSales(SalesSql.segmentRevenueSparkSql),
      "customers_without_orders" ->
        overSales(SalesSql.customersWithoutOrdersSparkSql),
      "late_order_priority" ->
        overSales(SalesSql.lateOrderPrioritySparkSql()),
      "sales_rollup" -> overSales(SalesSql.salesRollupSparkSql),
      "top_suppliers_per_region" ->
        overSales(SalesSql.topSuppliersPerRegionSparkSql()),
      "shipping_priority" -> overSales(SalesSql.shippingPrioritySparkSql()),
      "returned_revenue" -> overSales(SalesSql.returnedRevenueSparkSql()),
      "local_supplier_volume" ->
        overSales(SalesSql.localSupplierVolumeSparkSql),
      // the time-series + maintenance families (round 10)
      "revenue_monthly" ->
        overSales(graft.relational.TimelineSql.revenueMonthlySparkSql),
      "revenue_trend" ->
        overSales(graft.relational.TimelineSql.revenueTrendSparkSql),
      "customer_rfm" ->
        overSales(graft.relational.TimelineSql.customerRfmSparkSql),
      "revenue_running" ->
        overSales(graft.relational.TimelineSql.revenueRunningSparkSql),
      "referential_audit" ->
        overSales(graft.relational.TimelineSql.referentialAuditSparkSql),
      "ship_latency_quartiles" ->
        overSales(graft.relational.TimelineSql.shipLatencyQuartilesSparkSql),
      "salted_order_rollup" ->
        overSales(graft.relational.TimelineSql.saltedOrderRollupSparkSql),
    )
  }

  /** Queries whose FIRST run in a session builds a session-scoped
    * cached relation (the [[graft.SessionCache]] families: the
    * token-pair relation, the media verdict, the media corpus state +
    * incremental shard verdict). Owned HERE, next to the queries (r16
    * verdict directive #5): [[graft.Bench]] warms exactly this set so
    * the by-design build-then-cached pass asymmetry cannot read as
    * machine-load spread — a new session-cached family added to
    * `queries` must add its builder here, not in a Bench literal.
    * One member per cache suffices (the cache is shared by the
    * family's faces); listed members must exist in [[queries]]. */
  val sessionWarm: Seq[String] =
    Seq("token_rarity", "media_card", "incremental_media_keep",
      // r16 optimization round: the curation keep verdicts (three-gate,
      // seven-gate literal + PSL), the kept corpus feeding the shard
      // writers, the learned tokenizer artifacts (BPE merge rounds on
      // the full / benchmark-slice / kept corpora, the induced unigram
      // vocabulary), and the trained ANN quantizers (k-means centroids,
      // PQ codebooks + coded corpus, full + incremental corpora) — one
      // representative per (cache, key) so the build-then-cached pass
      // asymmetry never reads as machine-load spread
      "corpus_keep", "corpus_keep_full", "corpus_keep_full_ext",
      "training_shards", "training_shards_unigram",
      "bpe_encode", "bpe_coverage_ext", "unigram_encode",
      "embed_ivf_knn", "incremental_ivf",
      "embed_pq_knn", "incremental_pq",
      // the shared cluster contractions (text: plain/folded keys;
      // dedup_clusters_star is dedup_clusters' key)
      "dedup_clusters", "dedup_clusters_norm") ++
    // the persisted media sketch relations (full + incremental corpus
    // keys each), then the whole-lake Hamming cluster contractions:
    // keyed on (sketch plan, maxHamming, pairing tag) since r17 — the
    // ahash warms build only the sketch, not the contraction, so without
    // these the first pass pays the ~2 s contraction build and the
    // by-design asymmetry reads as spread ~35 (r17 round-start bench)
    Seq("%s_ahash", "incremental_%s_dup", "%s_dup_clusters").flatMap(face =>
      graft.multimodal.MediaFamily.all.map(f => face.format(f.name)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "edge_count" ->
      s"""$EdgeCte
         |SELECT count(*) AS edge_count FROM edges
         |WHERE src < $CensusMax AND dst < $CensusMax""".stripMargin,
    "edge_count_csv" ->
      s"""$EdgeCte
         |SELECT count(*) AS edge_count FROM edges
         |WHERE src < $CensusMax AND dst < $CensusMax""".stripMargin,
    // clean = every edge line; quarantine = the planted corrupted
    // copies ((src·31+dst) % 97 = 0); census = MAX filter over clean.
    "edge_census_quarantine" ->
      s"""$EdgeCte
         |SELECT CAST(count(*) AS BIGINT) AS n_clean,
         |  CAST(count(CASE WHEN (src * 31 + dst) % 97 = 0 THEN 1 END)
         |    AS BIGINT) AS n_quarantine,
         |  CAST(count(CASE WHEN src < $CensusMax AND dst < $CensusMax
         |    THEN 1 END) AS BIGINT) AS census_count
         |FROM edges""".stripMargin,
    "exact_2hop" ->
      s"""$EdgeCte,
         |ind  AS (SELECT dst AS y, count(*) AS indeg  FROM edges GROUP BY dst),
         |outd AS (SELECT src AS y, count(*) AS outdeg FROM edges GROUP BY src)
         |SELECT CAST(COALESCE(SUM(indeg * outdeg), 0) AS BIGINT) AS two_hop_count
         |FROM ind JOIN outd USING (y)""".stripMargin,
    "exact_2hop_join" ->
      s"""$EdgeCte
         |SELECT count(*) AS two_hop_count
         |FROM edges e1 JOIN edges e2 ON e1.dst = e2.src""".stripMargin,
    "approx_2hop" ->
      s"""$EdgeCte,
         |f AS (SELECT * FROM edges WHERE src < $PathMax AND dst < $PathMax)
         |SELECT count(*) AS two_hop_count
         |FROM f e1 JOIN f e2 ON e1.dst = e2.src""".stripMargin,
    "twohop_paths" ->
      s"""$EdgeCte,
         |f AS (SELECT * FROM edges WHERE src < $PathMax AND dst < $PathMax)
         |SELECT e1.src AS x, e1.dst AS y, e2.dst AS z,
         |       count(*) AS path_count
         |FROM f e1 JOIN f e2 ON e1.dst = e2.src
         |GROUP BY 1, 2, 3
         |ORDER BY x, y, z, path_count""".stripMargin,
    "rsjoin_triangles" -> triangleOracle,
    "repjoin_triangles" -> triangleOracle,
    "triangles_oriented" -> GraphPatterns.trianglesOrientedSql(
      EdgeLists.lineitemEdgeSql, Some(PathMax)),
    "pagerank" -> GraphPatterns.pageRankSql(EdgeLists.lineitemEdgeSql),
    "pagerank_conserving" ->
      GraphPatterns.pageRankSql(EdgeLists.lineitemEdgeSql, conserve = true),
    "pagerank_personalized" ->
      GraphPatterns.pageRankPersonalizedSql(EdgeLists.lineitemEdgeSql, 10L),
    "graph_distances" ->
      GraphPatterns.graphDistancesSql(EdgeLists.lineitemEdgeSql, 10L),
    "graph_widest" ->
      GraphPatterns.widestPathsSql(EdgeLists.lineitemEdgeSql, 10L),
    "graph_communities" ->
      GraphPatterns.labelCommunitiesSql(EdgeLists.lineitemEdgeSql),
    "graph_components" -> GraphPatterns.connectedComponentsSql(EdgeLists.lineitemEdgeSql),
    "graph_scc" -> GraphPatterns.stronglyConnectedComponentsSql(EdgeLists.lineitemEdgeSql),
    "degree_report" -> GraphPatterns.degreeReportSql(EdgeLists.lineitemEdgeSql),
    "mutual_follows" -> GraphPatterns.mutualFollowsSql(EdgeLists.lineitemEdgeSql),
    "triangle_participation" -> GraphPatterns.triangleParticipationSql(
      EdgeLists.lineitemEdgeSql, Some(PathMax)),
    "graph_summary" -> GraphPatterns.graphSummarySql(EdgeLists.lineitemEdgeSql),
    "follow_suggestions" ->
      GraphPatterns.followSuggestionsSql(EdgeLists.lineitemEdgeSql),
    "hits_scores" -> GraphPatterns.hitsScoresSql(EdgeLists.lineitemEdgeSql),
    "kcore" -> GraphPatterns.kCoreSql(EdgeLists.lineitemEdgeSql),
    "follower_jaccard" ->
      GraphPatterns.followerJaccardSql(EdgeLists.lineitemEdgeSql),
    "follower_jaccard_capped" ->
      GraphPatterns.followerJaccardCappedSql(EdgeLists.lineitemEdgeSql),
    "degree_histogram" ->
      GraphPatterns.degreeHistogramSql(EdgeLists.lineitemEdgeSql),
    "degree_mixing" ->
      GraphPatterns.degreeMixingSql(EdgeLists.lineitemEdgeSql),
    "node_reciprocity" ->
      GraphPatterns.nodeReciprocitySql(EdgeLists.lineitemEdgeSql),
    "text_stats" -> TextAnalysis.textStatsSql,
    "lang_id" -> TextAnalysis.langIdSql,
    "lang_id_ngram" -> TextAnalysis.langIdNgramSql,
    "token_profile" -> TextAnalysis.tokenProfileSql,
    "doc_fingerprint" -> TextAnalysis.fingerprintsSql,
    "corpus_stats" -> TextAnalysis.corpusStatsSql,
    "corpus_stats_jsonl" -> TextAnalysis.corpusStatsSql,
    "doc_repetition" -> TextAnalysis.docRepetitionSql(),
    "pii_scrub" -> graft.text.Pii.piiScrubSql,
    "vocab_topk" -> TextAnalysis.vocabTopKSql(),
    "quality_rules" -> TextAnalysis.qualityRulesSql,
    "vocab_coverage" -> TextAnalysis.vocabCoverageSql(),
    "vocab_coverage_ext" -> TextAnalysis.vocabCoverageExtSql(),
    "vocab_mincount" -> TextAnalysis.vocabByMinCountSql(),
    "bpe_merges" -> TextAnalysis.bpeMergesSql(),
    "bpe_encode" -> TextAnalysis.bpeEncodeSql(),
    "bpe_tokenize" -> TextAnalysis.bpeTokenizeSql(),
    "bpe_fertility" -> TextAnalysis.bpeFertilitySql(),
    "bpe_coverage_ext" -> TextAnalysis.bpeCoverageExtSql(),
    "unigram_vocab" -> graft.text.Unigram.unigramVocabSql,
    "unigram_encode" -> graft.text.Unigram.unigramEncodeSql,
    // deliberately the INDUCED-encode oracle: frozen ≡ induced is the gate
    "unigram_encode_frozen" -> graft.text.Unigram.unigramEncodeSql,
    "unigram_fertility" -> graft.text.Unigram.unigramFertilitySql,
    "unigram_tokenize" -> graft.text.Unigram.unigramTokenizeSql,
    "token_rarity" -> TextAnalysis.tokenRaritySql,
    "lm_score" -> TextAnalysis.lmScoreSql,
    "tfidf_terms" -> TextAnalysis.tfidfTermsSql(),
    "length_quartiles" -> TextAnalysis.lengthQuartilesSql,
    "cms_token_counts" -> TextAnalysis.cmsTokenCountsSql,
    "cms_heavy_hitters" -> TextAnalysis.cmsHeavyHittersSql(),
    "classifier_score" -> TextAnalysis.classifierScoreSql,
    "boilerplate_blocks" -> TextAnalysis.boilerplateBlocksSql(),
    "boilerplate_scrub" -> TextAnalysis.boilerplateScrubSql(),
    "text_normalize" -> TextAnalysis.textNormalizeSql,
    "corpus_histogram" -> TextAnalysis.corpusHistogramSql,
    "source_quality" -> TextAnalysis.sourceQualitySql,
    "domain_quality" -> graft.text.Domains.domainQualitySql,
    "domain_quota" -> graft.text.Domains.domainQuotaSql(),
    "domain_dedup" -> graft.text.Domains.domainDedupSql,
    "domain_quality_ext" -> graft.text.Domains.domainQualityExtSql,
    "domain_quota_ext" -> graft.text.Domains.domainQuotaExtSql(),
    "domain_quota_threshold" -> graft.text.Domains.domainQuotaThresholdSql(),
    "source_quota_threshold" ->
      graft.text.Curation.sourceQuotaThresholdSql(),
    "domain_dedup_ext" -> graft.text.Domains.domainDedupExtSql,
    "domain_autoblock" -> graft.text.Domains.domainAutoblockSql(),
    "corpus_mix_plan" -> graft.text.Mixture.mixPlanSql(),
    "corpus_mix_waterfill" -> graft.text.Mixture.mixWaterfillSql(),
    "corpus_mix_sample" -> graft.text.Mixture.mixSampleSql(),
    "incremental_mix_plan" -> graft.text.Mixture.mixPlanSql(),
    "exact_dup_clusters" -> Dedup.exactDupClustersSql,
    "exact_dup_clusters_norm" -> Dedup.exactDupClustersNormSql,
    "minhash_bands" -> Dedup.minhashBandsSql,
    "band_occupancy" -> Dedup.bandOccupancySql,
    "near_dup_pairs" -> Dedup.nearDupPairsSql,
    "near_dup_score_hist" -> Dedup.nearDupScoreHistSql,
    "dup_spans" -> Dedup.dupSpansSql(),
    "dup_span_stats" -> Dedup.dupSpanStatsSql(),
    "dup_span_scrub" -> Dedup.dupSpanScrubSql(),
    "incremental_dup_spans" -> Dedup.incrementalDupSpansSql(),
    "dedup_by_source" -> Dedup.dedupBySourceSql,
    "near_dup_jaccard" -> Dedup.nearDupJaccardSql,
    "dedup_clusters" -> Dedup.dedupClustersSql(),
    "dedup_cluster_sizes" -> Dedup.dedupClusterSizesSql(),
    "dedup_clusters_star" -> Dedup.dedupClustersSql(),
    "dedup_clusters_best" -> Dedup.dedupClustersBestSql(),
    "dedup_clusters_norm" -> Dedup.dedupClustersNormSql(),
    "exact_dup_clusters_best" -> Dedup.exactDupClustersBestSql,
    "exact_dup_clusters_best_norm" -> Dedup.exactDupClustersBestNormSql,
    "dedup_clusters_best_norm" -> Dedup.dedupClustersBestNormSql(),
    "simhash_occupancy" -> Dedup.simhashOccupancySql,
    "ann_occupancy" -> Similarity.annOccupancySql,
    "ivf_occupancy" -> Similarity.ivfOccupancySql(),
    "incremental_ivf" -> Similarity.incrementalIvfAssignSql(),
    "incremental_dedup" -> Dedup.incrementalNearDupPairsSql(),
    "ingest_manifest" -> Dedup.ingestManifestSql(),
    "corpus_keep" -> graft.text.Curation.corpusKeepSql(),
    "corpus_keep_full" -> graft.text.Curation.corpusKeepFullSql(),
    "corpus_keep_full_ext" -> graft.text.Curation.corpusKeepFullExtSql(),
    "corpus_keep_stats" -> graft.text.Curation.corpusKeepStatsSql(),
    "corpus_card" -> graft.text.Curation.corpusCardSql,
    "corpus_split" -> graft.text.Curation.splitAssignSql(),
    "split_leak_fuzzy" -> graft.text.Curation.splitLeakFuzzySql(),
    "split_leak_report" -> graft.text.Curation.splitLeakReportSql(),
    "corpus_mix" -> graft.text.Curation.corpusMixSql(),
    "source_quota" -> graft.text.Curation.sourceQuotaSql(),
    "corpus_mix_epochs" -> graft.text.Curation.corpusMixEpochsSql(),
    "corpus_diff" -> graft.text.Curation.corpusDiffSql(),
    "pack_sequences" -> graft.text.Curation.packSequencesSql(),
    "pack_sequences_chunked" -> graft.text.Curation.packSequencesChunkedSql(),
    "pack_sequences_epochs" -> graft.text.Curation.packSequencesEpochsSql(),
    "pipeline_manifest" -> graft.text.Curation.pipelineManifestSql(),
    "pipeline_manifest_chunked" -> graft.text.Curation.pipelineManifestChunkedSql(),
    "pipeline_manifest_bpe" -> graft.text.Curation.pipelineManifestBpeSql(),
    "training_shards" -> graft.text.Curation.trainingShardsSql(),
    "training_shards_incr" -> graft.text.Curation.trainingShardsIncrSql(),
    "training_shards_unigram" -> graft.text.Curation.trainingShardsUnigramSql(),
    "training_shards_unigram_incr" ->
      graft.text.Curation.trainingShardsUnigramIncrSql(),
    "decontaminate" -> Dedup.contaminationSql(),
    "decontaminate_overlap" -> Dedup.contaminationOverlapSql(),
    "decontaminate_report" -> Dedup.contaminationReportSql(),
    "decontaminate_fuzzy" -> Dedup.contaminationFuzzySql(),
    "doc_simhash" -> Dedup.docSimhashSql,
    "simhash_pairs" -> Dedup.simhashPairsSql(),
    "incremental_simhash" -> Dedup.incrementalSimhashPairsSql(),
    "embed_norm_stats" -> Similarity.embedNormStatsSql,
    "embed_sim_hist" -> Similarity.embedSimHistSql(),
    "embed_knn" -> Similarity.embedKnnSql(),
    "embed_ann_pairs" -> Similarity.embedAnnPairsSql(),
    "embed_ann_knn" -> Similarity.embedAnnKnnSql(),
    "ann_recall" -> Similarity.annRecallSql(),
    "embed_ivf_knn" -> Similarity.embedIvfKnnSql(),
    "pq_codes" -> Similarity.pqCodesSql(),
    "pq_occupancy" -> Similarity.pqOccupancySql(),
    "embed_pq_knn" -> Similarity.embedPqKnnSql(),
    "pq_recall" -> Similarity.pqRecallSql(),
    "incremental_pq" -> Similarity.incrementalPqCodesSql(),
    "doc_vectors" -> graft.ml.DocVectors.docVectorsSql,
    "doc_knn" -> graft.ml.DocVectors.docKnnSql(),
    "doc_dedup" -> graft.ml.DocVectors.docDedupSql(),
    "doc_ann_knn" -> graft.ml.DocVectors.docAnnKnnSql(),
    "doc_ann_recall" -> graft.ml.DocVectors.docAnnRecallSql(),
    "semantic_dedup" -> Similarity.semanticDedupSql(0.3),
    "knn_classify" -> Similarity.knnClassifySql(),
    "incremental_ann" -> Similarity.incrementalAnnPairsSql(),
    "media_features" -> graft.multimodal.Media.mediaFeaturesSql,
    "media_frames" -> graft.multimodal.Media.frameSampleSql(),
    "media_resize" -> graft.multimodal.Media.mediaResizeSql(),
    "media_frames_wav" -> graft.multimodal.Media.audioFramesSql(),
    "media_resize_bmp" -> graft.multimodal.Media.imageRowsSql(),
    "media_duration" -> graft.multimodal.Media.mediaDurationSql,
    "media_keep" -> graft.multimodal.MediaKeep.mediaKeepSql(),
    "media_keep_best" -> graft.multimodal.MediaKeep.mediaKeepBestSql(),
    "media_keep_stats" -> graft.multimodal.MediaKeep.mediaKeepStatsSql(),
    "media_card" -> graft.multimodal.MediaKeep.mediaCardSql(),
    "incremental_media_keep" ->
      graft.multimodal.MediaKeep.incrementalMediaKeepSql(),
    "incremental_media_keep_best" ->
      graft.multimodal.MediaKeep.incrementalMediaKeepBestSql(),
    "incremental_media_keep_stats" ->
      graft.multimodal.MediaKeep.incrementalMediaKeepStatsSql(),
    "incremental_media_card" ->
      graft.multimodal.MediaKeep.incrementalMediaCardSql(),
    // write+reload invariance: the persisted lifecycle must reproduce
    // the in-session incremental verdict, so the oracle IS that face's
    "incremental_media_keep_persisted" ->
      graft.multimodal.MediaKeep.incrementalMediaKeepSql(),
    "events_sessions" -> Events.sessionizeSql(),
    "events_hourly" -> Events.hourlyRollupSql,
    "top_events_per_user" -> Events.topEventsPerUserSql(),
    "events_funnel" -> Events.funnelSql(),
    "events_funnel_windowed" -> Events.funnelWindowedSql(),
    "events_retention" -> Events.retentionSql,
    "events_wau" -> Events.rollingActiveUsersSql(),
    "events_stickiness" -> Events.stickinessSql(),
    "events_asof" -> Events.asofAttributionSql(),
    "events_nearby" -> Events.nearbyEventCountsSql(),
    "events_transitions" -> Events.eventTransitionsSql,
    "audience_overlap" -> graft.events.Audience.audienceOverlapSql(),
    "events_pivot" -> Events.eventPivotSql,
    "events_journeys" -> Events.eventJourneysSql(),
    "sales_rollup" -> graft.relational.Sales.salesRollupSql,
    "top_suppliers_per_region" ->
      graft.relational.Sales.topSuppliersPerRegionSql(),
    "pricing_summary" -> graft.relational.Sales.pricingSummarySql(),
    "late_order_priority" -> graft.relational.Sales.lateOrderPrioritySql(),
    "segment_revenue" -> graft.relational.Sales.segmentRevenueSql,
    "brand_revenue" -> graft.relational.Sales.brandRevenueSql,
    "customers_without_orders" ->
      graft.relational.Sales.customersWithoutOrdersSql,
    "order_sizes" -> graft.relational.Sales.orderSizesSql,
    "bloom_prefilter" -> graft.relational.RuntimeFilters.bloomAuditSql(),
    "bloom_auto" -> graft.relational.RuntimeFilters.bloomAutoRevenueSql,
    "bloom_sized" -> graft.relational.RuntimeFilters.bloomSizedRevenueSql,
    "bloom_sized_audit" -> graft.relational.RuntimeFilters.bloomSizedAuditSql,
    "bloom_size_verdict" -> graft.relational.RuntimeFilters.bloomSizeVerdictSql,
    "shipping_priority" -> graft.relational.Sales.shippingPrioritySql(),
    "returned_revenue" -> graft.relational.Sales.returnedRevenueSql(),
    "local_supplier_volume" -> graft.relational.Sales.localSupplierVolumeSql,
    "revenue_monthly" -> graft.relational.Timeline.revenueMonthlySql,
    "revenue_trend" -> graft.relational.Timeline.revenueTrendSql,
    "customer_rfm" -> graft.relational.Timeline.customerRfmSql,
    "revenue_running" -> graft.relational.Timeline.revenueRunningSql,
    "ship_latency_quartiles" ->
      graft.relational.Timeline.shipLatencyQuartilesSql,
    // the salted rewrites' oracles are deliberately UNSALTED
    "salted_brand_revenue" -> graft.relational.Sales.brandRevenueSql,
    "salted_auto" -> graft.relational.Sales.brandRevenueSql,
    "salted_rollup_auto" -> graft.relational.SkewJoin.saltedOrderRollupSql,
    "salted_order_rollup" ->
      graft.relational.SkewJoin.saltedOrderRollupSql,
    "referential_audit" -> graft.relational.Warehouse.referentialAuditSql,
    // the merge is exact, so the oracle is the WHOLE-fact rollup — the
    // equality IS the incremental merge theorem
    "incremental_rollup" -> graft.relational.Sales.salesRollupSql,
    "incremental_hot" ->
      graft.relational.SkewJoin.incrementalHotKeysSql(2000000L),
    "zone_map" -> graft.sources.ZoneMaps.zoneMapSql(),
    "zone_skip" -> graft.sources.ZoneMaps.zoneSkipSql(),
    "compaction_plan" -> graft.sources.ZoneMaps.compactionPlanSql(),
    // the incremental entry's oracle IS the whole-table manifest — the
    // min/max/count merge theorem is what the hash match proves
    "incremental_zone_map" -> graft.sources.ZoneMaps.zoneMapSql(),
    "join_skew" -> graft.relational.RuntimeFilters.joinSkewSql(),
    // the incremental entry's oracle IS the whole-corpus sketch — the
    // cell-wise-sum merge theorem is what the hash match proves
    "incremental_cms" -> TextAnalysis.cmsTokenCountsSql,
    "incremental_kmv" -> graft.events.Audience.incrementalKmvSql(),
  ) ++ mediaFamilyFaces.map { case (n, _, sql) => n -> sql() }

  private def triangleOracle: String =
    s"""$EdgeCte,
       |f AS (SELECT * FROM edges WHERE src < $PathMax AND dst < $PathMax),
       |p AS (SELECT e1.src AS x, e2.dst AS z, count(*) AS pathcnt
       |      FROM f e1 JOIN f e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |      GROUP BY 1, 2)
       |SELECT CAST(COALESCE(SUM(pathcnt), 0) AS BIGINT) AS triangle_counter,
       |       CAST(FLOOR(COALESCE(SUM(pathcnt), 0) / 3.0) AS BIGINT) AS triangles_distinct
       |FROM p
       |WHERE EXISTS (SELECT 1 FROM f e WHERE e.src = p.z AND e.dst = p.x)""".stripMargin
}
