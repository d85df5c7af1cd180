package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SessionCache.{PlanKey, planKey}

/** Unigram-LM (SentencePiece-style) subword tokenizer induction — the
  * second production tokenizer family next to the BPE stack
  * ([[TextAnalysis.bpeMerges]]): instead of greedily merging pairs, a
  * unigram model scores every candidate piece by its corpus
  * probability and segments each word by VITERBI under those scores
  * (Kudo 2018, "Subword Regularization", the SentencePiece trainer's
  * unigram mode — hard-EM variant: the E-step uses the 1-best
  * segmentation, the standard deterministic simplification).
  *
  * The pipeline, all in EXACT INT64 so both engines hash-match (the
  * pagerank / mixWaterfill discipline — no float likelihoods cross
  * engines; piece scores are fixed-point Q20 log2 costs computed by an
  * integer square-and-compare fold, bit-identical in Spark and DuckDB):
  *
  *  1. SEED — every substring of every distinct word up to
  *     [[MaxPieceBytes]] bytes, weighted by word count; the top
  *     [[SeedMultiPieces]] multi-byte candidates (count desc, piece
  *     asc) plus ALL single bytes present (closure: Viterbi always has
  *     a path).
  *  2. EM ROUNDS ([[EmRounds]], fixed — the kcore/BPE discipline, the
  *     oracle unrolls the same rounds as MATERIALIZED CTEs) — E-step:
  *     Viterbi-segment the ≤|distinct words| relation under add-one-
  *     smoothed piece costs (cost = ilog2Q20(Σ(cnt+1)) − ilog2Q20(cnt+1),
  *     ties broken by (cost, piece count, path) — a pure function of
  *     the corpus); count pieces along the chosen paths weighted by
  *     word count. M-step: those counts ARE the next round's
  *     distribution (bytes that fell out of use re-enter at count 0 —
  *     smoothing keeps their cost finite).
  *  3. PRUNE — keep all single bytes + the top [[TargetMultiPieces]]
  *     multi-byte pieces by final count (the likelihood-loss prune of
  *     the paper collapses to count rank under hard-EM counts).
  *  4. ENCODE — Viterbi-segment under the pruned vocabulary; per-doc
  *     token counts and per-language fertility mirror
  *     [[TextAnalysis.bpeEncode]] / [[TextAnalysis.bpeFertility]] so
  *     the two tokenizer families compare on the same corpus.
  *
  * Scale shape (the whole point of the word-relation formulation, same
  * as BPE's): the corpus pays ONE tokenize + word-count shuffle; every
  * EM round, the seed count, and the prune run over the ≤|distinct
  * words| / ≤|candidate pieces| relations — corpus-size-independent.
  * The per-word Viterbi is a bounded fold (word bytes × [[MaxPieceBytes]]
  * map probes against a broadcast cost map), embarrassingly parallel,
  * no shuffle. The encode face re-enters the corpus once as the
  * (doc, word) multiplicity relation — [[TextAnalysis.bpeEncode]]'s
  * exact shape.
  */
object Unigram {

  /** Longest candidate piece in BYTES — bounds the seed explosion
    * (≤ word_bytes × MaxPieceBytes substrings per word) and the
    * Viterbi fan-in per position. */
  val MaxPieceBytes: Int = 6

  /** Multi-byte seed candidates kept after substring counting. */
  val SeedMultiPieces: Int = 384

  /** Fixed EM rounds — spec-pinned converged-enough on the fixtures
    * (hard-EM counts move very little after two rounds at this vocab
    * size); the oracle unrolls the same rounds. */
  val EmRounds: Int = 2

  /** Multi-byte pieces surviving the prune (final vocab = these + all
    * single bytes present in the corpus). */
  val TargetMultiPieces: Int = 192

  /** Cost of a piece absent from the vocabulary — large enough that
    * any all-in-vocab path wins, small enough that a word-length sum
    * never overflows int64. */
  val InfCost: Long = 1000000000000000L

  /** Saturation ceiling for accumulated path cost: `least(c, CostCap)`
    * after every transition. Only ordering matters for the dp, and any
    * real piece costs ≤ ~6·10⁷ (Q20 log2 of an int64 total), so the
    * cap is unreachable on any in-vocab path; it exists for the FROZEN
    * path's adversarial corner — a very long word made entirely of
    * never-seen bytes accumulates per-byte [[InfCost]] misses, and
    * uncapped that sum crosses int64 at ~9200 bytes, which errors under
    * Spark ANSI and DuckDB alike instead of segmenting. capped + miss ≤
    * 101·InfCost, far inside int64. */
  val CostCap: Long = 100L * InfCost

  // ---- exact fixed-point log2 (Q20) ---------------------------------------
  //
  // cost(piece) = log2(total) − log2(cnt+1) in units of 2⁻²⁰, computed
  // by the classic integer square-and-compare fold: e = ⌊log2 x⌋ from
  // the binary digit count, mantissa m normalized to [2²⁰, 2²¹), then
  // 20 rounds of m ← m² >> 20 (halving when m crosses 2²¹) emit the
  // fraction bits. Every operation is int64 (m < 2²¹ so m² < 2⁴²), so
  // Spark and DuckDB produce the SAME integer — no libm, no ulp seam.

  /** Spark spelling of ilog2-Q20 of BIGINT expression `x` (≥ 1). */
  private def ilog2SparkSql(x: String): String =
    s"""aggregate(
       |  sequence(1, 20),
       |  named_struct('m', (($x) * 1048576L) div shiftleft(1L, CAST(length(bin($x)) - 1 AS INT)), 'f', 0L),
       |  (acc, s) -> CASE WHEN (acc.m * acc.m) div 1048576L >= 2097152L
       |    THEN named_struct('m', (acc.m * acc.m) div 2097152L, 'f', acc.f * 2L + 1L)
       |    ELSE named_struct('m', (acc.m * acc.m) div 1048576L, 'f', acc.f * 2L) END,
       |  acc -> (CAST(length(bin($x)) AS BIGINT) - 1L) * 1048576L + acc.f)""".stripMargin

  /** DuckDB spelling of the SAME fold — `list_reduce` has no initial-
    * value arity in DuckDB 1.0, so the init struct is PREPENDED and the
    * range elements are same-typed dummies. */
  private def ilog2DuckSql(x: String): String =
    s"""((length(bin($x))::BIGINT - 1) * 1048576 + list_reduce(
       |  list_prepend({'m': (($x) * 1048576) // (1::BIGINT << (length(bin($x)) - 1)), 'f': 0::BIGINT},
       |    list_transform(range(1, 21), s -> {'m': 0::BIGINT, 'f': 0::BIGINT})),
       |  (acc, st) -> CASE WHEN (acc.m * acc.m) // 1048576 >= 2097152
       |    THEN {'m': (acc.m * acc.m) // 2097152, 'f': acc.f * 2 + 1}
       |    ELSE {'m': (acc.m * acc.m) // 1048576, 'f': acc.f * 2} END).f)""".stripMargin

  // ---- Viterbi DP ----------------------------------------------------------
  //
  // Per word (hex string `h`, one symbol = 2 hex chars): dp over byte
  // positions 0..n, dp[j] = best (cost, n_pieces, path) ending at j,
  // transitions from j−p for p = 1..MaxPieceBytes via the piece
  // hex[j−p..j) priced by the broadcast cost map `cm`. The accumulator
  // IS the dp list (position i at index i+1), so the step index is
  // size(acc) — the spelling DuckDB 1.0's list_reduce supports (a
  // struct-wrapping-a-list accumulator miscompiles there; a bare list
  // folds correctly). Ties break by (cost, piece count, path string) —
  // total and identical in both engines, so the chosen segmentation is
  // a pure function of (word, cost map). Out-of-range candidates carry
  // a leading validity rank `bad = 1` so the struct sort can NEVER pick
  // them over a real transition (a p = 1 transition always exists):
  // without the rank, a word whose first byte misses the cost map ties
  // the invalid sentinel at InfCost and loses on piece count — the
  // FROZEN-encode seam, where a later batch carries a byte the
  // induction corpus never saw (under byte closure on the induction
  // corpus itself, misses cannot happen and the rank is inert). The
  // candidate array stays NULL-free so the min is array_sort(...)[1]
  // with no null-ordering seam.

  /** Spark spelling: one `aggregate` fold producing the final
    * struct(bad, c, np, pa) for a row carrying `h` and map column
    * `cm`. */
  private def dpSparkSql: String = {
    def cand(p: Int) = {
      val prev = s"element_at(acc, size(acc) - $p + 1)"
      val piece = s"substr(h, (size(acc) - $p) * 2 + 1, $p * 2)"
      s"""CASE WHEN size(acc) >= $p THEN named_struct(
         |      'bad', 0L,
         |      'c', least($prev.c + coalesce(try_element_at(cm, $piece), ${InfCost}L), ${CostCap}L),
         |      'np', $prev.np + 1L,
         |      'pa', concat($prev.pa, '|', $piece))
         |    ELSE named_struct('bad', 1L, 'c', ${InfCost}L, 'np', 0L, 'pa', '') END""".stripMargin
    }
    s"""aggregate(
       |  sequence(1, CAST(length(h) div 2 AS INT)),
       |  array(named_struct('bad', 0L, 'c', 0L, 'np', 0L, 'pa', '')),
       |  (acc, jj) -> concat(acc, array(element_at(array_sort(array(
       |    ${(1 to MaxPieceBytes).map(cand).mkString(",\n")})), 1))),
       |  acc -> element_at(acc, size(acc)))""".stripMargin
  }

  /** DuckDB spelling of the SAME dp — map probe is
    * `map_extract(cm, piece)[1]` (empty list → NULL on a miss). */
  private def dpDuckSql: String = {
    def cand(p: Int) = {
      val prev = s"acc[len(acc) - $p + 1]"
      val piece = s"substr(h, (len(acc) - $p) * 2 + 1, $p * 2)"
      s"""CASE WHEN len(acc) >= $p THEN {'bad': 0::BIGINT, 'c': least($prev.c + coalesce(map_extract(cm, $piece)[1], ${InfCost}::BIGINT), ${CostCap}::BIGINT),
         |      'np': $prev.np + 1, 'pa': $prev.pa || '|' || $piece}
         |    ELSE {'bad': 1::BIGINT, 'c': ${InfCost}::BIGINT, 'np': 0::BIGINT, 'pa': ''} END""".stripMargin
    }
    s"""list_reduce(
       |  list_prepend([{'bad': 0::BIGINT, 'c': 0::BIGINT, 'np': 0::BIGINT, 'pa': ''}],
       |    list_transform(range(1, len(h)//2 + 1),
       |      jj -> [{'bad': 0::BIGINT, 'c': 0::BIGINT, 'np': 0::BIGINT, 'pa': ''}])),
       |  (acc, x) -> list_append(acc, list_sort([
       |    ${(1 to MaxPieceBytes).map(cand).mkString(",\n")}])[1]))""".stripMargin
  }

  // ---- Spark pipeline ------------------------------------------------------

  /** Distinct-word relation: `(w, h, wt)` — hex is the byte-exact
    * symbol alphabet shared with BPE ([[TextAnalysis]]'s hexSeq
    * rationale: both engines agree on UTF-8 bytes with no unicode
    * segmentation seam). */
  private def wordsFromToks(t: DataFrame): DataFrame =
    t.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wt"))
      .select(col("w"), hex(encode(col("w"), "UTF-8")).as("h"), col("wt"))
      // the constant attach key rides INSIDE the checkpoint so it is a
      // real column, never a foldable literal — a foldable key lets the
      // optimizer fold the segment-map attach into the
      // BroadcastNestedLoopJoin the plan audit forbids (mixPlan idiom)
      .withColumn("k", lit(1))
      .localCheckpoint()

  /** Candidate-piece counts: every substring of 1..[[MaxPieceBytes]]
    * bytes of every word, weighted by word count (each in-word
    * occurrence counts — the SentencePiece seed's suffix-count
    * semantics at fixture scale). */
  private def seedCounts(words: DataFrame): DataFrame = {
    val nb = (length(col("h")) / lit(2)).cast("int")
    words.select(col("wt"), explode(flatten(
        transform(sequence(lit(1), least(nb, lit(MaxPieceBytes))), p =>
          transform(sequence(lit(0), nb - p), s =>
            col("h").substr(s * 2 + 1, p * 2))))).as("piece"))
      .groupBy("piece").agg(sum("wt").as("cnt"))
  }

  /** Add-one-smoothed Q20 costs over a `(piece, cnt)` vocabulary:
    * cost = ilog2(Σ(cnt+1)) − ilog2(cnt+1). The 1-row total attaches by
    * constant-key broadcast (the bpeWordIds discipline). */
  private def smoothedCosts(vocab: DataFrame): DataFrame = {
    // checkpoint WITH the key so both sides' `k` are real columns —
    // the foldable-literal spelling constant-folds this attach into a
    // BroadcastNestedLoopJoin (caught by the global plan sweep)
    val v = vocab.withColumn("k", lit(1)).localCheckpoint()
    val tot = v.groupBy("k").agg(sum(col("cnt") + lit(1L)).as("t"))
    v.join(broadcast(tot), Seq("k"))
      .select(col("piece"),
        (expr(ilog2SparkSql("t")) - expr(ilog2SparkSql("cnt + 1"))).as("cost"))
  }

  /** Collapse a cost relation to the 1-row broadcastable map. */
  private def costMapRow(costs: DataFrame): DataFrame =
    costs.agg(map_from_entries(collect_list(struct(col("piece"), col("cost"))))
        .as("cm"))
      .withColumn("k", lit(1))
      .localCheckpoint()

  /** Viterbi-segment the word relation under a cost map row:
    * `(w, h, wt, cost, np, pa)` — `pa` is the chosen pieces joined by
    * `|` (leading separator; consumers split and drop empties). */
  private def segmentWords(words: DataFrame, cmRow: DataFrame): DataFrame =
    words // carries the checkpointed `k` from wordsFromToks
      .join(broadcast(cmRow), Seq("k"))
      .withColumn("fin", expr(dpSparkSql))
      // `k` stays on the relation (it is checkpoint-real, never a
      // foldable literal) so the id-map row can attach downstream
      .select(col("k"), col("w"), col("h"), col("wt"), col("fin.c").as("cost"),
        col("fin.np").as("np"), col("fin.pa").as("pa"))
      .localCheckpoint()

  /** E-step: piece counts along the chosen segmentations. */
  private def eStepCounts(seg: DataFrame): DataFrame =
    seg.select(col("wt"), explode(split(col("pa"), "\\|")).as("piece"))
      .filter(length(col("piece")) > 0)
      .groupBy("piece").agg(sum("wt").as("cnt"))

  /** Byte closure: single-byte pieces that fell out of use re-enter at
    * count 0 (smoothing keeps their cost finite, so Viterbi always has
    * a path through raw bytes). */
  private def byteClosure(counts: DataFrame, bytes: DataFrame): DataFrame =
    counts.unionByName(
      bytes.select(col("piece"))
        .join(counts, Seq("piece"), "left_anti")
        .select(col("piece"), lit(0L).as("cnt")))

  /** The full induction: returns (words, final pruned vocabulary, final
    * segmentation under it). Each EM round is 2 checkpointed jobs over
    * the word/piece relations — the BPE loop's iterative discipline. */
  private[text] def induce(t: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val words = wordsFromToks(t)
    val seed = seedCounts(words)
    val bytes = seed.filter(length(col("piece")) === 2).localCheckpoint()
    val multi0 = seed.filter(length(col("piece")) > 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(SeedMultiPieces)
    var vocab = bytes.unionByName(multi0).localCheckpoint()
    for (_ <- 1 to EmRounds) {
      val seg = segmentWords(words, costMapRow(smoothedCosts(vocab)))
      vocab = byteClosure(eStepCounts(seg), bytes).localCheckpoint()
    }
    val multiF = vocab.filter(length(col("piece")) > 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(TargetMultiPieces)
    val vocabF = vocab.filter(length(col("piece")) === 2)
      .unionByName(multiF).localCheckpoint()
    val segF = segmentWords(words, costMapRow(smoothedCosts(vocabF)))
    (words, vocabF, segF)
  }

  /** Session-scoped reuse of the FULL INDUCTION (words, pruned vocab,
    * final segmentation) — the [[graft.SessionCache]] discipline: the
    * vocabulary is the tokenizer artifact production induces once,
    * PERSISTS, and freezes (this file's own frozen faces exist because
    * of that cadence), so a session induces once per word-relation key
    * and every face (vocab/encode/tokenize/fertility, the shard
    * writer) reuses the triple. Keyed on the PRE-checkpoint toks plan
    * ([[toksKeyed]]) or the caller's own stable plan; capacity 2 for
    * the full-corpus / kept-corpus alternation. */
  private val induceCache =
    new graft.SessionCache[PlanKey, (DataFrame, DataFrame, DataFrame)](
      capacity = 2)
  private[graft] def induceBuilds = induceCache.builds

  private def induceCached(t: DataFrame,
      key: PlanKey): (DataFrame, DataFrame, DataFrame) =
    induceCache.getOrBuild(t.sparkSession, key)(induce(t))

  /** The pruned `(piece, cnt)` vocabulary induced over an existing
    * `(doc_id, toks)` relation — the persistable artifact the frozen
    * faces reload ([[Curation.trainingShardsUnigram]]'s write). */
  private[text] def vocabFromToks(t: DataFrame): DataFrame =
    induceCached(t, planKey(t))._2

  private def toks(docs: DataFrame): DataFrame = toksKeyed(docs)._1

  /** [[toks]] plus the PRE-checkpoint plan's key — the
    * induce-cache key (the checkpointed relation itself mints a fresh
    * RDD-backed plan per call, so its hash can never match across
    * faces). */
  private def toksKeyed(docs: DataFrame): (DataFrame, PlanKey) = {
    val t0 = graft.Tables.widen(docs).select(col("doc_id"), col("lang"),
      TextAnalysis.tokens(col("text")).as("toks"))
    (t0.localCheckpoint(), planKey(t0))
  }

  /** The induced vocabulary: `(piece, n_bytes, cnt, cost_q20)` — hex
    * piece, its byte length, its final hard-EM count, and its
    * smoothed Q20 cost under the pruned distribution. */
  def unigramVocab(docs: DataFrame): DataFrame = {
    val (t, key) = toksKeyed(docs)
    val (_, vocabF, _) =
      induceCached(t.select(col("doc_id"), col("toks")), key)
    vocabF.join(smoothedCosts(vocabF).withColumnRenamed("cost", "cost_q20"),
        Seq("piece"))
      .select(col("piece"),
        (length(col("piece")) / lit(2)).cast("long").as("n_bytes"),
        col("cnt"), col("cost_q20"))
  }

  /** The per-doc count rollup shared by the induced and frozen encode
    * faces: occurrences × the word's Viterbi piece count, empty/NULL
    * docs reporting 0. */
  private def encodeRollup(t: DataFrame, segF: DataFrame): DataFrame = {
    val occ = t.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n_occ"))
    val rolled = occ.join(segF.select(col("w"), col("np")), Seq("w"))
      .groupBy("doc_id").agg(sum(col("n_occ") * col("np")).as("nu"))
    t.select(col("doc_id")).join(rolled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nu"), lit(0L)).as("n_unigram_tokens"))
  }

  /** Per-document token counts under the induced tokenizer — the
    * [[TextAnalysis.bpeEncode]] face: empty/NULL-text docs report 0. */
  def unigramEncode(docs: DataFrame): DataFrame = {
    val (t, key) = toksKeyed(docs)
    val (_, _, segF) = induceCached(t.select(col("doc_id"), col("toks")), key)
    encodeRollup(t, segF)
  }

  /** FROZEN-tokenizer encode — the unigram twin of the frozen BPE
    * apply path ([[TextAnalysis.bpeRoundsFromMergeTable]]): encode a
    * batch under a PERSISTED vocabulary relation (the
    * [[unigramVocab]] artifact, ≤ vocab-size rows of `(piece, cnt,
    * …)`) with no seeding and no EM rounds — one smoothed-cost build
    * over the artifact and one Viterbi segmentation of the batch's
    * distinct words. This is what a production nightly runs: induce
    * once, persist the vocabulary, encode every later batch under it.
    * On the induction corpus itself this reproduces [[unigramEncode]]
    * bit-identically (the oracle-gated contract — the frozen path and
    * the learner's final segmentation are the same arithmetic); on
    * unseen words the byte closure guarantees a path (every byte piece
    * is in the artifact at count ≥ 0), and a byte never seen at
    * induction costs the map-miss sentinel but still segments
    * deterministically — nothing errors, nothing vanishes.
    *
    * Scale shape: the batch pays one tokenize pass + the ≤|distinct
    * words| segmentation; the artifact attaches as the same 1-row
    * broadcast cost map the learner used. */
  def unigramEncodeWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val t = toks(docs)
    val words = wordsFromToks(t.select(col("doc_id"), col("toks")))
    val segF = segmentWords(words,
      costMapRow(smoothedCosts(vocab.select(col("piece"), col("cnt")))))
    encodeRollup(t, segF)
  }

  // ---- id-sequence face ------------------------------------------------------

  /** The 1-row broadcast id map over a vocabulary's pieces: id =
    * 1-based rank by piece (hex-string ascending — binary collation,
    * identical in both engines), a PURE FUNCTION OF THE ARTIFACT, so a
    * persisted vocabulary reloaded tomorrow assigns the same ids it
    * assigned today (the frozen-tokenizer id-stability contract; the
    * BPE family derives its ids from the merge table the same way). */
  private def idMapRow(vocab: DataFrame): DataFrame =
    vocab.agg(sort_array(collect_list(col("piece"))).as("ps"))
      .select(map_from_entries(expr(
        "transform(ps, (p, i) -> struct(p, CAST(i + 1 AS BIGINT)))")).as("im"))
      .withColumn("k", lit(1))
      .localCheckpoint()

  /** Per-word id arrays `(w, ids)` — each word's Viterbi pieces mapped
    * through the vocabulary id map (`size(ids)` = the segmentation's
    * piece count by construction). A piece absent from the map (a
    * never-seen byte on the frozen path — the miss-sentinel
    * segmentation) takes id 0, the reserved unk: nothing errors,
    * nothing vanishes, and the count faces still tile. */
  private def wordIds(segF: DataFrame, imRow: DataFrame): DataFrame =
    segF.join(broadcast(imRow), Seq("k"))
      .select(col("w"),
        expr("transform(filter(split(pa, '\\\\|'), p -> length(p) > 0), " +
          "p -> coalesce(try_element_at(im, p), 0L))").as("ids"))

  /** Encode the corpus to its unigram TOKEN-ID SEQUENCES — the
    * [[TextAnalysis.bpeTokenize]] twin for the second tokenizer family
    * (the artifact a trainer consumes, where [[unigramEncode]] stops at
    * counts): one row per token position, `(doc_id, pos, token_id)`,
    * ids from [[idMapRow]]'s deterministic vocab-rank assignment.
    * Per-doc row counts tile [[unigramEncode]]'s `n_unigram_tokens`
    * exactly (spec-pinned); empty/NULL-text docs emit no rows.
    *
    * Scale shape: the induction runs on the ≤|distinct words| relation
    * as ever; the corpus pays its tokenize pass plus ONE occurrence →
    * word equi-join and one per-doc running-position window before the
    * map-side posexplode — [[TextAnalysis.bpeTokenizeFromToks]]'
    * occurrence-sized shape, the inherent cost of materializing ids
    * per position. */
  def unigramTokenize(docs: DataFrame): DataFrame = {
    val (t, key) = toksKeyed(docs)
    val (_, vocabF, segF) =
      induceCached(t.select(col("doc_id"), col("toks")), key)
    tokenizeFromSeg(t, segF, vocabF)
  }

  private def tokenizeFromSeg(t: DataFrame, segF: DataFrame,
      vocab: DataFrame): DataFrame = {
    val wids = wordIds(segF, idMapRow(vocab.select(col("piece"))))
    val occ = t.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("word_pos", "w")))
    val j = occ.join(wids, "w")
      .withColumn("n_syms", size(col("ids")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("word_pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    j.withColumn("prev_cum", sum(col("n_syms")).over(w) - col("n_syms"))
      .select(col("doc_id"), col("prev_cum"),
        posexplode(col("ids")).as(Seq("sym_off", "token_id")))
      .select(col("doc_id"),
        (col("prev_cum") + col("sym_off")).as("pos"), col("token_id"))
  }

  /** Per-doc assembled unigram id ARRAYS `(doc_id, ids)` over a
    * `(doc_id, toks)` relation under a PERSISTED vocabulary — the
    * [[TextAnalysis.bpeDocIdsFromToks]] twin the tokenizer-agnostic
    * shard writer consumes ([[Curation.trainingShardsUnigram]]): one
    * frozen-vocab segmentation of the batch's distinct words, ids by
    * vocab rank, arrays assembled in word-position order, empty docs
    * keeping an empty array. */
  private[graft] def unigramDocIdsWith(t: DataFrame, vocab: DataFrame): DataFrame = {
    val words = wordsFromToks(t)
    val segF = segmentWords(words,
      costMapRow(smoothedCosts(vocab.select(col("piece"), col("cnt")))))
    TextAnalysis.docIdsFromWordIds(t,
      wordIds(segF, idMapRow(vocab.select(col("piece")))))
  }

  // ---- streaming frozen-encode face -----------------------------------------

  /** The frozen apply's TWO broadcastable artifacts as ONE static row:
    * the smoothed cost map `cm` and the vocab-rank id map `im`, each a
    * pure function of the PERSISTED vocabulary (so a stream encoding at
    * ingest and a nightly batch re-encode read the identical maps).
    * Attach key `k` rides along for the stream-static join. */
  private[graft] def frozenEncodeMaps(vocab: DataFrame): DataFrame =
    costMapRow(smoothedCosts(vocab.select(col("piece"), col("cnt"))))
      .join(idMapRow(vocab.select(col("piece"))), Seq("k"))
      // materialized ONCE: the stream-static side would otherwise re-run
      // the vocab-sized aggregations every micro-batch (the
      // frozenBpeMaps discipline)
      .localCheckpoint()

  /** Per-ROW frozen encode of a `toks` array under attached `cm`/`im`
    * map columns: each word's hex binds the dp's `h` as a LAMBDA
    * VARIABLE (`transform(hexes, h -> …)`), so the SAME dp text that
    * segments the distinct-word relation segments per occurrence with
    * no aggregation at all — the stateless spelling the stream face
    * needs ([[graft.streaming.EncodeStream.unigramEncodeStream]]).
    * Misses take id 0 exactly as [[wordIds]]; empty/NULL toks yield an
    * empty array (the [[TextAnalysis.docIdsFromWordIds]] contract).
    * The stream trades the batch's per-DISTINCT-word segmentation for
    * per-occurrence cost — the admission-time price of statelessness;
    * the nightly batch path stays the amortized spelling. */
  private[graft] def docIdsPerRowSql: String =
    s"""flatten(transform(
       |  transform(coalesce(toks, array()), w0 -> hex(encode(w0, 'UTF-8'))),
       |  h -> transform(
       |    filter(split(($dpSparkSql).pa, '\\\\|'), p -> length(p) > 0),
       |    p -> coalesce(try_element_at(im, p), 0L))))""".stripMargin

  /** Per-language fertility under the induced tokenizer — SAME schema
    * as [[TextAnalysis.bpeFertility]], so the two tokenizer families
    * compare column-for-column on the same corpus. */
  def unigramFertility(docs: DataFrame): DataFrame = {
    val (t, key) = toksKeyed(docs)
    val (_, _, segF) = induceCached(t.select(col("doc_id"), col("toks")), key)
    val occ = t.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n_occ"))
    val perDoc = occ.join(segF.select(col("w"), col("np")), Seq("w"))
      .groupBy("doc_id").agg(sum(col("n_occ") * col("np")).as("n_ids"))
    t.select(col("doc_id"), col("lang"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(coalesce(col("n_ids"), lit(0L))).as("n_ids"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_ids"),
        when(col("n_tokens") > 0L, expr("(n_ids * 1000000L) div n_tokens"))
          .otherwise(lit(0L)).as("ids_per_token_millionths"))
  }

  // ---- DuckDB oracle -------------------------------------------------------

  /** The whole induction as MATERIALIZED CTEs over `src` — seed, the
    * unrolled EM rounds, the prune, and the final segmentation `usegF`
    * (w, wt, np, pa). Every stage materialized (the kcore-oracle
    * lesson: each is consumed multiply). */
  private[text] def unigramCtesSql(src: String = "documents"): String = {
    def costCtes(tag: String, vocabCte: String): String =
      s"""ut$tag AS MATERIALIZED (
         |  SELECT CAST(sum(cnt + 1) AS BIGINT) AS t FROM $vocabCte
         |),
         |uc$tag AS MATERIALIZED (
         |  SELECT piece,
         |    ${ilog2DuckSql("t")} - ${ilog2DuckSql("cnt + 1")} AS cost
         |  FROM $vocabCte, ut$tag
         |),
         |um$tag AS MATERIALIZED (
         |  SELECT MAP(list(piece ORDER BY piece), list(cost ORDER BY piece)) AS cm
         |  FROM uc$tag
         |)""".stripMargin
    def segCte(tag: String): String =
      segCteNamed(s"useg$tag", "uwords", s"um$tag")
    val rounds = (1 to EmRounds).map { r =>
      s"""${costCtes(r.toString, s"uvocab${r - 1}")},
         |${segCte(r.toString)},
         |ucnt$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(wt) AS BIGINT) AS cnt
         |  FROM (SELECT wt, unnest(string_split(pa, '|')) AS piece FROM useg$r)
         |  WHERE piece <> '' GROUP BY piece
         |),
         |uvocab$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM ucnt$r
         |  UNION ALL
         |  SELECT piece, 0::BIGINT AS cnt FROM ubytes
         |  WHERE piece NOT IN (SELECT piece FROM ucnt$r)
         |)""".stripMargin
    }.mkString(",\n")
    s"""uwords AS MATERIALIZED (
       |  SELECT w, hex(w) AS h, CAST(count(*) AS BIGINT) AS wt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')) AS w
       |        FROM $src) t
       |  GROUP BY w
       |),
       |useed AS MATERIALIZED (
       |  SELECT piece, CAST(sum(wt) AS BIGINT) AS cnt FROM (
       |    SELECT wt, substr(h, CAST(s * 2 + 1 AS INT), CAST(p * 2 AS INT)) AS piece
       |    FROM uwords,
       |      UNNEST(range(1, least(len(h) // 2, $MaxPieceBytes) + 1)) up(p),
       |      UNNEST(range(0, len(h) // 2 - p + 1)) us(s)
       |  ) GROUP BY piece
       |),
       |ubytes AS MATERIALIZED (
       |  SELECT piece, cnt FROM useed WHERE len(piece) = 2
       |),
       |uvocab0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM ubytes
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM useed WHERE len(piece) > 2
       |    ORDER BY cnt DESC, piece LIMIT $SeedMultiPieces)
       |),
       |$rounds,
       |uvocabF AS MATERIALIZED (
       |  SELECT piece, cnt FROM uvocab$EmRounds WHERE len(piece) = 2
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM uvocab$EmRounds WHERE len(piece) > 2
       |    ORDER BY cnt DESC, piece LIMIT $TargetMultiPieces)
       |),
       |${costCtes("F", "uvocabF")},
       |${segCte("F")}""".stripMargin
  }

  /** One Viterbi segmentation stage as a named CTE: `wordsCte`'s
    * relation (w, h, wt) segmented under `mapCte`'s 1-row cost map. */
  private def segCteNamed(out: String, wordsCte: String,
      mapCte: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT w, h, wt, fin[len(fin)].c AS cost,
       |    fin[len(fin)].np AS np, fin[len(fin)].pa AS pa
       |  FROM (
       |    SELECT w, h, wt, $dpDuckSql AS fin
       |    FROM $wordsCte, $mapCte)
       |)""".stripMargin

  /** The FROZEN-apply chain for a later batch: the batch's own word
    * relation segmented under the INDUCTION corpus's final cost map
    * (`umF` — [[unigramCtesSql]] must precede) — the oracle spelling of
    * [[unigramEncodeWith]]/[[unigramDocIdsWith]] on unseen text, where
    * never-seen bytes take the miss-cost path the dp's validity rank
    * exists for. Ends in `usegB(w, h, wt, cost, np, pa)`. */
  private[text] def unigramApplyCtesSql(batchSrc: String): String =
    s"""ubwords AS MATERIALIZED (
       |  SELECT w, hex(w) AS h, CAST(count(*) AS BIGINT) AS wt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')) AS w
       |        FROM $batchSrc) t
       |  GROUP BY w
       |),
       |${segCteNamed("usegB", "ubwords", "umF")}""".stripMargin

  /** The id-sequence chain over the final segmentation: the vocab-rank
    * id map, per-word id arrays, and positions — ends in
    * `utoksout(doc_id, pos, token_id)` (the
    * [[TextAnalysis.bpeTokenizeCtesSql]] discipline). `src` must expose
    * `(doc_id, text)`. */
  private[text] def unigramTokenizeCtesSql(src: String = "documents",
      segCte: String = "usegF"): String =
    s"""uim AS MATERIALIZED (
       |  SELECT MAP(list(piece ORDER BY piece), list(id ORDER BY piece)) AS im
       |  FROM (SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id
       |    FROM uvocabF)
       |),
       |uwids AS MATERIALIZED (
       |  SELECT w, list_transform(list_filter(string_split(pa, '|'), p -> p <> ''),
       |    p -> coalesce(map_extract(im, p)[1], 0::BIGINT)) AS ids
       |  FROM $segCte, uim
       |),
       |uwn AS (
       |  SELECT w, CAST(len(ids) AS BIGINT) AS n_syms FROM uwids
       |),
       |udocw AS (
       |  SELECT doc_id, pr.i AS word_pos, pr.w AS w
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'i': i, 'w': toks[i]})) AS pr
       |    FROM (SELECT doc_id,
       |      regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}') AS toks
       |      FROM $src)
       |  )
       |),
       |ujw AS (
       |  SELECT doc_id, word_pos, w,
       |    CAST(sum(n_syms) OVER (PARTITION BY doc_id ORDER BY word_pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_syms
       |      AS BIGINT) AS prev_cum
       |  FROM udocw JOIN uwn USING (w)
       |),
       |utoksout AS (
       |  SELECT doc_id,
       |    CAST(prev_cum + sym.i - 1 AS BIGINT) AS pos,
       |    CAST(sym.id AS BIGINT) AS token_id
       |  FROM (
       |    SELECT doc_id, prev_cum, unnest(list_transform(range(1, len(ids) + 1),
       |      i -> {'i': i, 'id': ids[i]})) AS sym
       |    FROM ujw JOIN uwids USING (w)
       |  )
       |)""".stripMargin

  /** Oracle twin of [[unigramTokenize]]. */
  def unigramTokenizeSql: String =
    s"""WITH ${unigramCtesSql()},
       |${unigramTokenizeCtesSql()}
       |SELECT doc_id, pos, token_id FROM utoksout
       |ORDER BY doc_id, pos, token_id""".stripMargin

  /** Oracle twin of [[unigramVocab]]. */
  def unigramVocabSql: String =
    s"""WITH ${unigramCtesSql()}
       |SELECT v.piece AS piece, CAST(len(v.piece) // 2 AS BIGINT) AS n_bytes,
       |  v.cnt AS cnt, c.cost AS cost_q20
       |FROM uvocabF v JOIN ucF c ON v.piece = c.piece
       |ORDER BY piece, n_bytes, cnt, cost_q20""".stripMargin

  /** Oracle twin of [[unigramEncode]]. */
  def unigramEncodeSql: String =
    s"""WITH ${unigramCtesSql()},
       |uocc AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')) AS w
       |        FROM documents) t
       |  GROUP BY doc_id, w
       |),
       |urolled AS (
       |  SELECT doc_id, CAST(sum(n_occ * np) AS BIGINT) AS nu
       |  FROM uocc JOIN usegF USING (w) GROUP BY doc_id
       |)
       |SELECT d.doc_id AS doc_id, coalesce(nu, 0) AS n_unigram_tokens
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN urolled ON d.doc_id = urolled.doc_id
       |ORDER BY doc_id, n_unigram_tokens""".stripMargin

  /** Oracle twin of [[unigramFertility]]. */
  def unigramFertilitySql: String =
    s"""WITH ${unigramCtesSql()},
       |uocc AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')) AS w
       |        FROM documents) t
       |  GROUP BY doc_id, w
       |),
       |uperdoc AS (
       |  SELECT doc_id, CAST(sum(n_occ * np) AS BIGINT) AS n_ids
       |  FROM uocc JOIN usegF USING (w) GROUP BY doc_id
       |),
       |ubase AS (
       |  SELECT doc_id, lang,
       |    CAST(coalesce(len(regexp_extract_all(lower(text), '${TextAnalysis.TokenRe}')), 0)
       |      AS BIGINT) AS n_toks
       |  FROM documents
       |),
       |ug AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(coalesce(n_ids, 0)) AS BIGINT) AS n_ids
       |  FROM ubase LEFT JOIN uperdoc USING (doc_id) GROUP BY lang
       |)
       |SELECT lang, n_docs, n_tokens, n_ids,
       |  CAST(CASE WHEN n_tokens > 0 THEN (n_ids * 1000000) // n_tokens
       |    ELSE 0 END AS BIGINT) AS ids_per_token_millionths
       |FROM ug
       |ORDER BY lang, n_docs, n_tokens, n_ids, ids_per_token_millionths""".stripMargin
}
