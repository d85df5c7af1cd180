package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.multimodal.{Hamming64, Media, MediaFamily, MediaKeep}

/** Streaming MEDIA-dedup admission gates — the
  * [[DocStream.dedupAgainstCorpus]] discipline for every media content
  * family ([[MediaFamily.all]], one gate for all of them): each
  * arriving payload is content-hashed at ingest (the family hash in
  * its checkpoint-free spelling — pure per-row expression work, no
  * barrier a stream cannot run) and its 4 Hamming bands probe
  * the PERSISTED corpus `(media_id, ahash)` sketch relation by a
  * stream-static equi-join. Corpus history never enters streaming
  * state — the static side is a parquet relation probed per
  * micro-batch, which is what makes "is this upload a near-copy of
  * anything in 100 TB of history" answerable at ingest at all.
  * Matches are exact `bit_count(xor)` rescored; multi-band collisions
  * of one (upload, corpus) pair collapse via
  * `dropDuplicatesWithinWatermark` exactly as
  * [[EmbedStream.annMatchesAgainstCorpus]] does, so state is the
  * watermark horizon of emitted matches, nothing more. An upload
  * matching nothing passes silently (emit-matches semantics).
  *
  * Intra-stream pairs (two near-identical uploads in one horizon) are
  * deliberately NOT emitted — the nightly batch
  * ([[graft.multimodal.MediaFamily.incrementalPairs]]) catches
  * them, exactly as `dedupAgainstCorpus` defers its history to the
  * batch pass. */
object MediaStream {

  /** `(media_id, corpus_id, hamming, event_time)` — arriving payloads
    * (`media_id, payload, ts` epoch-ns) whose `family` content lands
    * within `maxHamming` of a persisted corpus sketch row. The payload
    * is hashed at ingest by the family's checkpoint-free spelling; the
    * band probe carries the family's pairing keys, so a PNG upload can
    * only match PNG history. A metadata-edited re-upload (`moov`, tEXt,
    * EXIF churn) matches its original at Hamming 0 because only the
    * coded content is hashed. */
  def matchStream(family: MediaFamily, payloads: DataFrame,
      corpusSketch: DataFrame, maxHamming: Int = 3,
      watermarkDelay: String = "1 hour"): DataFrame =
    bandProbe(family.ahashOfPayloadsStream(
          payloads.select(col("media_id"), col("payload"),
            EventStream.eventTime.as("event_time")),
          keep = Seq("event_time"))
        .withWatermark("event_time", watermarkDelay),
      corpusSketch, family, maxHamming)
      .dropDuplicatesWithinWatermark("media_id", "corpus_id")

  /** `(media_id, corpus_id, hamming, event_time)` — the stateless
    * stream-static probe of `f`-hashed arrivals' 4 Hamming bands into
    * a persisted `f` corpus sketch, exact `bit_count(xor)` rescored. */
  private def bandProbe(hashed: DataFrame, corpusSk: DataFrame,
      f: MediaFamily, maxHamming: Int): DataFrame = {
    val keys = f.pairKeys
    val joinCols = keys ++ Seq("band", "nibble")
    val streamB = Hamming64.bands(hashed, keep = keys :+ "event_time")
    val corpusB = Hamming64.bands(f.keyed(corpusSk), keep = keys)
      .select(Seq(col("media_id").as("corpus_id"), col("ahash").as("cahash")) ++
        joinCols.map(col): _*)
    streamB.join(corpusB, joinCols)
      .select(col("media_id"), col("corpus_id"),
        bit_count(col("ahash").bitwiseXOR(col("cahash")))
          .cast("long").as("hamming"),
        col("event_time"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The COMPOSED media admission gate — the streaming face of
    * [[MediaKeep.incrementalMediaKeep]] (r16 verdict directive #1):
    * each arriving payload gets the FULL five-kind keep verdict
    * (`kind`/`eligible`/`is_exact_dup`/`is_content_dup`/`keep`) at
    * ingest, against the SAME persisted [[MediaKeep.MediaCorpusState]]
    * relations a nightly shard ingest reads — so an ingest service no
    * longer hand-composes the family gates plus exact-fp logic.
    *
    * Everything corpus-shaped is a STATELESS stream-static probe (the
    * [[DocStream.dedupAgainstCorpus]] discipline): the exact
    * fingerprint probes the persisted fp/keeper/eligible table, the
    * four family hashes (checkpoint-free per-row spellings) band-probe
    * the persisted 8-byte sketch relations (per FORMAT for PNG/JPEG),
    * and matched corpus members resolve to their persisted cluster
    * rep. The ONLY stateful operator is the final per-payload collapse
    * of multi-band/multi-family collisions — a (media_id, event_time)
    * aggregation, watermark-bounded because the watermark column is in
    * the grouping key.
    *
    * CONTRACT (the stream face of the incremental contract): for a
    * shard with no intra-shard duplicate relations — each arriving
    * payload independent of the others, which is exactly the slice of
    * the batch contract a bounded-state stream CAN own — the emitted
    * verdict rows are bit-identical to
    * [[MediaKeep.incrementalMediaKeep]] over the same payloads and
    * state. Intra-stream pairs are by-contract the nightly batch's job
    * (the [[DocStream.nearDupAgainstCorpus]] line: full history and
    * stream-vs-stream relations belong to batch), exactly as every
    * other gate here defers them. Verdict logic per payload:
    *
    *  - `is_exact_dup` — the corpus has the fingerprint AND its keeper
    *    id is smaller (a shard id below the corpus keeper becomes the
    *    merged keeper, the id-5 corner of the batch spec);
    *  - `eligible` — a corpus-known fingerprint INHERITS the persisted
    *    keeper flag; a new fingerprint is eligible iff any family
    *    hashed it here (byte-identical payloads decode identically, so
    *    the two rules agree wherever both apply);
    *  - `is_content_dup` — the minimum over {persisted cluster reps of
    *    every matched corpus member, the exact keeper's rep, the
    *    payload's own id} is smaller than the payload's id (reps are
    *    corpus cluster minima, so that minimum IS the merged
    *    component's minimum);
    *  - `keep` — the production conjunction, as in batch. */
  def mediaKeepStream(payloads: DataFrame, st: MediaKeep.MediaCorpusState,
      maxHamming: Int = 3,
      watermarkDelay: String = "1 hour"): DataFrame =
    keepStreamVerdict(payloads, st, maxHamming, watermarkDelay)
      .drop("is_content_dup_best", "keep_best")

  /** The composed admission gate under the BEST-COPY survivor policy —
    * the streaming face of [[MediaKeep.incrementalMediaKeepBest]], the
    * same policy axis the batch and incremental faces carry: the
    * arriving payload is kept iff it WINS the merged cluster's quality
    * contest instead of holding its minimum id. Same contract as
    * [[mediaKeepStream]] (no intra-shard relations; rows bit-identical
    * to the incremental best face on the same payloads and state).
    *
    * Why per-payload candidates suffice: the merged component's argmax
    * over (payload ∪ matched corpus clusters) equals the argmax over
    * (payload ∪ those clusters' persisted
    * [[MediaKeep.MediaCorpusState.clusterBest]] rows), because an
    * untouched corpus member can never outrank its own cluster's best —
    * the exact dominance argument of the incremental batch face, which
    * is why `clusterBest` is persisted at all. The payload's own metric
    * is its fresh family metric (a corpus-known fingerprint inherits
    * the persisted keeper metric instead — equal wherever both exist,
    * since byte-identical payloads decode identically). */
  def mediaKeepBestStream(payloads: DataFrame,
      st: MediaKeep.MediaCorpusState, maxHamming: Int = 3,
      watermarkDelay: String = "1 hour"): DataFrame =
    keepStreamVerdict(payloads, st, maxHamming, watermarkDelay)
      .select(col("media_id"), col("kind"), col("eligible"),
        col("is_exact_dup"),
        col("is_content_dup_best").as("is_content_dup"),
        col("keep_best").as("keep"), col("event_time"))

  /** Both survivor policies in one pass (the [[MediaKeep]] discipline:
    * the policies differ only in which cluster member is crowned, so
    * the faces are projections of one stream). */
  private def keepStreamVerdict(payloads: DataFrame,
      st: MediaKeep.MediaCorpusState, maxHamming: Int,
      watermarkDelay: String): DataFrame = {
    val sized = payloads.select(col("media_id"), col("payload"),
        hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("n_bytes"),
        EventStream.eventTime.as("event_time"))
      .withWatermark("event_time", watermarkDelay)
    val nullB = lit(null).cast("boolean")
    val nullL = lit(null).cast("long")
    val nullCand = lit(null).cast("struct<o:bigint,d:bigint>")
    // a corpus-candidate struct for the best contest: ordered like the
    // batch rollup — min(struct(-metric, id)) crowns the highest
    // metric, smallest id on ties
    def candOf(metric: org.apache.spark.sql.Column,
        id: org.apache.spark.sql.Column) =
      struct((-metric).cast("long").as("o"), id.cast("long").as("d"))
    // base row, one per payload: kind sniff through the shared
    // precedence chain, the exact-fp probe, the exact keeper's
    // persisted cluster rep as a content candidate, the keeper's
    // inherited metric, and the keeper cluster's persisted best as a
    // best-contest candidate
    val base = sized
      .select(col("media_id"), col("event_time"),
        Media.kindCase(col("h").isNull, Media.magicPreds).as("kind"),
        md5(col("h")).as("fp_md5"))
      .join(st.fps.select(col("fp_md5"),
        col("keeper_id").as("corp_keeper"),
        col("eligible").as("corp_eligible"),
        col("metric").as("corp_metric")), Seq("fp_md5"), "left")
      .join(st.comp.select(col("media_id").as("corp_keeper"),
        col("rep_id").as("keeper_rep")), Seq("corp_keeper"), "left")
      .join(st.clusterBest.select(col("rep_id").as("keeper_rep"),
        col("best_metric"), col("best_id")), Seq("keeper_rep"), "left")
      .select(col("media_id"), col("event_time"), col("kind"),
        (col("corp_keeper").isNotNull &&
          col("corp_keeper") < col("media_id")).as("is_exact_dup"),
        when(col("corp_keeper").isNotNull,
          coalesce(col("corp_eligible"), lit(false)))
          .as("inherit_eligible"),
        nullB.as("hashed"),
        coalesce(col("keeper_rep"), col("media_id")).as("cand_rep"),
        col("corp_metric").cast("long").as("pmetric"),
        when(col("best_id").isNotNull,
          candOf(col("best_metric"), col("best_id"))).as("cand"))
    // one branch per family: a `hashed` marker row (the payload
    // decoded, carrying its fresh quality metric) plus one row per
    // matched corpus member carrying the member's persisted cluster
    // rep and that cluster's persisted best. Candidate collisions that
    // fail the exact rescore emit nothing — exactly the batch pairing
    // rule.
    def familyRows(f: MediaFamily, corpusSk: DataFrame): DataFrame = {
      val hashed = f.ahashOfHexMaybeCk(sized, checkpoint = false,
          keep = Seq("event_time"))
        .withColumn("metric", f.metric)
      val marker = hashed.select(col("media_id"), col("event_time"),
        lit(null).cast("string").as("kind"), nullB.as("is_exact_dup"),
        nullB.as("inherit_eligible"), lit(true).as("hashed"),
        col("media_id").as("cand_rep"),
        col("metric").cast("long").as("pmetric"), nullCand.as("cand"))
      marker.unionByName(
        bandProbe(hashed, corpusSk, f, maxHamming)
          .join(st.comp.select(col("media_id").as("corpus_id"),
            col("rep_id")), Seq("corpus_id"))
          .join(st.clusterBest, Seq("rep_id"))
          .select(col("media_id"), col("event_time"),
            lit(null).cast("string").as("kind"),
            nullB.as("is_exact_dup"), nullB.as("inherit_eligible"),
            nullB.as("hashed"), col("rep_id").as("cand_rep"),
            nullL.as("pmetric"),
            candOf(col("best_metric"), col("best_id")).as("cand")))
    }
    val rows = MediaFamily.all.zip(st.sketches)
      .map { case (f, sk) => familyRows(f, sk) }
      .foldLeft(base)(_ unionByName _)
    // the one stateful operator: collapse the per-payload rows (base +
    // markers + band/family collisions). Grouping on the watermarked
    // event_time column keeps the state watermark-bounded and the sink
    // append-mode. The best contest: the payload's struct(-metric, id)
    // against the min over the matched clusters' persisted bests —
    // ids are unique across the lake, so the comparison never ties.
    val pstruct = candOf(coalesce(col("pm"), lit(0L)), col("media_id"))
    val isBest = col("cb").isNull || pstruct < col("cb")
    val eligible = coalesce(col("ie"), col("hn"), lit(false))
    val exact = coalesce(col("x"), lit(false))
    rows.groupBy(col("media_id"), col("event_time"))
      .agg(max(col("kind")).as("kind"),
        max(col("is_exact_dup")).as("x"),
        max(col("inherit_eligible")).as("ie"),
        max(col("hashed")).as("hn"),
        min(col("cand_rep")).as("min_rep"),
        max(col("pmetric")).as("pm"),
        min(col("cand")).as("cb"))
      .select(col("media_id"), col("kind"),
        eligible.as("eligible"),
        exact.as("is_exact_dup"),
        (col("min_rep") < col("media_id")).as("is_content_dup"),
        (eligible && !exact &&
          !(col("min_rep") < col("media_id"))).as("keep"),
        (!isBest).as("is_content_dup_best"),
        (eligible && !exact && isBest).as("keep_best"),
        col("event_time"))
  }
}
