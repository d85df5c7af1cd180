package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SessionCache.{PlanKey, planKey}

/** The curation verdict for the MEDIA lake — the
  * [[graft.text.Curation.corpusKeepFull]] discipline applied to binary
  * payloads (r13 verdict directive #3; r15 directive #1 threaded the
  * compressed-image family in — PNG/JPEG are the DOMINANT image kinds
  * on a real lake and previously landed as `kind = 'raw'` with their
  * content dups invisible): per payload, the reason columns
  *
  *  - `kind` — the sniffed container (bmp/gif/png/jpeg/mp4/wav/raw,
  *    NULL payload → NULL), MAGIC predicates through the SAME
  *    precedence chain [[Media.mediaFeatures]] resolves its walked
  *    kinds with ([[Media.KindOrder]] — one place the order lives, so
  *    the two sniffing surfaces cannot diverge);
  *  - `eligible` — the payload decodes COMPLETELY ENOUGH to content-
  *    fingerprint (the family gates verbatim: ≥8×8 complete 24 bpp
  *    scanlines / walked `fmt `+`data` with ≥64 clamped frames / walked
  *    `mdat` with ≥64 clamped bytes / walked `IDAT` or SOS span with
  *    ≥64 clamped bytes — judged on the payload's BYTES, so an exact
  *    copy of an eligible payload is eligible). GIF is sniffed (the
  *    dataset card must count GIFs honestly, r15 directive #4) but
  *    NEVER eligible: it has no content-identity analog
  *    ([[CompressedImageHash]] — comment extensions live inside the
  *    data stream), so GIF dedup is the exact fingerprint only;
  *  - `is_exact_dup` — not the min-id holder of its exact payload
  *    fingerprint (md5 over the payload bytes — the pre-content gate
  *    that catches bit-identical re-uploads of ANY kind, eligible or
  *    not);
  *  - `is_content_dup` — not the canonical member of its CONTENT
  *    cluster: connected components over the four modality pairing
  *    graphs ([[ImageHash]]/[[AudioHash]]/[[VideoHash]] plus
  *    [[CompressedImageHash]] paired PER FORMAT, all through the
  *    shared [[Hamming64]] body) PLUS the exact copy→keeper edges, so
  *    N byte-identical copies chain into their content cluster without
  *    N²/2 band pairs (the [[graft.text.Dedup.simhashSketch]]
  *    keeper-collapse discipline: only exact-dup KEEPERS are decoded
  *    and hashed);
  *
  * and `keep` as the production conjunction: eligible, no exact dup,
  * no content dup. Reasons stay separate for the corpus_keep re-tune
  * audit economics.
  *
  * The fixture lake composes the five family populations by GROUP
  * (modality = (doc_id div 30) % 5 over BMP/WAV/MP4/PNG/JPEG, so every
  * 30-id group keeps its full internal planted-pair structure —
  * including the PNG tEXt-churn and JPEG COM-churn metadata divergence
  * within planted pairs, so the green verdict proves the cimage gate
  * fires), carves one RAW payload per group (doc_id % 30 = 22 — the
  * ineligible population), plants one byte-identical GIF pair per
  * group (doc_id % 30 ∈ {7, 25} — proving exact dedup catches the
  * kind content identity deliberately skips), and plants one EXACT-dup
  * pair per group (doc_id % 30 ∈ {4, 19} share a byte-identical
  * group-keyed payload in the group's modality), so every gate
  * provably fires where the oracle verifies it — the
  * [[graft.text.Curation.DomainKeepQuotaN]] observability rule.
  *
  * Scale shape: ONE synthesized-payload checkpoint feeds the
  * fingerprint pass and (restricted to exact keepers by a semi-join)
  * the four hash chains; everything downstream of the decode is
  * 8-to-40-byte-row machinery — the md5 groupBy, the banded pairing
  * equi-joins, star contraction on the (sparse) duplicate graph, and
  * doc_id equi-joins back. No payload is decoded twice, no all-pairs
  * join exists anywhere. */
object MediaKeep {

  /** Exact-dup plant pattern: the family plants' multiplicative-hash
    * 16-byte pattern of group g, repeated to 256 bytes — the shared
    * [[Media.groupPatternSql]] body at a constant copy count. */
  private def patternHex(idiv: String): String =
    Media.groupPatternSql("16", idiv)

  /** The media-lake payload synthesis — ONE SQL body for both engines
    * (`textHex`/`textBytes`/the divide token are the per-engine seams):
    * group modality dispatch over the three family generators, the raw
    * carve-out, and the exact-dup plants (constant real headers — BMP
    * 10×8×24, WAV mono/8-bit/8000 Hz, MP4 with a fixed moov — around
    * the group-keyed 256-byte pattern, so ids 30g+4 and 30g+19 are
    * byte-identical). */
  // constant-header hex builders — assembled field by field at object
  // init so no hand-counted literal can silently drop a nibble
  private def leC(v: Long, n: Int): String =
    (0 until n).map(k => f"${(v >> (8 * k)) & 0xff}%02X").mkString
  private def beC(v: Long, n: Int): String =
    (0 until n).map(k => f"${(v >> (8 * (n - 1 - k))) & 0xff}%02X").mkString

  private val MatrixHex =
    "000100000000000000000000000000000001000000000000000000000000000040000000"

  /** 54-byte BMP header for a 10×8, 24 bpp, 256-pixel-byte image. */
  private val ExactBmpHdr: String =
    "424D" + leC(54 + 256, 4) + "00000000" + leC(54, 4) + leC(40, 4) +
      leC(10, 4) + leC(8, 4) + leC(1, 2) + leC(24, 2) + "00" * 24

  /** 44-byte canonical WAV header (mono, 8-bit, 8000 Hz, 256 samples). */
  private val ExactWavHdr: String =
    "52494646" + leC(36 + 256, 4) + "57415645" + "666D7420" + leC(16, 4) +
      leC(1, 2) + leC(1, 2) + leC(8000, 4) + leC(8000, 4) + leC(1, 2) +
      leC(8, 2) + "64617461" + leC(256, 4)

  /** `ftyp · moov(mvhd v0 · trak(tkhd v0)) · mdat-header` for a fixed
    * 600/1000-tick 320×240 presentation over 256 content bytes —
    * [[Media.containerHexSql]]'s box sizes. */
  private val ExactMp4Hdr: String = {
    val mvhd = beC(108, 4) + "6D766864" + "00000000" + "00000000" +
      "00000000" + beC(600, 4) + beC(1000, 4) + "00010000" + "0100" +
      "00" * 10 + MatrixHex + "00" * 24 + beC(2, 4)
    val tkhd = beC(92, 4) + "746B6864" + "00000007" + "00000000" +
      "00000000" + beC(1, 4) + "00000000" + "00000000" + "00" * 16 +
      MatrixHex + beC(320L << 16, 4) + beC(240L << 16, 4)
    beC(16, 4) + "66747970" + "69736F6D" + "00000000" +
      beC(216, 4) + "6D6F6F76" + mvhd + beC(100, 4) + "7472616B" + tkhd +
      beC(8 + 256, 4) + "6D646174"
  }

  /** PNG sig + IHDR (10×8, depth 8, truecolor) + IDAT header declaring
    * the 256 pattern bytes (no IEND — the clamp reads what is present,
    * and the plant pair stays byte-identical either way). */
  private val ExactPngHdr: String =
    Media.PngSigHex + "0000000D" + "49484452" + beC(10, 4) + beC(8, 4) +
      "08" + "02" + "000000" + "00000000" + beC(256, 4) + "49444154"

  /** SOI + APP0 + SOF0 (10×8, 1 component) + SOS header — the plant
    * appends the 256 pattern bytes and a closing EOI. */
  private val ExactJpgHdr: String =
    "FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "0048" +
      "0048" + "0000" + "FFC0" + "000B" + "08" + beC(8, 2) + beC(10, 2) +
      "01" + "011100" + "FFDA" + "0008" + "01" + "0100" + "003F00"

  /** GIF89a signature + logical screen descriptor (240×180, GCT flag +
    * color resolution 1, GCT size 1) — the plant appends the 256
    * pattern bytes and the trailer. GIF plants prove the EXACT
    * fingerprint catches the kind whose content identity is
    * deliberately absent. */
  private val ExactGifHdr: String =
    "474946383961" + leC(240, 2) + leC(180, 2) + "91" + "00" + "00"

  private def lakeHexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    val m = s"((doc_id $idiv 30) % 5)"
    val pat = patternHex(idiv)
    s"""CASE WHEN doc_id % 30 = 22 THEN $textHex
       |     WHEN doc_id % 30 IN (7, 25) THEN '$ExactGifHdr' || $pat || '3B'
       |     WHEN doc_id % 30 IN (4, 19) AND $m = 0 THEN '$ExactBmpHdr' || $pat
       |     WHEN doc_id % 30 IN (4, 19) AND $m = 1 THEN '$ExactWavHdr' || $pat
       |     WHEN doc_id % 30 IN (4, 19) AND $m = 2 THEN '$ExactMp4Hdr' || $pat
       |     WHEN doc_id % 30 IN (4, 19) AND $m = 3 THEN '$ExactPngHdr' || $pat
       |     WHEN doc_id % 30 IN (4, 19) AND $m = 4 THEN '$ExactJpgHdr' || $pat || 'FFD9'
       |     WHEN $m = 0 THEN ${ImageHash.hexSql(textHex, textBytes, idiv)}
       |     WHEN $m = 1 THEN ${AudioHash.hexSql(textHex, textBytes, idiv)}
       |     WHEN $m = 2 THEN ${VideoHash.hexSql(textHex, textBytes, idiv)}
       |     WHEN $m = 3 THEN ${CompressedImageHash.pngHexSql(textHex, textBytes, idiv)}
       |     ELSE ${CompressedImageHash.jpgHexSql(textHex, textBytes, idiv)}
       |END""".stripMargin
  }

  /** `(media_id, h, n_bytes)` — the synthesized lake, checkpointed:
    * the ONE decode-input materialization every downstream pass reads
    * (the [[Media.asContainerTable]] fixture-synthesis stance). */
  private def lakeSized(docs: DataFrame): DataFrame =
    graft.Tables.widen(docs)
      .select(col("doc_id").as("media_id"),
        expr("element_at(transform(sequence(0, 0), fixture_once -> " +
          lakeHexSql("hex(encode(text, 'utf-8'))", "octet_length(text)",
            "div") + "), 1)").as("h"))
      .withColumn("n_bytes", (length(col("h")) / 2).cast("long"))
      .localCheckpoint()

  /** Session-scoped reuse of the CHECKPOINTED verdict relation (r15
    * verdict directive #3): [[mediaKeep]], [[mediaKeepBest]],
    * [[mediaKeepStats]], and [[mediaCard]] all read the same verdict —
    * the lake synthesis, keeper pass, four hash chains, and star
    * contraction are the media surface's most expensive relation, and
    * the faces were each rebuilding it (~16 s combined at sf0.1). The
    * cache body is the shared [[graft.SessionCache]]
    * (session-reference keyed, build-once under the monitor — r16
    * directive #5); the entry key is (plan key of the docs relation,
    * maxHamming), so two spellings of the same scan share.
    * [[verdictBuilds]] counts actual builds — the spec's evidence that
    * the second face reuses instead of rebuilding. The verdict rows
    * are narrow (8 columns/payload), so the checkpoint is cheap to
    * hold. */
  private val verdictCache = new graft.SessionCache[(PlanKey, Int), DataFrame]
  private[graft] def verdictBuilds = verdictCache.builds

  private def verdictOf(docs: DataFrame, maxHamming: Int): DataFrame =
    verdictCache.getOrBuild(docs.sparkSession,
        (planKey(docs), maxHamming)) {
      verdictOfSized(lakeSized(docs), maxHamming).localCheckpoint()
    }

  /** The six verdict columns of the KEEP-FIRST (component-minimum
    * survivor) policy, and the same six with the BEST-COPY flags
    * renamed over them — the two faces project ONE cached relation, so
    * adding the policy axis cost the batch face nothing. */
  private val MinPolicyCols = Seq(col("media_id"), col("kind"),
    col("eligible"), col("is_exact_dup"), col("is_content_dup"),
    col("keep"))
  private val BestPolicyCols = Seq(col("media_id"), col("kind"),
    col("eligible"), col("is_exact_dup"),
    col("is_content_dup_best").as("is_content_dup"),
    col("keep_best").as("keep"))

  def mediaKeep(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    verdictOf(docs, maxHamming).select(MinPolicyCols: _*)

  /** The composed verdict under the BEST-COPY survivor policy (r16
    * verdict directive #2): same components, same exact/eligibility
    * gates, but the surviving content copy MAXIMIZES the modality's
    * quality metric — resolution (BMP), clamped duration (WAV), coded
    * span length (MP4/PNG/JPEG) — media_id ascending on ties, the
    * shared [[Hamming64.bestCanonical]] ranking every per-family
    * `_best` face uses. Under the min-id policy a truncated re-upload
    * with a smaller id survives over the intact original; this face is
    * what production dedup actually keeps. Exact copies inherit their
    * keeper's metric (byte-identical payloads decode identically), so
    * a copy can never outrank its keeper, and ineligible-only clusters
    * (GIF exact groups, raw singletons) tie at metric 0 and fall back
    * to the component minimum — the two policies agree wherever no
    * quality signal exists. */
  def mediaKeepBest(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    verdictOf(docs, maxHamming).select(BestPolicyCols: _*)

  /** Payload-level seams for the spec's hand-built containers. */
  private[graft] def mediaKeepOfPayloads(payloads: DataFrame,
      maxHamming: Int = 3): DataFrame =
    verdictOfSized(sizedOfPayloads(payloads), maxHamming)
      .select(MinPolicyCols: _*)

  private[graft] def mediaKeepBestOfPayloads(payloads: DataFrame,
      maxHamming: Int = 3): DataFrame =
    verdictOfSized(sizedOfPayloads(payloads), maxHamming)
      .select(BestPolicyCols: _*)

  /** The content sketch families, in the order their keeper sketches
    * ride every relation below. */
  private val Families = MediaFamily.all

  /** The batch machinery's intermediate relations — shared by the
    * batch verdict assembly and the corpus-state derivation
    * ([[corpusStateOfSized]]): the per-payload fingerprint/keeper
    * relation, the keeper sketch relation of each of [[Families]], the
    * set of hashed keepers, and the content clusters over pairs + exact
    * edges. */
  private case class LakeParts(fps: DataFrame, sketches: Seq[DataFrame],
      hashedKeepers: DataFrame, clusters: DataFrame,
      memberMetrics: DataFrame)

  /** The keepers' union over the family sketches of `cols`. */
  private def unionOf(sketches: Seq[DataFrame],
      cols: org.apache.spark.sql.Column*): DataFrame =
    sketches.map(_.select(cols: _*)).reduce(_ unionByName _)

  private def partsOfSized(sized: DataFrame, maxHamming: Int): LakeParts = {
    // exact payload fingerprint: md5 over the payload bytes (spelled
    // over the hex column — both engines digest the same ASCII)
    val withKeeper = {
      val fp = sized.filter(col("h").isNotNull)
        .select(col("media_id"), md5(col("h")).as("fp_md5"))
        .localCheckpoint()
      fp.join(fp.groupBy("fp_md5").agg(min("media_id").as("keeper_id")),
          "fp_md5")
        .select(col("media_id"), col("fp_md5"), col("keeper_id"))
        .localCheckpoint()
    }
    // only exact-dup KEEPERS pay decode + hash (copies re-enter the
    // cluster graph through their copy→keeper edge)
    val keeperSized = sized.join(
        withKeeper.filter(col("media_id") === col("keeper_id"))
          .select("media_id"),
        Seq("media_id"), "left_semi")
      .localCheckpoint()
    // each sketch RELATION is checkpointed (not just the walked stage
    // inside the family chain): the 64-probe vote is an interpreted
    // HOF, and the sketch is consumed several times — by the keeper
    // union, its own pairing, and (for the persisted corpus state)
    // every shard ingest. 8 bytes + kind per keeper, the relation a
    // production pipeline persists verbatim.
    // each sketch relation carries the family's `_best` quality metric
    // next to the 8-byte hash (r16 directive #2: the best-copy policy
    // ranks by it; 8 more bytes/keeper in the persisted relation) and
    // its pairing keys (`kind`: PNG/JPEG pair per format).
    // The family decode+hash chains are INDEPENDENT of each other
    // (each reads only the checkpointed keeperSized relation), so their
    // materializations run CONCURRENTLY (graft.Par — the guide's
    // overlap-independent-jobs rule): wall-clock per build drops from
    // the sum of the chains to roughly the slowest one.
    val sketches = graft.Par.all(Families.map(f => () =>
      f.metricSketch(keeperSized).localCheckpoint()))
    val hashedKeepers = unionOf(sketches, col("media_id"))
      .distinct().localCheckpoint()
    // per-MODALITY pairing (an image sketch must never band-join an
    // audio sketch), then one cluster pass over the combined edges
    val contentPairs = Families.zip(sketches).map { case (f, sk) =>
        f.pairsOf(sk, "doc_a", "doc_b", maxHamming).select("doc_a", "doc_b") }
      .reduce(_ unionByName _)
    val exactEdges = withKeeper.filter(col("media_id") =!= col("keeper_id"))
      .select(col("media_id").as("doc_a"), col("keeper_id").as("doc_b"))
    val clusters = graft.text.Dedup.dedupClustersFromPairsStar(
      sized.select(col("media_id").as("doc_id")),
      contentPairs.unionByName(exactEdges))
    // per-MEMBER metric: every payload inherits its exact keeper's
    // (byte-identical payloads decode identically, and only keepers
    // were decoded); unhashed members (raw, GIF, null, ineligible)
    // rank at 0, so metric-less clusters fall back to the min-id tie
    val keeperMetrics = unionOf(sketches, col("media_id").as("keeper_id"),
      col("metric"))
    val memberMetrics = sized.select("media_id")
      .join(withKeeper.select("media_id", "keeper_id"), Seq("media_id"),
        "left")
      .join(keeperMetrics, Seq("keeper_id"), "left")
      .select(col("media_id"), coalesce(col("metric"), lit(0L)).as("metric"))
    LakeParts(withKeeper, sketches, hashedKeepers, clusters, memberMetrics)
  }

  /** The 8-column verdict over an arbitrary CHECKPOINTED `(media_id,
    * h, n_bytes)` relation — both survivor policies in one pass (the
    * min-id and best-copy flags differ only in which cluster member is
    * crowned; components, eligibility, and exact gates are shared), so
    * the public faces are projections of one cached relation. */
  private[graft] def verdictOfSized(sized: DataFrame,
      maxHamming: Int): DataFrame = {
    val p = partsOfSized(sized, maxHamming)
    val eligibleIds = p.fps.join(
        p.hashedKeepers.withColumnRenamed("media_id", "keeper_id"),
        Seq("keeper_id"), "left_semi")
      .select(col("media_id"), lit(true).as("eligible"))
    // the best-copy crown: the shared ranking body over the SAME
    // clusters (cluster membership identical across the two policies)
    val best = Hamming64.bestCanonical(p.clusters, p.memberMetrics)
      .select(col("media_id"),
        (!col("is_canonical")).as("is_content_dup_best"))
    // magic predicates through the shared precedence chain — the one
    // place the kind ORDER lives (Media.KindOrder), so this sniff and
    // mediaFeatures' walked one cannot diverge
    val kind = Media.kindCase(col("h").isNull, Media.magicPreds)
    sized.select(col("media_id"), kind.as("kind"))
      .join(p.fps.select(col("media_id"),
        (col("media_id") =!= col("keeper_id")).as("dup")),
        Seq("media_id"), "left")
      .join(eligibleIds, Seq("media_id"), "left")
      .join(p.clusters.select(col("doc_id").as("media_id"),
        (!col("is_survivor")).as("is_content_dup")), Seq("media_id"))
      .join(best, Seq("media_id"))
      .select(col("media_id"), col("kind"),
        coalesce(col("eligible"), lit(false)).as("eligible"),
        coalesce(col("dup"), lit(false)).as("is_exact_dup"),
        col("is_content_dup"),
        (coalesce(col("eligible"), lit(false)) &&
          coalesce(!col("dup"), lit(true)) &&
          !col("is_content_dup")).as("keep"),
        col("is_content_dup_best"),
        (coalesce(col("eligible"), lit(false)) &&
          coalesce(!col("dup"), lit(true)) &&
          !col("is_content_dup_best")).as("keep_best"))
  }

  // ---- the incremental (nightly-ingest) face ---------------------------------

  /** The relations a nightly media ingest PERSISTS between runs — what
    * lets a shard verdict run without re-decoding one corpus payload:
    *
    *  - `fps` — per exact fingerprint: the corpus keeper id, whether
    *    that keeper content-hashed (`eligible`), and the keeper's
    *    quality metric (what a shard copy of the fingerprint inherits
    *    under the best-copy policy);
    *  - `sketches` — one keeper sketch relation per family of
    *    [[Families]] (8 bytes + pairing keys + metric per keeper);
    *  - `comp` — the corpus content-cluster labels (media_id →
    *    component-minimum rep);
    *  - `clusterBest` — per corpus cluster: the best member's (metric,
    *    id) under the family ranking. The per-CLUSTER rollup is what
    *    makes the incremental best verdict exact without touching
    *    untouched members: a corpus member can never outrank its own
    *    cluster's best, so the merged-cluster argmax over (shard
    *    members ∪ pulled cluster bests) equals the batch argmax.
    *
    * Derived here from the corpus docs (production reads them from
    * tables — the [[MediaFamily.incrementalPairs]] stance). */
  private[graft] case class MediaCorpusState(fps: DataFrame,
      sketches: Seq[DataFrame], comp: DataFrame, clusterBest: DataFrame)

  /** Session-scoped reuse of the corpus state (the [[verdictCache]]
    * discipline, same shared [[graft.SessionCache]] body): the state
    * is the persisted-infrastructure side of the incremental
    * contract — a session running several shard ingests derives it
    * once, exactly as production reads it from tables once.
    * [[stateBuilds]] is the spec's reuse evidence. */
  private val stateCache =
    new graft.SessionCache[(PlanKey, Int), MediaCorpusState]
  private[graft] def stateBuilds = stateCache.builds

  def mediaCorpusState(corpusDocs: DataFrame,
      maxHamming: Int = 3): MediaCorpusState =
    stateCache.getOrBuild(corpusDocs.sparkSession,
        (planKey(corpusDocs), maxHamming)) {
      corpusStateOfSized(lakeSized(corpusDocs), maxHamming)
    }

  private[graft] def corpusStateOfSized(sized: DataFrame,
      maxHamming: Int): MediaCorpusState = {
    val p = partsOfSized(sized, maxHamming)
    val keeperMetrics = unionOf(p.sketches, col("media_id"), col("metric"))
    // three INDEPENDENT slim relations over the already-materialized
    // parts — checkpointed concurrently (graft.Par, guide §2.6; the
    // sequential spelling paid three roundtrips back to back)
    val Seq(fps, clusterBest, comp) = graft.Par.all(Seq(
      () => p.fps.filter(col("media_id") === col("keeper_id"))
        .join(p.hashedKeepers.select(col("media_id"),
          lit(true).as("el")), Seq("media_id"), "left")
        .join(keeperMetrics, Seq("media_id"), "left")
        .select(col("fp_md5"), col("media_id").as("keeper_id"),
          coalesce(col("el"), lit(false)).as("eligible"),
          coalesce(col("metric"), lit(0L)).as("metric"))
        .localCheckpoint(),
      () => p.clusters
        .join(p.memberMetrics, col("doc_id") === col("media_id"))
        .groupBy("rep_id")
        .agg(min(struct((-col("metric")).as("o"), col("doc_id").as("d")))
          .as("b"))
        .select(col("rep_id"), (-col("b.o")).as("best_metric"),
          col("b.d").as("best_id"))
        .localCheckpoint(),
      () => p.clusters.select(col("doc_id").as("media_id"), col("rep_id"))
        .localCheckpoint()))
    MediaCorpusState(fps, p.sketches, comp, clusterBest)
  }

  /** The state relations as named parquet tables under `path` —
    * the write a nightly pipeline runs after each corpus refresh (the
    * [[graft.text.Curation.trainingShardsUnigram]] persist-and-reload
    * discipline: the artifact on disk, not the session checkpoint, is
    * what the next ingest reads). All are slim: the fp table is one
    * row per distinct fingerprint, the sketches 8 bytes + metric per
    * keeper, the labels and per-cluster bests one row per
    * member/cluster. */
  private val StateTables = ("fps" +: Families.map(_.pfx + "sk")) ++
    Seq("comp", "cluster_best")
  def writeCorpusState(st: MediaCorpusState, path: String): Unit =
    // independent writes of already-checkpointed slim relations to
    // distinct directories — run concurrently (graft.Par): the
    // sequential spelling paid one job-submit + commit-protocol
    // roundtrip per table back to back
    graft.Par.all(StateTables.zip((st.fps +: st.sketches) ++
        Seq(st.comp, st.clusterBest))
      .map { case (name, df) => () =>
        df.write.mode("overwrite")
          .parquet(new java.io.File(path, name).getPath) })

  /** The read half — what a shard ingest opens instead of deriving the
    * state in-session. The returned relations are parquet scans (no
    * checkpoint needed: they are already materialized on disk, the
    * production shape). */
  def readCorpusState(spark: org.apache.spark.sql.SparkSession,
      path: String): MediaCorpusState = {
    // independent schema-inference footer reads — concurrent
    // (graft.Par), like the writes on the other side
    val fps +: rest = graft.Par.all(StateTables.map(name => () =>
      spark.read.parquet(new java.io.File(path, name).getPath)))
    val (sketches, Seq(comp, best)) = rest.splitAt(Families.size)
    MediaCorpusState(fps, sketches, comp, best)
  }

  /** The full persisted lifecycle as ONE operator (the
    * `training_shards` discipline — the round-trip IS the operator,
    * and its time includes the sink + scan): derive the corpus state
    * (session-cached, as a standing corpus is), WRITE it under `path`,
    * RELOAD it, and run the shard verdict against the reloaded
    * relations. CONTRACT: equal to [[incrementalMediaKeep]] on the
    * in-session state — the oracle is the same whole-lake SQL, so a
    * green row proves the parquet round-trip loses nothing the verdict
    * reads. Deliberately NOT session-cached past the state: every call
    * pays the write + reload + shard verdict, because that is the cost
    * a nightly ingest actually pays. */
  def incrementalMediaKeepPersisted(newDocs: DataFrame,
      corpusDocs: DataFrame, path: String,
      maxHamming: Int = 3): DataFrame = {
    val st = mediaCorpusState(corpusDocs, maxHamming)
    // overlap (guide §2.6): the 7-table state write and the shard
    // synthesis checkpoint are independent driver actions — only the
    // RELOAD must wait for the write (the verdict reads the reloaded
    // relations; that round-trip IS the operator).
    val (_, shardSized) = graft.Par.both(
      () => writeCorpusState(st, path),
      () => lakeSized(newDocs))
    incrementalVerdictOfSized(shardSized,
        readCorpusState(newDocs.sparkSession, path), maxHamming)
      .select(MinPolicyCols: _*)
  }

  /** The shard keep verdict against a persisted corpus state — the
    * composed-verdict member of the incremental family (every sketch
    * family ships a shard-vs-persisted face; the verdict now does
    * too). CONTRACT: the output equals the BATCH verdict over the
    * merged lake restricted to shard ids, row for row — that is what
    * the oracle checks — while only shard payloads are synthesized,
    * and only shard payloads carrying a fingerprint the corpus has
    * never seen pay decode + hash.
    *
    * Why the restriction is exact:
    *
    *  - merged exact keeper = min(shard ids with the fp, persisted
    *    corpus keeper) — computable from the fp relation alone;
    *  - a shard copy of a corpus fingerprint inherits the corpus
    *    keeper's `eligible` (byte-identical payloads hash
    *    identically) and its sketch pairs exactly as the corpus
    *    keeper's persisted sketch does, so no decode is needed;
    *  - merged content components: every corpus member of a component
    *    touching the shard enters through a shard↔corpus pairing or
    *    exact edge, and each such member's persisted `comp` rep IS
    *    its corpus cluster minimum — adding the (member → rep) edges
    *    makes the small touched subgraph's component minima equal the
    *    full merged graph's (shard bridges that merge two corpus
    *    clusters pull in both reps).
    *
    * Scale shape: the corpus contributes three slim relations (the
    * fp/keeper table, the 8-byte sketches, the cluster labels); the
    * star contraction runs over the shard-touched subgraph only. */
  /** Session-scoped reuse of the CHECKPOINTED incremental verdict (the
    * [[verdictCache]] discipline, r16 directive #6): the shard verdict,
    * its best-copy twin, and the stats/card rollups all project one
    * relation — the shard decode + pairing + contraction runs once per
    * (session, shard, state). The state rides IN the key (case-class
    * equality compares the DataFrame fields by reference), so a new
    * corpus state can never serve a stale shard verdict. */
  private val incrCache =
    new graft.SessionCache[(PlanKey, MediaCorpusState, Int), DataFrame]
  private[graft] def incrBuilds = incrCache.builds

  private def incrVerdictOf(newDocs: DataFrame, st: MediaCorpusState,
      maxHamming: Int): DataFrame =
    incrCache.getOrBuild(newDocs.sparkSession,
        (planKey(newDocs), st, maxHamming)) {
      incrementalVerdictOfSized(lakeSized(newDocs), st, maxHamming)
        .localCheckpoint()
    }

  def incrementalMediaKeep(newDocs: DataFrame, st: MediaCorpusState,
      maxHamming: Int = 3): DataFrame =
    incrVerdictOf(newDocs, st, maxHamming).select(MinPolicyCols: _*)

  /** The incremental face under the BEST-COPY survivor policy — the
    * same policy [[mediaKeepBest]] applies to the batch verdict,
    * inherited by the shard ingest (r16 directive #2): shard output ≡
    * the batch best verdict over the merged lake restricted to shard
    * ids. Exactness rides on the persisted per-cluster rollup
    * ([[MediaCorpusState.clusterBest]]): a corpus member can never
    * outrank its own cluster's best, so comparing shard members
    * against the pulled cluster bests reproduces the merged-cluster
    * argmax without touching one untouched corpus row. */
  def incrementalMediaKeepBest(newDocs: DataFrame, st: MediaCorpusState,
      maxHamming: Int = 3): DataFrame =
    incrVerdictOf(newDocs, st, maxHamming).select(BestPolicyCols: _*)

  private[graft] def incrementalVerdictOfSized(sized: DataFrame,
      st: MediaCorpusState, maxHamming: Int): DataFrame = {
    // fp and groups stay LAZY (r17: each was its own localCheckpoint —
    // two sequential driver roundtrips at shard scale for relations
    // that are cheap map/agg work over the already-checkpointed `sized`
    // and the slim persisted fp table): wk's one checkpoint
    // materializes the whole fingerprint-resolution chain, and the two
    // lazy recomputes this exposes (groups inside exactE, fp nowhere
    // else) are a small agg over checkpointed inputs.
    val fp = sized.filter(col("h").isNotNull)
      .select(col("media_id"), md5(col("h")).as("fp_md5"))
    // merged fp-group keeper: least() skips NULL, so a fingerprint the
    // corpus has never seen resolves to the shard minimum
    val groups = fp.groupBy("fp_md5").agg(min("media_id").as("shard_min"))
      .join(st.fps.select(col("fp_md5"),
        col("keeper_id").as("corp_keeper"),
        col("eligible").as("corp_eligible"),
        col("metric").as("corp_metric")), Seq("fp_md5"), "left")
      .withColumn("keeper_all", least(col("shard_min"), col("corp_keeper")))
    val wk = fp.join(groups, "fp_md5").localCheckpoint()
    // ONLY never-seen-fingerprint shard keepers pay decode + hash.
    // Lazy (r17): the semi-join over the two checkpointed inputs is
    // re-planned inside each concurrent hash-chain checkpoint below
    // instead of paying its own sequential roundtrip.
    val toHash = sized.join(
        wk.filter(col("corp_keeper").isNull &&
          col("media_id") === col("keeper_all")).select("media_id"),
        Seq("media_id"), "left_semi")
    // independent shard decode+hash chains over the checkpointed toHash
    // relation — materialized concurrently (graft.Par, the partsOfSized
    // discipline)
    val fresh = graft.Par.all(Families.map(f => () => f.metricSketch(toHash)))
    // lazy (r17): consumed once (eligRel in the final assembly) — the
    // union-distinct over the checkpointed hash chains computes exactly
    // once either way, without its own sequential roundtrip
    val hashedNew = unionOf(fresh, col("media_id")).distinct()
    // shard sketches vs the persisted corpus sketches, per modality
    // (per FORMAT for the compressed images); new-new pairs included.
    // Each pairsIncremental eagerly checkpoints its shard band side —
    // independent materializations, run concurrently (graft.Par)
    val pairs = graft.Par.all[DataFrame](
        Families.zip(fresh).zip(st.sketches).map { case ((f, n), c) => () =>
          f.incrementalPairsOf(n, c, "doc_a", "doc_b", maxHamming)
            .select("doc_a", "doc_b") })
      .reduce(_ unionByName _)
    // exact edges: every fp-group member — shard copies AND the corpus
    // keeper when the group straddles the boundary — points at the
    // merged keeper
    val exactE = wk.filter(col("media_id") =!= col("keeper_all"))
      .select(col("media_id").as("doc_a"), col("keeper_all").as("doc_b"))
      .unionByName(groups.filter(col("corp_keeper").isNotNull &&
          col("corp_keeper") =!= col("keeper_all"))
        .select(col("corp_keeper").as("doc_a"),
          col("keeper_all").as("doc_b")))
    val allE = pairs.unionByName(exactE).localCheckpoint()
    // pull the persisted cluster rep of every corpus endpoint so the
    // touched subgraph's component minima equal the merged graph's
    val endpoints = allE.select(col("doc_a").as("media_id"))
      .unionByName(allE.select(col("doc_b").as("media_id")))
      .distinct().localCheckpoint()
    val repE = endpoints.join(st.comp, Seq("media_id"))
      .filter(col("media_id") =!= col("rep_id"))
      .select(col("media_id").as("doc_a"), col("rep_id").as("doc_b"))
    val domain = sized.select(col("media_id").as("doc_id"))
      .unionByName(endpoints.select(col("media_id").as("doc_id")))
      .unionByName(repE.select(col("doc_b").as("doc_id")))
      .distinct()
    // checkpointed so the returned plan is pure assembly joins over
    // materialized relations (the batch face gets the same shape from
    // the verdict cache's checkpoint)
    val comp = graft.text.Dedup.dedupClustersFromPairsStar(domain,
      allE.unionByName(repE)).localCheckpoint()
    // eligible: a corpus-known fingerprint inherits its keeper's flag
    // (byte-identical payloads hash identically); a new fingerprint is
    // eligible iff its shard keeper hashed
    val eligRel = wk.join(hashedNew.select(
        col("media_id").as("keeper_all"), lit(true).as("hashed_new")),
        Seq("keeper_all"), "left")
      .select(col("media_id"),
        when(col("corp_keeper").isNotNull,
            coalesce(col("corp_eligible"), lit(false)))
          .otherwise(coalesce(col("hashed_new"), lit(false)))
          .as("eligible"))
    // ---- best-copy crown over the merged components -----------------
    // shard member metric: a corpus-known fingerprint inherits the
    // persisted keeper metric; a new one inherits its shard keeper's
    // fresh metric (the batch member-metric rule, computed from the
    // persisted/fresh relations only)
    val freshMetrics = unionOf(fresh, col("media_id").as("keeper_all"),
      col("metric"))
    val mmetric = wk.join(freshMetrics, Seq("keeper_all"), "left")
      .select(col("media_id"),
        when(col("corp_keeper").isNotNull, col("corp_metric"))
          .otherwise(coalesce(col("metric"), lit(0L))).as("metric"))
    // candidates per merged component: every shard member with its
    // metric, plus — for each corpus cluster pulled into the touched
    // subgraph — that cluster's persisted best (which dominates every
    // member the subgraph did not touch)
    val shardCand = sized.select("media_id")
      .join(mmetric, Seq("media_id"), "left")
      .select(col("media_id").as("doc_id"),
        coalesce(col("metric"), lit(0L)).as("metric"))
      .join(comp.select("doc_id", "rep_id"), Seq("doc_id"))
      .select(col("rep_id"), col("metric"), col("doc_id").as("cand_id"))
    val corpusCand = endpoints.join(st.comp, Seq("media_id"))
      .select(col("rep_id")).distinct()
      .join(st.clusterBest, Seq("rep_id"))
      .select(col("rep_id").as("doc_id"), col("best_metric"),
        col("best_id"))
      .join(comp.select("doc_id", "rep_id"), Seq("doc_id"))
      .select(col("rep_id"), col("best_metric").as("metric"),
        col("best_id").as("cand_id"))
    val bestPer = shardCand.unionByName(corpusCand)
      .groupBy("rep_id")
      .agg(min(struct((-col("metric")).as("o"), col("cand_id").as("d")))
        .getField("d").as("best_id"))
    val kind = Media.kindCase(col("h").isNull, Media.magicPreds)
    sized.select(col("media_id"), kind.as("kind"))
      .join(wk.select(col("media_id"),
        (col("media_id") =!= col("keeper_all")).as("dup")),
        Seq("media_id"), "left")
      .join(eligRel, Seq("media_id"), "left")
      .join(comp.select(col("doc_id").as("media_id"), col("rep_id"),
        (!col("is_survivor")).as("is_content_dup")), Seq("media_id"))
      .join(bestPer, Seq("rep_id"))
      .select(col("media_id"), col("kind"),
        coalesce(col("eligible"), lit(false)).as("eligible"),
        coalesce(col("dup"), lit(false)).as("is_exact_dup"),
        col("is_content_dup"),
        (coalesce(col("eligible"), lit(false)) &&
          coalesce(!col("dup"), lit(true)) &&
          !col("is_content_dup")).as("keep"),
        (col("media_id") =!= col("best_id")).as("is_content_dup_best"),
        (coalesce(col("eligible"), lit(false)) &&
          coalesce(!col("dup"), lit(true)) &&
          col("media_id") === col("best_id")).as("keep_best"))
  }

  /** Payload-level seams for the spec's hand-built corpora. */
  private[graft] def corpusStateOfPayloads(payloads: DataFrame,
      maxHamming: Int = 3): MediaCorpusState =
    corpusStateOfSized(sizedOfPayloads(payloads), maxHamming)

  private[graft] def incrementalOfPayloads(payloads: DataFrame,
      st: MediaCorpusState, maxHamming: Int = 3): DataFrame =
    incrementalVerdictOfSized(sizedOfPayloads(payloads), st, maxHamming)
      .select(MinPolicyCols: _*)

  private[graft] def incrementalBestOfPayloads(payloads: DataFrame,
      st: MediaCorpusState, maxHamming: Int = 3): DataFrame =
    incrementalVerdictOfSized(sizedOfPayloads(payloads), st, maxHamming)
      .select(BestPolicyCols: _*)

  private def sizedOfPayloads(payloads: DataFrame): DataFrame =
    payloads.select(col("media_id"), hex(col("payload")).as("h"),
      length(col("payload")).cast("long").as("n_bytes")).localCheckpoint()

  /** Yield rollup — the [[graft.text.Curation.corpusKeepStats]]
    * inclusion-exclusion table for the media verdict: per (kind,
    * reason-combination), the payload count. ≤ 8·2⁴ rows (kind spans
    * bmp/gif/png/jpeg/mp4/wav/raw/NULL since the r15 re-composition). */
  private def statsOfVerdict(verdict: DataFrame): DataFrame =
    verdict
      .groupBy("kind", "eligible", "is_exact_dup", "is_content_dup", "keep")
      .agg(count(lit(1)).as("n_payloads"))

  def mediaKeepStats(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    statsOfVerdict(mediaKeep(docs, maxHamming))

  /** Shard-level yield rollup — the nightly ingest's report line (r16
    * directive #6): [[mediaKeepStats]] over the incremental verdict, a
    * map-side rollup of the cached shard relation. Equals the batch
    * stats restricted to shard ids — the rollup of a restriction is
    * the restriction of the rollup. */
  def incrementalMediaKeepStats(newDocs: DataFrame, st: MediaCorpusState,
      maxHamming: Int = 3): DataFrame =
    statsOfVerdict(incrementalMediaKeep(newDocs, st, maxHamming))

  /** One-row dataset card for the media lake — the
    * [[graft.text.Curation.corpusCard]] header block, riding the ONE
    * verdict relation (so the card cannot disagree with the operators
    * it summarizes): payload count, per-container counts, per-modality
    * eligible fractions, dup rates and keep yield in exact millionths.
    */
  def mediaCard(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    cardOfVerdict(mediaKeep(docs, maxHamming))

  /** Shard-level dataset card — [[mediaCard]] over the incremental
    * verdict (r16 directive #6): what a nightly ingest's run report
    * prints. Same column block, computed over shard rows only, so it
    * equals the batch card's aggregates restricted to the shard. */
  def incrementalMediaCard(newDocs: DataFrame, st: MediaCorpusState,
      maxHamming: Int = 3): DataFrame =
    cardOfVerdict(incrementalMediaKeep(newDocs, st, maxHamming))

  private def cardOfVerdict(verdict: DataFrame): DataFrame = {
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    verdict.agg(
        count(lit(1)).as("n_payloads"),
        cnt(col("kind") === "bmp").as("n_bmp"),
        cnt(col("kind") === "wav").as("n_wav"),
        cnt(col("kind") === "mp4").as("n_mp4"),
        cnt(col("kind") === "png").as("n_png"),
        cnt(col("kind") === "jpeg").as("n_jpeg"),
        cnt(col("kind") === "gif").as("n_gif"),
        cnt(col("kind") === "raw").as("n_raw"),
        cnt(col("eligible")).as("n_eligible"),
        cnt(col("kind") === "bmp" && col("eligible")).as("n_bmp_eligible"),
        cnt(col("kind") === "wav" && col("eligible")).as("n_wav_eligible"),
        cnt(col("kind") === "mp4" && col("eligible")).as("n_mp4_eligible"),
        cnt(col("kind") === "png" && col("eligible")).as("n_png_eligible"),
        cnt(col("kind") === "jpeg" && col("eligible")).as("n_jpeg_eligible"),
        cnt(col("is_exact_dup")).as("n_exact_dup"),
        cnt(col("is_content_dup")).as("n_content_dup"),
        cnt(col("keep")).as("n_keep"))
      .select(col("*"),
        expr("(n_bmp_eligible * 1000000L) div greatest(n_bmp, 1L)")
          .as("bmp_eligible_millionths"),
        expr("(n_wav_eligible * 1000000L) div greatest(n_wav, 1L)")
          .as("wav_eligible_millionths"),
        expr("(n_mp4_eligible * 1000000L) div greatest(n_mp4, 1L)")
          .as("mp4_eligible_millionths"),
        expr("(n_png_eligible * 1000000L) div greatest(n_png, 1L)")
          .as("png_eligible_millionths"),
        expr("(n_jpeg_eligible * 1000000L) div greatest(n_jpeg, 1L)")
          .as("jpeg_eligible_millionths"),
        expr("(n_content_dup * 1000000L) div greatest(n_payloads, 1L)")
          .as("content_dup_millionths"),
        expr("(n_keep * 1000000L) div greatest(n_payloads, 1L)")
          .as("keep_millionths"))
  }

  // ---- DuckDB oracle twins ---------------------------------------------------

  /** lake → fp/keepers → one hash chain per family (prefixed bodies)
    * → per-modality pairs (per FORMAT for the cimage chain) + exact
    * edges → recursive closure → verdict. Final CTE `verdict` carries
    * the six min-policy output columns plus the best-policy pair
    * (`is_content_dup_best`/`keep_best` — the faces project). */
  private def verdictCtesSql(maxHamming: Int): String = {
    def each(f: MediaFamily => String, sep: String): String =
      Families.map(f).mkString(sep)
    val bodies = each(f => f.ahashBodyCtesSql("ksized", f.pfx), ",\n")
    val bands = each(f =>
      s"""${f.pfx}bands AS (
         |  ${Hamming64.nibbleSelectsSqlFrom(s"${f.pfx}hashed", f.pairKeys)}
         |)""".stripMargin, ",\n")
    val pairSels = each(f =>
      s"""SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b
         |  FROM ${f.pfx}bands a JOIN ${f.pfx}bands b
         |    ON ${f.keyEqSql}a.band = b.band AND a.nibble = b.nibble
         |    AND a.media_id < b.media_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= $maxHamming""".stripMargin,
      "\n  UNION\n  ")
    val hashedIds = each(f => s"SELECT media_id FROM ${f.pfx}hashed",
      "\n    UNION ALL ")
    val metrics = each(f =>
      s"SELECT media_id, ${f.metricSql("")} AS metric FROM ${f.pfx}hashed",
      "\n  UNION ALL\n  ")
    s"""lake AS (
       |  SELECT doc_id AS media_id,
       |    ${lakeHexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS MATERIALIZED (
       |  SELECT media_id, h, len(h) // 2 AS n_bytes FROM lake
       |), fp AS (
       |  SELECT media_id, md5(h) AS fp_md5 FROM sized WHERE h IS NOT NULL
       |), keepers AS (
       |  SELECT fp_md5, min(media_id) AS keeper_id FROM fp GROUP BY fp_md5
       |), wk AS MATERIALIZED (
       |  SELECT fp.media_id AS media_id, keeper_id
       |  FROM fp JOIN keepers USING (fp_md5)
       |), ksized AS MATERIALIZED (
       |  SELECT s.* FROM sized s JOIN wk ON wk.media_id = s.media_id
       |    AND wk.media_id = wk.keeper_id
       |), $bodies,
       |$bands,
       |cpairs AS (
       |  $pairSels
       |),
       |exact_edges AS (
       |  SELECT media_id AS doc_a, keeper_id AS doc_b FROM wk
       |  WHERE media_id <> keeper_id
       |),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION SELECT doc_b, doc_a FROM cpairs
       |  UNION SELECT doc_a, doc_b FROM exact_edges
       |  UNION SELECT doc_b, doc_a FROM exact_edges
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst
       |),
       |comp AS (
       |  SELECT s.media_id AS media_id,
       |    least(s.media_id, coalesce(min(r.dst), s.media_id)) AS rep_id
       |  FROM sized s LEFT JOIN reach r ON r.src = s.media_id
       |  GROUP BY s.media_id
       |),
       |allhashed AS (
       |  SELECT DISTINCT media_id FROM (
       |    $hashedIds
       |  )
       |),
       |kmetric AS (
       |  $metrics
       |),
       |mmetric AS (
       |  SELECT s.media_id AS media_id, coalesce(km.metric, 0) AS metric
       |  FROM sized s
       |  LEFT JOIN wk ON wk.media_id = s.media_id
       |  LEFT JOIN kmetric km ON km.media_id = wk.keeper_id
       |),
       |vbest AS (
       |  SELECT comp.media_id AS media_id,
       |    row_number() OVER (PARTITION BY comp.rep_id
       |      ORDER BY m.metric DESC, comp.media_id ASC) AS rn
       |  FROM comp JOIN mmetric m ON m.media_id = comp.media_id
       |),
       |verdict AS (
       |  SELECT s.media_id AS media_id,
       |    ${Media.kindCaseSql("h IS NULL", Media.magicCondsSql)} AS kind,
       |    ah.media_id IS NOT NULL AS eligible,
       |    coalesce(wk.media_id <> wk.keeper_id, FALSE) AS is_exact_dup,
       |    comp.rep_id <> s.media_id AS is_content_dup,
       |    ah.media_id IS NOT NULL
       |      AND coalesce(wk.media_id = wk.keeper_id, TRUE)
       |      AND comp.rep_id = s.media_id AS keep,
       |    vb.rn <> 1 AS is_content_dup_best,
       |    ah.media_id IS NOT NULL
       |      AND coalesce(wk.media_id = wk.keeper_id, TRUE)
       |      AND vb.rn = 1 AS keep_best
       |  FROM sized s
       |  LEFT JOIN wk ON wk.media_id = s.media_id
       |  LEFT JOIN allhashed ah ON ah.media_id = wk.keeper_id
       |  JOIN comp ON comp.media_id = s.media_id
       |  JOIN vbest vb ON vb.media_id = s.media_id
       |)""".stripMargin
  }

  def mediaKeepSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)}
       |SELECT media_id, kind, eligible, is_exact_dup, is_content_dup, keep
       |FROM verdict
       |ORDER BY media_id, kind, eligible, is_exact_dup, is_content_dup,
       |  keep""".stripMargin

  /** Oracle twin of [[mediaKeepBest]]: the verdict CTE's best-policy
    * columns renamed over the face's output names. */
  def mediaKeepBestSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)}
       |SELECT media_id, kind, eligible, is_exact_dup,
       |  is_content_dup_best AS is_content_dup, keep_best AS keep
       |FROM verdict
       |ORDER BY media_id, kind, eligible, is_exact_dup, is_content_dup,
       |  keep""".stripMargin

  /** Oracle twin of [[incrementalMediaKeep]]: the incremental contract
    * IS batch-restricted-to-shard, so the oracle is the whole-lake
    * verdict filtered to the driver's fixture split. */
  def incrementalMediaKeepSql(maxHamming: Int = 3,
      shardPred: String = "media_id % 10 = 9"): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)}
       |SELECT media_id, kind, eligible, is_exact_dup, is_content_dup, keep
       |FROM verdict
       |WHERE $shardPred
       |ORDER BY media_id, kind, eligible, is_exact_dup, is_content_dup,
       |  keep""".stripMargin

  /** Oracle twin of [[incrementalMediaKeepBest]] — the same
    * batch-restricted contract under the best-copy policy: the
    * best crown is computed over the WHOLE merged lake (vbest ranks
    * before the shard restriction), exactly what the incremental face
    * must reproduce from the persisted per-cluster rollup. */
  def incrementalMediaKeepBestSql(maxHamming: Int = 3,
      shardPred: String = "media_id % 10 = 9"): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)}
       |SELECT media_id, kind, eligible, is_exact_dup,
       |  is_content_dup_best AS is_content_dup, keep_best AS keep
       |FROM verdict
       |WHERE $shardPred
       |ORDER BY media_id, kind, eligible, is_exact_dup, is_content_dup,
       |  keep""".stripMargin

  private def statsSql(maxHamming: Int, pred: String): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)}
       |SELECT kind, eligible, is_exact_dup, is_content_dup, keep,
       |  CAST(count(*) AS BIGINT) AS n_payloads
       |FROM verdict
       |WHERE $pred
       |GROUP BY kind, eligible, is_exact_dup, is_content_dup, keep
       |ORDER BY kind, eligible, is_exact_dup, is_content_dup, keep,
       |  n_payloads""".stripMargin

  def mediaKeepStatsSql(maxHamming: Int = 3): String =
    statsSql(maxHamming, "TRUE")

  /** Oracle twin of [[incrementalMediaKeepStats]]: the batch rollup
    * over the shard restriction. */
  def incrementalMediaKeepStatsSql(maxHamming: Int = 3,
      shardPred: String = "media_id % 10 = 9"): String =
    statsSql(maxHamming, shardPred)

  def mediaCardSql(maxHamming: Int = 3): String = cardSql(maxHamming, "TRUE")

  /** Oracle twin of [[incrementalMediaCard]]: the batch card
    * aggregates over the shard restriction. */
  def incrementalMediaCardSql(maxHamming: Int = 3,
      shardPred: String = "media_id % 10 = 9"): String =
    cardSql(maxHamming, shardPred)

  private def cardSql(maxHamming: Int, pred: String): String =
    s"""WITH RECURSIVE ${verdictCtesSql(maxHamming)},
       |agg AS (
       |  SELECT
       |    CAST(count(*) AS BIGINT) AS n_payloads,
       |    CAST(coalesce(sum(CASE WHEN kind = 'bmp' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bmp,
       |    CAST(coalesce(sum(CASE WHEN kind = 'wav' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_wav,
       |    CAST(coalesce(sum(CASE WHEN kind = 'mp4' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mp4,
       |    CAST(coalesce(sum(CASE WHEN kind = 'png' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_png,
       |    CAST(coalesce(sum(CASE WHEN kind = 'jpeg' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_jpeg,
       |    CAST(coalesce(sum(CASE WHEN kind = 'gif' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gif,
       |    CAST(coalesce(sum(CASE WHEN kind = 'raw' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_raw,
       |    CAST(coalesce(sum(CASE WHEN eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_eligible,
       |    CAST(coalesce(sum(CASE WHEN kind = 'bmp' AND eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bmp_eligible,
       |    CAST(coalesce(sum(CASE WHEN kind = 'wav' AND eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_wav_eligible,
       |    CAST(coalesce(sum(CASE WHEN kind = 'mp4' AND eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mp4_eligible,
       |    CAST(coalesce(sum(CASE WHEN kind = 'png' AND eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_png_eligible,
       |    CAST(coalesce(sum(CASE WHEN kind = 'jpeg' AND eligible THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_jpeg_eligible,
       |    CAST(coalesce(sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_dup,
       |    CAST(coalesce(sum(CASE WHEN is_content_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_content_dup,
       |    CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keep
       |  FROM verdict
       |  WHERE $pred
       |)
       |SELECT *,
       |  CAST((n_bmp_eligible * 1000000) // greatest(n_bmp, 1) AS BIGINT)
       |    AS bmp_eligible_millionths,
       |  CAST((n_wav_eligible * 1000000) // greatest(n_wav, 1) AS BIGINT)
       |    AS wav_eligible_millionths,
       |  CAST((n_mp4_eligible * 1000000) // greatest(n_mp4, 1) AS BIGINT)
       |    AS mp4_eligible_millionths,
       |  CAST((n_png_eligible * 1000000) // greatest(n_png, 1) AS BIGINT)
       |    AS png_eligible_millionths,
       |  CAST((n_jpeg_eligible * 1000000) // greatest(n_jpeg, 1) AS BIGINT)
       |    AS jpeg_eligible_millionths,
       |  CAST((n_content_dup * 1000000) // greatest(n_payloads, 1) AS BIGINT)
       |    AS content_dup_millionths,
       |  CAST((n_keep * 1000000) // greatest(n_payloads, 1) AS BIGINT)
       |    AS keep_millionths
       |FROM agg""".stripMargin
}
