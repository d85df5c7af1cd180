package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SessionCache.{PlanKey, planKey}

/** The face set every 64-bit media content sketch family ships, written
  * ONCE: image aHash over BMP scanlines ([[ImageHash]]), audio amplitude
  * hash over the walked WAV samples ([[AudioHash]]), video stride hash
  * over the walked MP4 `mdat` ([[VideoHash]]), and the PNG/JPEG coded
  * stream hash ([[CompressedImageHash]]).
  *
  * A family object supplies only what really differs — the fixture
  * synthesis ([[hexSql]]), the decode + probe chain in both engines
  * ([[ahashOfHexMaybeCk]] / [[ahashBodyCtesSql]]), the layout columns
  * its sketch carries, its best-copy quality metric, its pair column
  * names, and its pairing keys (`Nil`, or `Seq("kind")` when pairing is
  * per format) — and inherits every face, its DuckDB twin, the payload
  * and stream seams, and one session sketch cache.
  *
  * Scale shape (all families): per-row hex arithmetic (64 fixed probes,
  * cost per item independent of its size), an 8-byte/item sketch
  * relation, and the shared [[Hamming64]] checkpoint-sketch →
  * band-explode → equi-self-join pairing (AQE-splittable, never
  * all-pairs).
  *
  * @param name      query-name stem (`image` → `image_ahash`, …,
  *                  `incremental_image_dup`)
  * @param pairStem  pair column stem of the pairing faces (`img` →
  *                  `img_a`, `img_b`)
  * @param pfx       CTE-name prefix of this chain inside the composed
  *                  [[MediaKeep]] oracle
  * @param sketchCols layout columns the sketch carries between
  *                  `media_id` and `ahash`
  * @param pairKeys  equi-keys a pair must share besides its band
  */
abstract class MediaFamily(val name: String, pairStem: String,
    private[multimodal] val pfx: String, protected val sketchCols: Seq[String],
    private[graft] val pairKeys: Seq[String]) {

  private val aCol = s"${pairStem}_a"
  private val bCol = s"${pairStem}_b"

  // ---- what a family supplies ------------------------------------------------

  /** Fixture synthesis: each document as a real container of this
    * family, one SQL body for both engines (`textHex`/`textBytes`/the
    * integer-divide token are the per-engine seams). */
  private[multimodal] def hexSql(textHex: String, textBytes: String,
      idiv: String): String

  /** The hash over `(media_id, payload, h, n_bytes)` → `(keep...,
    * media_id, sketchCols..., ahash)`, one row per ELIGIBLE item: the
    * container walks read the binary `payload`, the probes read its hex
    * `h`. `checkpoint =
    * false` is the STREAM spelling (localCheckpoint is illegal on a
    * stream): safe without the barrier because every multi-use alias of
    * the chain (header fields, the walk struct, the probe array, the
    * total) is non-cheap, which is exactly what stops CollapseProject
    * from inlining it per consumer — the barrier is only a batch
    * amortization. `keep` threads passthrough columns (event_time for
    * the stream gates). */
  private[graft] def ahashOfHexMaybeCk(sized: DataFrame,
      checkpoint: Boolean, keep: Seq[String] = Nil): DataFrame

  /** DuckDB twin of [[ahashOfHexMaybeCk]] over an ARBITRARY `(media_id,
    * h, n_bytes)` source CTE, stage names prefixed, ending in
    * `${pfx}hashed` — the reuse seam for composed oracles
    * ([[MediaKeep]]). `pfx = ""` is the standalone spelling. */
  private[multimodal] def ahashBodyCtesSql(src: String, pfx: String): String

  /** The best-copy quality metric over the sketch relation (Spark). */
  private[graft] def metric: Column

  /** DuckDB twin of [[metric]]; `q` qualifies the columns (`"h."`). */
  private[multimodal] def metricSql(q: String): String

  /** Name of the synthesis CTE in the standalone oracles. */
  protected def synthCte: String = "media"

  // ---- the payload and stream seams --------------------------------------------

  private def sizedOf(payloads: DataFrame, keep: Seq[String]): DataFrame =
    payloads.select(Seq(col("media_id"), col("payload"),
      hex(col("payload")).as("h"),
      length(col("payload")).cast("long").as("n_bytes")) ++
      keep.map(col): _*)

  /** The hash over `(media_id, payload BINARY)` — the payload-level seam
    * ([[Media.walkColumns]] discipline): production calls it on the
    * media lake, the specs on hand-built containers. */
  private[graft] def ahashOfPayloads(payloads: DataFrame): DataFrame =
    ahashOfHexMaybeCk(sizedOf(payloads, Nil), checkpoint = true)

  /** Checkpoint-free payload hash for STREAMS. */
  private[graft] def ahashOfPayloadsStream(payloads: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    ahashOfHexMaybeCk(sizedOf(payloads, keep), checkpoint = false,
      keep = keep)

  /** Pair the specs' hand-built payloads — the payload twin of
    * [[dupPairs]]. */
  private[graft] def dupPairsOfPayloads(payloads: DataFrame,
      maxHamming: Int = 3): DataFrame =
    pairsOf(ahashOfPayloads(payloads), aCol, bCol, maxHamming)

  /** Payload twin of [[dupClustersBest]]. */
  private[graft] def dupClustersBestOfPayloads(payloads: DataFrame,
      maxHamming: Int = 3): DataFrame =
    bestOfSketch(ahashOfPayloads(payloads).localCheckpoint(), maxHamming)

  // ---- production faces ------------------------------------------------------

  /** Session-scoped reuse of the decoded sketch relation (the
    * [[graft.SessionCache]] discipline): it IS the 8-byte/item sketch a
    * pipeline persists, so one session decodes + probe-votes the corpus
    * once per corpus plan, and every face (ahash/pairs/clusters/best/
    * occupancy, the incremental corpus side) replays it. Capacity 2 for
    * the full / `% 10 <> 9` alternation. */
  private val sketchCache = new graft.SessionCache[PlanKey, DataFrame](2)
  private[graft] def sketchBuilds = sketchCache.builds

  /** `(media_id, sketchCols..., ahash)` per eligible item of the
    * synthesized corpus. */
  def ahash(docs: DataFrame): DataFrame =
    sketchCache.getOrBuild(docs.sparkSession,
        planKey(docs)) {
      ahashBuild(docs).localCheckpoint()
    }

  private def ahashBuild(docs: DataFrame): DataFrame = {
    // the one-element transform is the [[Media.asContainerTable]]
    // codegen EXCLUSION: the synthesis CASE is near janino's method
    // limit, and the HOF wrapper guarantees no consumer pays a doomed
    // whole-stage compile before the interpreted fallback. The
    // synthesis checkpoint keeps that fixture-only cost out of the
    // consuming stages (real deployments read payloads from storage).
    val h = expr("element_at(transform(sequence(0, 0), fixture_once -> " +
      hexSql("hex(encode(text, 'utf-8'))", "octet_length(text)", "div") +
      "), 1)")
    ahashOfHexSized(graft.Tables.widen(docs)
      .select(col("doc_id").as("media_id"), h.as("h"))
      .filter(col("h").isNotNull)
      .withColumn("n_bytes", (length(col("h")) / 2).cast("long"))
      .localCheckpoint())
  }

  /** A hex-sized relation `(media_id, h, n_bytes)` hashed: the walks read
    * the bytes back through `unhex`, after the caller's checkpoint, so
    * no checkpoint holds the payload beside its hex. */
  private def ahashOfHexSized(hexSized: DataFrame): DataFrame =
    ahashOfHexMaybeCk(hexSized.withColumn("payload", unhex(col("h"))),
      checkpoint = true)

  private def keyCols: Seq[Column] =
    ("media_id" +: pairKeys :+ "ahash").map(col)

  /** The sketch projected to what pairing reads: `(media_id,
    * pairKeys..., ahash)` — the relation a pipeline persists. */
  private[graft] def keyed(sk: DataFrame): DataFrame = sk.select(keyCols: _*)

  /** `(media_id, pairKeys..., ahash, metric)` over the hex-sized lake
    * relation `(media_id, h, n_bytes)` — the keeper sketch relation the
    * composed [[MediaKeep]] verdict persists. */
  private[graft] def metricSketch(hexSized: DataFrame): DataFrame =
    ahashOfHexSized(hexSized).select(keyCols :+ metric.as("metric"): _*)

  /** `(a, b, hamming)` pairs of a sketch relation — candidates share one
    * of the 4 16-bit bands (and every pairing key), exact
    * `bit_count(xor)` rescore. */
  private[graft] def pairsOf(sk: DataFrame, a: String, b: String,
      maxHamming: Int): DataFrame =
    Hamming64.pairsOfSketch(keyed(sk), a, b, maxHamming, pairKeys)

  /** Near-duplicate pairs over the corpus sketch. */
  def dupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    pairsOf(ahash(docs), aCol, bCol, maxHamming)

  /** The pairing discriminator of the shared cluster cache: two pair
    * graphs over one sketch (whole-sketch vs per-kind) never share. */
  private def pairsTag: String = ("banded" +: pairKeys).mkString("/")

  /** Duplicate CLUSTERS — detect → pair → CLUSTER: connected components
    * of the Hamming-pair graph by star contraction
    * ([[graft.text.Dedup.dedupClustersFromPairsStar]], O(log² n) rounds
    * on any topology), domain = every hashed item (a pair-less item is
    * its own canonical singleton), `cluster_id` = the component
    * minimum, `is_canonical` marking the kept copy. N near-identical
    * items collapse to one keeper even when the radius only chains them
    * (A~B~C with A,C apart). */
  def dupClusters(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sk = ahash(docs) // session-cached, checkpoint-backed
    Hamming64.clustersOfPairs(sk, maxHamming,
      pairsOf(sk, "doc_a", "doc_b", maxHamming), pairsTag)
  }

  /** [[dupClusters]] with the BEST-COPY survivor policy:
    * `is_canonical` marks the member maximizing the family [[metric]]
    * (resolution / clamped duration / coded content length — a
    * truncated re-upload loses to its intact original), media_id asc on
    * ties; components and `cluster_id` are [[dupClusters]]' exactly
    * (one shared cached contraction). */
  def dupClustersBest(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    bestOfSketch(ahash(docs), maxHamming)

  private def bestOfSketch(sk: DataFrame, maxHamming: Int): DataFrame =
    Hamming64.bestOfPairs(sk, maxHamming,
      pairsOf(sk, "doc_a", "doc_b", maxHamming), metric, pairsTag)

  /** Bucket-occupancy report for the band space (the cost report every
    * bucket family ships, [[graft.text.Dedup.occupancyRollup]]): pairing
    * pays Θ(Σ bucket²), and this predicts that expansion before anyone
    * pays it. One partial-agg shuffle, ≤ |bands|·|size bands| rows. */
  def occupancy(docs: DataFrame): DataFrame =
    graft.text.Dedup.occupancyRollup(
      Hamming64.bands(keyed(ahash(docs)).localCheckpoint(), keep = pairKeys)
        .groupBy((pairKeys ++ Seq("band", "nibble")).map(col): _*)
        .agg(count(lit(1)).as("sz")),
      "band")

  /** Nightly-ingest twin of [[dupPairs]] ([[graft.text.Dedup
    * .incrementalSimhashPairs]] shape): pairs of a NEW SHARD against the
    * persisted corpus `(media_id, pairKeys..., ahash)` sketch, without
    * re-hashing anything corpus-side. The shard sketch deliberately
    * bypasses the sketch cache: a nightly shard is new bytes every
    * night, and a third live key would thrash the capacity-2 LRU that
    * holds the corpus plans. [[Hamming64.pairsIncremental]] checkpoints
    * the fresh shard sketch once. */
  def incrementalPairs(newDocs: DataFrame, corpusSketch: DataFrame,
      maxHamming: Int = 3): DataFrame =
    incrementalPairsOf(ahashBuild(newDocs), corpusSketch, aCol, bCol,
      maxHamming)

  /** Shard-sketch-vs-corpus-sketch pairs — [[incrementalPairs]] over an
    * already hashed shard. */
  private[graft] def incrementalPairsOf(newSk: DataFrame,
      corpusSk: DataFrame, a: String, b: String,
      maxHamming: Int): DataFrame =
    Hamming64.pairsIncremental(keyed(newSk), corpusSk, a, b, maxHamming,
      pairKeys)

  // ---- DuckDB oracle twins ---------------------------------------------------

  /** synthesis → decode → probes → hash over `documents`, ending in
    * `hashed(media_id, sketchCols..., ahash)`. */
  private def ctesSql: String =
    s"""$synthCte AS (
       |  SELECT doc_id AS media_id,
       |    ${hexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS (
       |  SELECT media_id, h, len(h) // 2 AS n_bytes FROM $synthCte
       |  WHERE h IS NOT NULL
       |), ${ahashBodyCtesSql("sized", "")}""".stripMargin

  private def bandsSql: String =
    Hamming64.nibbleSelectsSqlFrom("hashed", pairKeys)

  /** The pairing keys as band-join equalities between `a` and `b`. */
  private[multimodal] def keyEqSql: String =
    pairKeys.map(k => s"a.$k = b.$k AND ").mkString

  def ahashSql: String = {
    val cols = ("media_id" +: sketchCols :+ "ahash").mkString(", ")
    s"""WITH ${ctesSql}
       |SELECT $cols FROM hashed
       |ORDER BY $cols""".stripMargin
  }

  def dupPairsSql(maxHamming: Int = 3): String =
    s"""WITH ${ctesSql},
       |bands AS (
       |  $bandsSql
       |),
       |pairs AS (
       |  SELECT DISTINCT a.media_id AS $aCol, b.media_id AS $bCol,
       |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON ${keyEqSql}a.band = b.band AND a.nibble = b.nibble
       |    AND a.media_id < b.media_id
       |)
       |SELECT $aCol, $bCol, hamming FROM pairs
       |WHERE hamming <= $maxHamming
       |ORDER BY $aCol, $bCol, hamming""".stripMargin

  /** Transitive closure of the pair relation by recursive CTE,
    * singletons self-labeled. */
  def dupClustersSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE ${ctesSql},
       |bands AS (
       |  $bandsSql
       |),
       |${Hamming64.closureCtesSql(maxHamming, keyEqSql)}
       |${Hamming64.clustersFinalSql}""".stripMargin

  /** The cluster closure with the canonical flag re-ranked by the
    * family metric. */
  def dupClustersBestSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE ${ctesSql},
       |bands AS (
       |  $bandsSql
       |),
       |${Hamming64.closureCtesSql(maxHamming, keyEqSql)},
       |${Hamming64.bestFinalSql(metricSql("h."))}""".stripMargin

  def occupancySql: String = {
    val grp = (pairKeys ++ Seq("band", "nibble")).mkString(", ")
    s"""WITH ${ctesSql},
       |bands AS (
       |  $bandsSql
       |),
       |occ AS (
       |  SELECT $grp, CAST(count(*) AS BIGINT) AS sz
       |  FROM bands GROUP BY $grp
       |)
       |${graft.text.Dedup.occupancySelectSql("band")}""".stripMargin
  }

  /** Oracle twin for the driver's fixture split (shard = media_id % 10 =
    * 9): the hash is a pure per-item function, so one chain over the
    * whole population feeds both sides and the pairing restricts to
    * shard-touching pairs. */
  def incrementalPairsSql(maxHamming: Int = 3,
      shardPred: String = "media_id % 10 = 9"): String =
    s"""WITH ${ctesSql},
       |bands AS (
       |  $bandsSql
       |),
       |newb AS (
       |  SELECT * FROM bands WHERE $shardPred
       |),
       |pairs AS (
       |  SELECT DISTINCT least(a.media_id, b.media_id) AS $aCol,
       |    greatest(a.media_id, b.media_id) AS $bCol,
       |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
       |  FROM newb a JOIN bands b
       |    ON ${keyEqSql}a.band = b.band AND a.nibble = b.nibble
       |    AND a.media_id <> b.media_id
       |)
       |SELECT $aCol, $bCol, hamming FROM pairs
       |WHERE hamming <= $maxHamming
       |ORDER BY $aCol, $bCol, hamming""".stripMargin
}

object MediaFamily {
  /** Every content sketch family, in registration order. A family
    * object must not touch this companion while it initializes (a
    * default constructor argument would): the companion's init would
    * capture the half-built family as null. */
  val all: Seq[MediaFamily] =
    Seq(ImageHash, AudioHash, VideoHash, CompressedImageHash)
}
