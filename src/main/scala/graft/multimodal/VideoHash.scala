package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Video CONTENT fingerprinting — the third modality of the media
  * dedup story ([[ImageHash]] closed images, [[AudioHash]] audio; r13
  * verdict frontier #1): an MP4 re-uploaded with edited container
  * metadata (`udta`/`tkhd`/`mvhd` churn — new title, new matrix, new
  * declared duration) carries a brand-new exact payload fingerprint
  * and byte-identical CODED CONTENT, which lives in the `mdat` box the
  * dimension/duration decodes never read.
  *
  * The hash rides the SAME bounded ISO-BMFF box walk the dimension and
  * duration faces use ([[ContainerWalk.mp4]] — `mdat` is its third
  * tracked find) and sketches the coded stream:
  *
  *  1. 64 probe points by integer striding over the CLAMPED content
  *     length — probe k reads byte `(k · n_units) div 64` of the
  *     `mdat` payload, where `n_units = least(declared mdat length,
  *     bytes actually present)` (the [[Media.audioFrames]] truncation
  *     clamp: a cut upload hashes its real bytes);
  *  2. bit k is set iff `64 · b_k > Σ b` — strictly above the mean
  *     probe byte, ties → 0, never divides (the family vote).
  *
  * Unlike WAV samples or BMP scanlines the `mdat` stream is
  * COMPRESSED, so this is a stride-byte content identity, not a
  * perceptual hash: byte-identical coded content pairs at Hamming 0
  * through any metadata edit, small splices perturb few probes, but a
  * re-ENCODE (new codec pass) legitimately reads as new content. A
  * production video fingerprint (keyframe perceptual hashes) replaces
  * the probe read; the 8-byte sketch, [[Hamming64]] banding, pairing
  * join, occupancy/incremental/stream faces around it — the 100 TB
  * cost — are exactly what ships here, shared with the other three
  * sketch families. Eligibility is explicit: a walked `mdat` with
  * ≥ 64 clamped content bytes; anything else emits no row.
  *
  * Scale shape: one bounded walk + 64 fixed hex probes per row (cost
  * per VIDEO, independent of size), an 8-byte/video
  * sketch, and the proven checkpoint-sketch → band-explode →
  * equi-self-join pairing (AQE-splittable, never all-pairs).
  */
object VideoHash extends MediaFamily("video", "vid", "vid_",
    Seq("n_units"), pairKeys = Nil) {

  /** 64 probe points → 64-bit hash; banding via [[Hamming64]]. */
  val Probes = 64

  /** Byte value at DYNAMIC byte offset `off` of hex column `h`. */
  private def byteAtSql(off: String): String = Media.dynLeSql(off, 1)

  /** Probe k's content byte over columns `h`, `mdat_off`, `n_units`. */
  private def probeSql(k: String, idiv: String): String =
    byteAtSql(s"mdat_off + ((($k) * n_units) $idiv 64)")

  /** Fixture synthesis: every document as a REAL MP4 —
    * `ftyp · moov(mvhd v0 · trak(tkhd v0)) · mdat` at the exact box
    * sizes [[Media.containerHexSql]] plants (108-byte mvhd, 92-byte
    * tkhd) — with the [[AudioHash.hexSql]] two-population
    * discipline on the content axis: doc_id % 3 ≠ 2 carries the doc's
    * own text bytes as the coded stream; doc_id % 3 = 2 is the PLANTED
    * near-dup population — each 30-id group g shares one base stream
    * (a 16-byte multiplicative-hash pattern of g repeated to
    * 256 + 32·(doc_id % 5) bytes, constant within the d/d+15 pair)
    * with ONE byte edited at a doc-dependent position, so ids d and
    * d+15 pair at small Hamming distance while groups and text videos
    * don't. The CONTAINER METADATA deliberately DIVERGES within every
    * planted pair — mvhd duration `1000 + doc_id % 90000` and tkhd
    * 16.16 dimensions `1 + doc_id % 1920/1080` differ between d and
    * d+15 — so the green pairing oracle IS the metadata-edit-invariance
    * proof: the clones pair because only `mdat` is hashed. */
  private[multimodal] def hexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    def beHex(v: String, nBytes: Int): String =
      Media.beHexSql(v, nBytes, idiv)
    val base = Media.groupPatternSql(
      s"CAST((256 + 32 * (doc_id % 5)) $idiv 16 AS INT)", idiv)
    val edited = Media.editedPatternSql(base, 89, idiv)
    val content = s"CASE WHEN doc_id % 3 = 2 THEN $edited ELSE $textHex END"
    val nb = s"CASE WHEN doc_id % 3 = 2 THEN 256 + 32 * (doc_id % 5) ELSE $textBytes END"
    // doc-dependent container metadata (diverges WITHIN planted pairs)
    val mts = "(600 * (1 + doc_id % 5))"
    val mdur = "(1000 + doc_id % 90000)"
    val mw = "(1 + doc_id % 1920)"
    val mh = "(1 + doc_id % 1080)"
    val matrix =
      "'000100000000000000000000000000000001000000000000000000000000000040000000'"
    val mvhdTail = s"'00010000' || '0100' || repeat('00', 10) || $matrix || " +
      "repeat('00', 24) || '00000002'"
    val mvhd = s"'0000006C' || '6D766864' || '00000000' || '00000000' || " +
      s"'00000000' || ${beHex(mts, 4)} || ${beHex(mdur, 4)} || $mvhdTail"
    val dims = s"${beHex(mw, 2)} || '0000' || ${beHex(mh, 2)} || '0000'"
    val tkhd = s"'0000005C' || '746B6864' || '00000007' || '00000000' || " +
      s"'00000000' || '00000001' || '00000000' || '00000000' || " +
      s"'0000000000000000' || '0000000000000000' || $matrix || $dims"
    val ftyp = "'00000010' || '66747970' || '69736F6D' || '00000000'"
    val mdat = s"${beHex(s"8 + $nb", 4)} || '6D646174' || $content"
    s"$ftyp || '000000D8' || '6D6F6F76' || $mvhd || " +
      s"'00000064' || '7472616B' || $tkhd || $mdat"
  }

  /** The hash over `(media_id, payload, h, n_bytes)` — eligibility and
    * layout from the REAL box walk over the payload, probes over the hex
    * and vote as one bounded HOF pair (the [[ImageHash.ahashOfHexMaybeCk]]
    * codegen rationale). */
  private[graft] def ahashOfHexMaybeCk(sized: DataFrame,
      checkpoint: Boolean, keep: Seq[String] = Nil): DataFrame = {
    val walked0 = sized
      // candidate-filter BEFORE the checkpoint (the AudioHash shape):
      // on a mixed media lake most payloads are not ISO-BMFF, and the
      // gate is the walk's own entry condition, so the 2x-payload hex
      // materialization is bounded to candidate MP4s
      .filter(Media.mp4Magic)
      .withColumn("mk", Media.walksOf(sized).getField("mp4"))
      .drop("payload")
    val walked = if (checkpoint) walked0.localCheckpoint() else walked0
    val vid = walked
      .filter(col("mk.mdat_off").isNotNull)
      .select(keep.map(col) ++ Seq(col("media_id"), col("h"),
        col("mk.mdat_off").as("mdat_off"),
        least(col("mk.mdat_len"), col("n_bytes") - col("mk.mdat_off"))
          .as("n_units")): _*)
      .filter(col("n_units") >= Probes.toLong)
    // probe + vote ride the shared Hamming64 body
    Hamming64.probeVote(vid, Probes, k => probeSql(k, "div"),
      ((keep :+ "media_id") ++ sketchCols).map(col))
  }

  /** The box-walk → eligibility → 64-probe → hash chain, DuckDB side.
    * The MP4 walk CTEs ([[Media.mp4CteSql]]) keep their fixed names:
    * only the video chain walks ISO-BMFF in any composed query. */
  private[multimodal] def ahashBodyCtesSql(src: String, pfx: String): String =
    s"""${Media.mp4CteSql(src)},
       |${pfx}elig AS (
       |  SELECT media_id, h, mdat_off, n_units FROM (
       |    SELECT media_id, h, mp4_mdat AS mdat_off,
       |      least(mp4_mdat_len, n_bytes - mp4_mdat) AS n_units
       |    FROM mfin
       |    WHERE mp4_mdat IS NOT NULL
       |  )
       |  WHERE n_units >= $Probes
       |), ${Hamming64.voteCtesSql(s"${pfx}elig", pfx, Probes,
            k => probeSql(k.toString, "//"), sketchCols)}""".stripMargin

  /** Best copy = the MOST CONTENT (`n_units` — the clamped coded-stream
    * length, so a truncated re-upload loses to its intact original). */
  private[graft] val metric: Column = col("n_units")
  private[multimodal] def metricSql(q: String): String = s"${q}n_units"
}
