package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Image CONTENT fingerprinting — the dedup family the text sketches
  * cannot see.
  *
  * Exact `doc_fingerprint` over a media payload catches only
  * bit-identical copies: re-encode the same picture with one different
  * metadata byte and the hash changes while the pixels don't. The
  * average-hash (aHash) below fingerprints the PIXELS a real decoder
  * exposes — here the BMP scanline walk that already powers
  * [[Media.imageRows]] (pixel rows at the 4-byte-aligned stride
  * `((bpp·width + 31) div 32)·4`, data from byte 54) — so two images
  * that differ in a pixel or two land within a small Hamming distance
  * and pair through the SAME banded machinery the text SimHash family
  * uses ([[graft.text.Dedup.simhashPairs]]: 4 bands × 16 bits is
  * COMPLETE for Hamming ≤ 3 by pigeonhole).
  *
  * The hash is ALL-INTEGER so DuckDB reproduces it bit-for-bit:
  *
  *  1. sample an 8×8 grid by integer striding — grid cell (i, j) reads
  *     scanline `r_i = (i · n_rows_avail) div 8` at pixel column
  *     `c_j = (j · width) div 8` (nearest-neighbor downsample, the
  *     resize discipline of [[Media.imageRows]] in both axes);
  *  2. gray value = B + G + R of the 24 bpp pixel (an un-normalized
  *     luma — monotone in brightness, no division, no rounding);
  *  3. bit (i·8 + j) is set iff `64 · gray > Σ gray` — strictly
  *     above the mean without ever dividing (ties → 0, the
  *     [[graft.text.Dedup.docSimhash]] tie discipline).
  *
  * Eligibility is explicit, not silent: only complete scanlines vote
  * (`n_rows_avail = least(height, avail div row_bytes)` — a truncated
  * upload hashes its real rows), and an image needs at least an 8×8
  * grid of real pixels (`width ≥ 8`, `n_rows_avail ≥ 8`) at 24 bpp to
  * hash at all. Anything else is not comparable content and emits no
  * row — same stance as [[Media.audioFrames]] dropping non-WAV rows.
  *
  * Scale shape: the hash is per-row hex arithmetic inside codegen (64
  * fixed grid reads — cost is per IMAGE, independent of image size
  * beyond the fixed reads), the sketch relation is 8 bytes/image, and
  * pairing is the proven checkpoint-sketch → band-explode →
  * equi-self-join shape (AQE-splittable, never all-pairs).
  */
object ImageHash extends MediaFamily("image", "img", "img_",
    Seq("width", "height", "n_rows_avail"), pairKeys = Nil) {

  /** 8×8 grid → 64-bit hash. */
  val Grid = 8

  // ---- shared SQL fragments (one spelling, both engines) -------------------

  /** Byte value at DYNAMIC byte offset `off` of hex column `h` —
    * `instr`/`substring` arithmetic both engines share (the
    * [[Media]] dynLeSql discipline, weight 1). */
  private def byteAtSql(off: String): String = {
    val hiP = s"CAST(($off) * 2 + 1 AS INT)"
    val loP = s"CAST(($off) * 2 + 2 AS INT)"
    s"((instr('0123456789ABCDEF', substring(h, $hiP, 1)) - 1) * 16 + " +
      s"(instr('0123456789ABCDEF', substring(h, $loP, 1)) - 1))"
  }

  /** Gray value of the 24 bpp pixel at byte offset `off`: B + G + R. */
  private def graySql(off: String): String =
    (0 until 3).map(k => byteAtSql(s"($off) + $k")).mkString("(", " + ", ")")

  /** Grid cell (i, j)'s gray value over columns `h`, `row_bytes`,
    * `n_rows_avail`, `width` — the integer-stride downsample. */
  private def cellSql(i: Int, j: Int, idiv: String): String = {
    val r = s"(($i * n_rows_avail) $idiv 8)"
    val c = s"(($j * width) $idiv 8)"
    graySql(s"54 + $r * row_bytes + $c * 3")
  }

  /** Little-endian header read at a CONSTANT byte offset (the
    * [[Media]] leVal arithmetic, local spelling shared verbatim by both
    * engines). */
  private def leSql(byteOff: Int, nBytes: Int): String =
    (0 until nBytes).map { k =>
      s"${byteAtSql((byteOff + k).toString)} * CAST(${1L << (8 * k)} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Fixture synthesis: documents wrapped in a REAL 54-byte BMP header
    * (the [[Media.asContainerTable]] BMP layout) at aHash-friendly
    * dimensions — width 8 + doc_id % 3, height 8 + doc_id % 5, 24 bpp
    * — so a ~300-byte fixture doc yields an 8-to-12-scanline image
    * instead of the one partial row the media-lake synthesis (width up
    * to 640) gives it.
    *
    * Two pixel populations, both fully deterministic in either engine:
    *
    *  - doc_id % 3 ≠ 2: the document's own text bytes — individually
    *    varied content (NULL text → NULL payload, dropped at the
    *    eligibility gate);
    *  - doc_id % 3 = 2: the PLANTED near-duplicate population the
    *    fixture corpus lacks at the byte level (its "duplicate" texts
    *    differ by insertions, which SHIFT every subsequent pixel — no
    *    real image pair does that). Each 30-id group g = doc_id div 30
    *    shares one base image (a 16-byte multiplicative-hash pattern of
    *    g, repeated to exactly height complete scanlines) with a SINGLE
    *    BYTE edited at a doc-dependent position — ids d and d+15 land
    *    in the same (width, height) bucket with one-pixel-apart
    *    content, so they pair at small Hamming distance while
    *    different groups (different base) and the text images don't.
    */
  private[multimodal] def hexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    val w = "(8 + doc_id % 3)"
    val hgt = "(8 + doc_id % 5)"
    def leHex(v: String, nBytes: Int): String =
      Media.leHexSql(v, nBytes, idiv)
    // planted branch: width is 8 + 2 = 10 → row stride 32 bytes; the
    // base pattern (16 bytes) repeats h·2 times = h complete 32-byte
    // scanlines; the edit replaces byte p = 3 + 8·(doc_id % 25) (always
    // inside the first 8 sampled rows) with (doc_id · 131) % 256
    val base = Media.groupPatternSql(s"CAST($hgt * 2 AS INT)", idiv)
    val edited = Media.editedPatternSql(base, 131, idiv)
    val pixHex = s"CASE WHEN doc_id % 3 = 2 THEN $edited ELSE $textHex END"
    val pixBytes = s"CASE WHEN doc_id % 3 = 2 THEN $hgt * 32 ELSE $textBytes END"
    s"'424D' || ${leHex(s"54 + $pixBytes", 4)} || '0000000036000000' || " +
      s"'28000000' || ${leHex(w, 4)} || ${leHex(hgt, 4)} || '01001800' || " +
      s"repeat('00', 24) || $pixHex"
  }

  /** The hash over `(media_id, h, n_bytes)`.
    *
    * The Spark side computes the 64 grid cells as ONE bounded
    * `transform` over `sequence(0, 63)` plus two bounded `aggregate`
    * folds: unrolling the cells into 64 plain columns packs ~6400 substring
    * ops into a single fused `processNext()` past janino's method
    * limit, and the WHOLE stage (scan included) falls back to
    * interpreted (observed, not guessed). The HOFs are interpreted but
    * constant-size per row (64 elements — nothing data-dependent), and
    * the surrounding stages stay codegen-clean. The DuckDB twin keeps
    * the unrolled 64-column CTE spelling — same arithmetic, pinned by
    * the oracle compare. */
  private[graft] def ahashOfHexMaybeCk(sized: DataFrame,
      checkpoint: Boolean, keep: Seq[String] = Nil): DataFrame = {
    val bmp1 = sized
      .filter(col("h").isNotNull && col("n_bytes") >= 54L &&
        substring(col("h"), 1, 4) === "424D")
      .select(keep.map(col) ++ Seq(col("media_id"), col("h"),
        expr(s"CAST(${leSql(18, 4)} AS BIGINT)").as("width"),
        expr(s"CAST(${leSql(22, 4)} AS BIGINT)").as("height"),
        expr(s"CAST(${leSql(28, 2)} AS BIGINT)").as("bpp"),
        (col("n_bytes") - 54L).as("avail")): _*)
      .withColumn("row_bytes", expr("((bpp * width + 31L) div 32L) * 4L"))
      .filter(col("row_bytes") >= 1L)
      .withColumn("n_rows_avail",
        least(col("height"), expr("avail div row_bytes")))
      .filter(col("bpp") === 24L && col("width") >= Grid.toLong &&
        col("n_rows_avail") >= Grid.toLong)
    val bmp = if (checkpoint) bmp1.localCheckpoint() else bmp1
    // grid cell k = (i, j) = (k div 8, k % 8), same integer strides as
    // the DuckDB cellSql spelling with i/j dynamic; probe + vote ride
    // the shared Hamming64 body
    Hamming64.probeVote(bmp, Grid * Grid,
      k => graySql(
        s"54 + ((($k div 8) * n_rows_avail) div 8) * row_bytes" +
          s" + ((($k % 8) * width) div 8) * 3"),
      ((keep :+ "media_id") ++ sketchCols).map(col))
  }

  /** The eligibility → 64-cell → hash chain, DuckDB side. */
  private[multimodal] def ahashBodyCtesSql(src: String, pfx: String): String =
    s"""${pfx}bmp AS (
       |  SELECT media_id, h,
       |    CAST(${leSql(18, 4)} AS BIGINT) AS width,
       |    CAST(${leSql(22, 4)} AS BIGINT) AS height,
       |    CAST(${leSql(28, 2)} AS BIGINT) AS bpp,
       |    CAST(n_bytes - 54 AS BIGINT) AS avail
       |  FROM $src
       |  WHERE n_bytes >= 54 AND substring(h, 1, 4) = '424D'
       |), ${pfx}rowed AS (
       |  SELECT *, least(height, avail // row_bytes) AS n_rows_avail
       |  FROM (SELECT *, ((bpp * width + 31) // 32) * 4 AS row_bytes FROM ${pfx}bmp)
       |  WHERE ((bpp * width + 31) // 32) * 4 >= 1
       |), ${pfx}elig AS (
       |  SELECT * FROM ${pfx}rowed
       |  WHERE bpp = 24 AND width >= $Grid AND n_rows_avail >= $Grid
       |), ${Hamming64.voteCtesSql(s"${pfx}elig", pfx, Grid * Grid,
            k => cellSql(k / Grid, k % Grid, "//"), sketchCols)}""".stripMargin

  /** Best copy = highest RESOLUTION `width · n_rows_avail` (the real
    * pixels the decoder exposed — a truncated upload competes with its
    * actual rows). */
  private[graft] val metric: Column = col("width") * col("n_rows_avail")
  private[multimodal] def metricSql(q: String): String =
    s"${q}width * ${q}n_rows_avail"

  override protected def synthCte: String = "imgs"
}
