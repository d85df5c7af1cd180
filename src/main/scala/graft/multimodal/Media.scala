package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One media record as the typed batch-processing surface sees it. */
case class MediaRow(media_id: Long, payload: Array[Byte], fmt: String)

/** Per-record decode output: generic byte statistics plus the REAL
  * container parse — `kind` is the sniffed container, the dimension /
  * sample fields are decoded from the header (NULL when the container
  * doesn't carry them or the payload is neither). */
case class MediaDecoded(media_id: Long, fmt: String,
    n_bytes: Option[Long], header_hex: Option[String],
    byte_sum: Option[Long], n_hi_bytes: Option[Long],
    kind: Option[String], width: Option[Long], height: Option[Long],
    bpp: Option[Long], channels: Option[Long], sample_rate: Option[Long],
    bits: Option[Long])

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus per-record decode and
  * feature extraction.
  *
  * The decode is a REAL parse of six public containers (no codec
  * library needed — the layouts are bytes at documented offsets):
  * BMP (BITMAPINFOHEADER: width/height int32 LE at byte 18/22, bpp
  * uint16 LE at 28), GIF (logical screen descriptor: width/height
  * uint16 LE at 6/8, color resolution in bits 4-6 of the packed byte
  * at 10; both GIF87a and GIF89a signatures), MP4/ISO-BMFF (uint32 BE
  * size + type boxes where `moov`/`trak` DESCEND into their payload —
  * the nested walk — to the `tkhd` box's 16.16 fixed-point
  * width/height, version 0 and 1 layouts), and three BOUNDED
  * MARKER/CHUNK WALKS — RIFF WAV
  * (4-byte id + uint32 LE size from byte 12, odd payloads padded,
  * until `fmt ` and `data`), PNG (uint32 BE length + 4-byte type +
  * CRC from byte 8 until a complete `IHDR`), and JPEG (0xFF-marker
  * segments with uint16 BE lengths from byte 2, past APPn/COM/DQT/DHT,
  * skipping standalone markers, until SOF0/1/2) — so files that carry
  * `LIST`/`fact`/`cue ` chunks, misplaced ancillary PNG chunks, or
  * EXIF/comment segments in front of the frame header parse at their
  * true offsets and the canonical layouts are just the walks'
  * first-step cases. Container sniffing is by magic
  * bytes exactly as production ingest does — a payload that happens to
  * start with a magic is parsed as that container, deterministically
  * in both engines. Payloads that are neither report `kind = raw` with
  * NULL decode fields; pixel/sample DATA decoding beyond the header
  * (the part that genuinely needs a codec) stays out of scope.
  *
  * The plumbing around the decode is the production shape:
  *
  *  - ingestion normalizes to `(media_id, payload BINARY, fmt, meta)` —
  *    the schema a 100 TB media lake stores (payload column prunes away
  *    for metadata-only queries; parquet keeps binaries row-group-local);
  *  - [[Media.mediaFeatures]] runs the decode as Catalyst
  *    expressions: the bounded container walks are ONE native
  *    expression over the binary payload (`container_walks_of_binary`,
  *    running [[ContainerWalk]]), the constant-offset BMP/GIF reads and
  *    the magic sniffs are built-ins over the hex encoding, and the
  *    DuckDB oracle spells every rule again in SQL;
  *  - [[Media.mediaFeaturesPartitioned]] runs the SAME decode through
  *    `Dataset.mapPartitions` ([[Media.realDecode]] on actual bytes,
  *    calling the same [[ContainerWalk]]) — the Scala twin of Python's
  *    `mapInPandas` batch-UDF surface: one iterator per partition,
  *    arbitrary JVM code (JNI codec, model inference) per record, typed
  *    output schema. A spec asserts the two plans agree row-for-row.
  *
  * The fixtures ship no binary table, so ingestion derives payloads
  * from `documents.text` (UTF-8 bytes), and
  * [[Media.asContainerTable]] WRAPS a deterministic subset in real BMP
  * / WAV headers (dimensions derived from doc_id) so the decode path
  * round-trips honest container bytes end to end.
  */
object Media {
  import ContainerWalk.{Mp4WalkChunks, WalkChunks}

  /** Ingestion: documents → media-lake schema. `payload` is the opaque
    * binary column; `fmt` plays the role of the container/codec tag. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      col("source").as("fmt"),
      struct(col("n_chars"), col("lang")).as("meta"))

  /** The REAL per-record decoder: generic byte statistics plus the six
    * container parses, on actual payload bytes. This is
    * the function running inside the [[mediaFeaturesPartitioned]] batch
    * boundary — a pipeline adding a true pixel/sample codec extends it
    * here. NULL payloads report NULL stats (the declarative twin's
    * semantics). */
  def realDecode(m: MediaRow): MediaDecoded = {
    if (m.payload == null)
      return MediaDecoded(m.media_id, m.fmt, None, None, None, None,
        None, None, None, None, None, None, None)
    val bytes = m.payload
    val header = bytes.take(8).map(b => f"${b & 0xff}%02X").mkString
    var sum = 0L; var hi = 0L
    bytes.foreach { b => sum += (b & 0xff); if ((b & 0xff) >= 0x80) hi += 1 }
    def le(off: Int, n: Int): Long =
      (0 until n).map(k => (bytes(off + k) & 0xffL) << (8 * k)).sum
    def ascii(off: Int, s: String): Boolean =
      bytes.length >= off + s.length &&
        s.indices.forall(i => (bytes(off + i) & 0xff) == s.charAt(i).toInt)
    val base = MediaDecoded(m.media_id, m.fmt, Some(bytes.length.toLong),
      Some(header), Some(sum), Some(hi), Some("raw"),
      None, None, None, None, None, None)
    // Each container gets an INDEPENDENT detector (None = its magic or
    // its walk did not resolve), picked in [[KindOrder]]. The precedence
    // chain matters beyond style: MP4's magic lives at byte 4, so
    // adversarial bytes can carry it UNDER a JPEG/RIFF magic at byte 0 —
    // an if/else chain that consumed the payload on the first magic
    // would then diverge from [[mediaFeatures]], which always runs every
    // walk and falls through.
    def bmpOpt: Option[MediaDecoded] =
      if (bytes.length >= 54 && ascii(0, "BM"))
        Some(base.copy(kind = Some("bmp"), width = Some(le(18, 4)),
          height = Some(le(22, 4)), bpp = Some(le(28, 2))))
      else None
    def gifOpt: Option[MediaDecoded] =
      // GIF logical screen descriptor — FIXED offsets (the BMP shape,
      // not a walk): width/height uint16 LE at 6/8; bpp from the packed
      // byte's GCT-size bits 0-2 (2^(N+1) palette entries ⇒ N+1 stored
      // bits per pixel — what real tools report; bits 4-6 are the
      // source color resolution, a different number); pixel data is
      // palette-indexed, so channels = 1
      if (bytes.length >= 13 && (ascii(0, "GIF87a") || ascii(0, "GIF89a")))
        Some(base.copy(kind = Some("gif"), width = Some(le(6, 2)),
          height = Some(le(8, 2)), bpp = Some((le(10, 1) & 7) + 1),
          channels = Some(1L)))
      else None
    // the four walked containers: one walker, shared with every Spark
    // plan through the `container_walks_of_binary` expression
    def pngOpt: Option[MediaDecoded] =
      ContainerWalk.png(bytes).filter(_.ihdrOff.isDefined).map(p =>
        base.copy(kind = Some("png"), width = p.w, height = p.ht,
          bpp = p.depth, channels = p.ctype.flatMap(pngChannels)))
    def jpgOpt: Option[MediaDecoded] =
      ContainerWalk.jpeg(bytes).filter(_.sofOff.isDefined).map(j =>
        base.copy(kind = Some("jpeg"), width = j.w, height = j.ht,
          bpp = j.prec, channels = j.ncomp))
    def mp4Opt: Option[MediaDecoded] =
      ContainerWalk.mp4(bytes).filter(_.tkhdOff.isDefined).map(m =>
        base.copy(kind = Some("mp4"), width = m.w, height = m.ht))
    def wavOpt: Option[MediaDecoded] =
      ContainerWalk.riff(bytes)
        .filter(r => r.fmtOff.isDefined && r.dataOff.isDefined).map(r =>
          base.copy(kind = Some("wav"), channels = r.channels,
            sample_rate = r.sampleRate, bits = r.bits))
    bmpOpt.orElse(gifOpt).orElse(pngOpt).orElse(jpgOpt)
      .orElse(mp4Opt).orElse(wavOpt).getOrElse(base)
  }

  /** PNG color type → sample channels (0 gray, 2 RGB, 3 palette,
    * 4 gray+alpha, 6 RGBA); other values are malformed → None/NULL.
    * One mapping shared by the typed decoder and both SQL spellings. */
  private def pngChannels(ctype: Long): Option[Long] = ctype match {
    case 0L | 3L => Some(1L)
    case 2L => Some(3L)
    case 4L => Some(2L)
    case 6L => Some(4L)
    case _ => None
  }

  /** Feature extraction as declarative expressions: the payload's hex
    * string is the portable byte-access path (Spark and DuckDB agree on
    * `hex` output), so byte statistics stay inside codegen with no UDF.
    */
  /** Byte value of a 2-hex-char column — the portable byte-access path. */
  private def byteVal(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (instr(lit("0123456789ABCDEF"), substring(p, 1, 1)) - 1) * 16L +
      (instr(lit("0123456789ABCDEF"), substring(p, 2, 1)) - 1)

  /** Little-endian unsigned integer at BYTE offset `byteOff` of hex
    * column `h` — the header-field read both engines share. */
  private def leVal(h: org.apache.spark.sql.Column, byteOff: Int,
      nBytes: Int): org.apache.spark.sql.Column =
    (0 until nBytes).map(k =>
      byteVal(substring(h, (byteOff + k) * 2 + 1, 2)) * lit(1L << (8 * k)))
      .reduce(_ + _).cast("long")

  /** DuckDB spelling of [[leVal]]. */
  private def leValSql(h: String, byteOff: Int, nBytes: Int): String =
    (0 until nBytes).map { k =>
      val p = (byteOff + k) * 2 + 1
      s"((strpos('0123456789ABCDEF', substring($h, $p, 1)) - 1) * 16 + " +
        s"(strpos('0123456789ABCDEF', substring($h, ${p + 1}, 1)) - 1)) * " +
        // CAST keeps the positional multiply in int64 (the dynLeSql
        // high-byte overflow, DuckDB spelling)
        s"CAST(${1L << (8 * k)} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Hex spelling of `v`'s little-endian `nBytes` bytes — SQL shared by
    * both engines modulo the integer-divide token (`div` / `//`). Also
    * the one spelling every family fixture synthesis uses (r15
    * consolidation — five files carried local copies of this builder).
    */
  private[multimodal] def leHexSql(v: String, nBytes: Int, idiv: String): String =
    (0 until nBytes).map { k =>
      val b = s"((($v) $idiv ${1L << (8 * k)}) % 256)"
      s"substr('0123456789ABCDEF', CAST(($b) $idiv 16 AS INT) + 1, 1) || " +
        s"substr('0123456789ABCDEF', CAST(($b) % 16 AS INT) + 1, 1)"
    }.mkString("(", " || ", ")")

  /** Hex spelling of `v`'s BIG-endian `nBytes` bytes — PNG lengths and
    * dimensions, JPEG segment lengths and dimensions are network order. */
  private[multimodal] def beHexSql(v: String, nBytes: Int, idiv: String): String =
    (0 until nBytes).map { k =>
      val b = s"((($v) $idiv ${1L << (8 * (nBytes - 1 - k))}) % 256)"
      s"substr('0123456789ABCDEF', CAST(($b) $idiv 16 AS INT) + 1, 1) || " +
        s"substr('0123456789ABCDEF', CAST(($b) % 16 AS INT) + 1, 1)"
    }.mkString("(", " || ", ")")

  /** The group-keyed planted-clone pattern every media fixture shares:
    * the 16-byte multiplicative-hash pattern of group
    * `g = doc_id div 30`, repeated `copies` times (a hex expression —
    * caller supplies the INT-cast copy count). Constant within a
    * group, distinct across groups, so planted pairs cluster and
    * groups don't. */
  private[multimodal] def groupPatternSql(copies: String, idiv: String): String = {
    val g = s"(doc_id $idiv 30)"
    s"repeat(${leHexSql(s"($g * 2654435761) % 4294967296", 4, idiv)} || " +
      s"${leHexSql(s"($g * 2246822519) % 4294967296", 4, idiv)} || " +
      s"${leHexSql(s"($g * 3266489917) % 4294967296", 4, idiv)} || " +
      s"${leHexSql(s"($g * 668265263) % 4294967296", 4, idiv)}, $copies)"
  }

  /** [[groupPatternSql]]'s base with ONE byte edited at the
    * doc-dependent position `3 + 8·(doc_id % 25)` — the per-family
    * edit byte is `(doc_id · mult) % 256` (a distinct multiplier per
    * family keeps the four fixture populations from aliasing). */
  private[multimodal] def editedPatternSql(base: String, mult: Int,
      idiv: String): String = {
    val p = "(3 + 8 * (doc_id % 25))"
    s"substring($base, 1, CAST($p * 2 AS INT)) || " +
      s"${leHexSql(s"((doc_id * $mult) % 256)", 1, idiv)} || " +
      s"substring($base, CAST($p * 2 + 3 AS INT))"
  }

  // ---- the container walks, DuckDB spelling -------------------------------
  //
  // Spark runs the bounded RIFF / PNG / JPEG / MP4 walks as
  // [[ContainerWalk]] over the binary payload (one
  // `container_walks_of_binary` expression, see [[walksOf]]). The oracle
  // spells the same rules, step bounds included, as chains of per-step
  // CTE columns over the hex string, beginning with RIFF: (chunk id,
  // chunk size) pairs from byte 12, hopping size + pad bytes.

  private[multimodal] val HexFmt = "666D7420" // 'fmt '
  private[multimodal] val HexData = "64617461" // 'data'

  /** Little-endian read at a DYNAMIC byte offset (`off` is a SQL
    * expression over prior columns, not a constant) of hex column `h`.
    * The positional multiplier is CAST to BIGINT: an INT multiply
    * overflows under ANSI the moment a size field carries a high byte
    * (byte value 255 at position 3 is 255·2²⁴ > 2³¹ — any chunk past
    * 16 MB), which the random-layout walk property caught. */
  private[multimodal] def dynLeSql(off: String, nBytes: Int): String =
    (0 until nBytes).map { k =>
      val hiP = s"CAST((($off) + $k) * 2 + 1 AS INT)"
      val loP = s"CAST((($off) + $k) * 2 + 2 AS INT)"
      s"((instr('0123456789ABCDEF', substring(h, $hiP, 1)) - 1) * 16 + " +
        s"(instr('0123456789ABCDEF', substring(h, $loP, 1)) - 1)) * " +
        s"CAST(${1L << (8 * k)} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** BIG-endian twin of [[dynLeSql]] — PNG chunk lengths/IHDR fields
    * and JPEG segment lengths/SOF fields are network order. Same
    * BIGINT-widened positional multiply (a 4-byte BE length's HIGH byte
    * is the overflowing one here). */
  private[multimodal] def dynBeSql(off: String, nBytes: Int): String =
    (0 until nBytes).map { k =>
      val hiP = s"CAST((($off) + $k) * 2 + 1 AS INT)"
      val loP = s"CAST((($off) + $k) * 2 + 2 AS INT)"
      s"((instr('0123456789ABCDEF', substring(h, $hiP, 1)) - 1) * 16 + " +
        s"(instr('0123456789ABCDEF', substring(h, $loP, 1)) - 1)) * " +
        s"CAST(${1L << (8 * (nBytes - 1 - k))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Walk entry: byte 12 for RIFF/WAVE payloads, NULL otherwise. */
  private[multimodal] val walkOff0Sql: String =
    "CASE WHEN n_bytes >= 44 AND substring(h, 1, 8) = '52494646' " +
      "AND substring(h, 17, 8) = '57415645' THEN CAST(12 AS BIGINT) END"

  /** Step k stage A: chunk id + declared size at off_k (NULL once the
    * walk ran off the end). */
  private def walkIdSz(k: Int): Seq[(String, String)] = Seq(
    s"cid$k" -> (s"CASE WHEN off$k IS NOT NULL AND n_bytes >= off$k + 8 " +
      s"THEN substring(h, CAST(off$k * 2 + 1 AS INT), 8) END"),
    s"csz$k" -> (s"CASE WHEN off$k IS NOT NULL AND n_bytes >= off$k + 8 " +
      s"THEN CAST(${dynLeSql(s"off$k + 4", 4)} AS BIGINT) END"))

  /** Step k stage B: next chunk header offset (RIFF pads odd-sized
    * chunk payloads to even). */
  private def walkNext(k: Int): (String, String) =
    s"off${k + 1}" ->
      s"CASE WHEN cid$k IS NOT NULL THEN off$k + 8 + csz$k + (csz$k % 2) END"

  /** First-match fold over the walked steps: the `fmt ` payload offset
    * (complete 16-byte payload required), the `data` payload offset,
    * and the `data` declared length. */
  private val walkFoundSql: Seq[(String, String)] = Seq(
    "fmt_off" -> (0 until WalkChunks).map(k =>
      s"CASE WHEN cid$k = '$HexFmt' AND csz$k >= 16 " +
        s"AND n_bytes >= off$k + 24 THEN off$k + 8 END")
      .mkString("COALESCE(", ", ", ")"),
    "data_off" -> (0 until WalkChunks).map(k =>
      s"CASE WHEN cid$k = '$HexData' THEN off$k + 8 END")
      .mkString("COALESCE(", ", ", ")"),
    "data_len" -> (0 until WalkChunks).map(k =>
      s"CASE WHEN cid$k = '$HexData' THEN csz$k END")
      .mkString("COALESCE(", ", ", ")"))

  // PNG: uint32 BE length + 4-byte type + payload + 4-byte CRC chunks
  // from byte 8. The spec puts IHDR first; the walk also hops misplaced
  // ancillary chunks in front of it.

  private[multimodal] val HexIhdr = "49484452" // 'IHDR'
  private[multimodal] val PngSigHex = "89504E470D0A1A0A"

  /** PNG color type → channels, as a SQL CASE over expression `c` —
    * the [[pngChannels]] mapping in both engines' spelling. */
  private def pngChannelsSql(c: String): String =
    s"CASE WHEN ($c) IN (0, 3) THEN 1 WHEN ($c) = 2 THEN 3 " +
      s"WHEN ($c) = 4 THEN 2 WHEN ($c) = 6 THEN 4 END"

  private[multimodal] val HexIdat = "49444154" // 'IDAT'

  // MP4 (ISO-BMFF): uint32 BE size + 4-byte type boxes; the video
  // dimensions live NESTED at moov → trak → tkhd, so a `moov` or `trak`
  // box DESCENDS into its payload (off + 8) instead of hopping over it.

  private[multimodal] val HexMoov = "6D6F6F76"
  private[multimodal] val HexTrak = "7472616B"
  private[multimodal] val HexTkhd = "746B6864"
  private[multimodal] val HexFtyp = "66747970"
  private[multimodal] val HexMvhd = "6D766864"
  private[multimodal] val HexMdat = "6D646174"

  /** Complete-`mvhd` payload length by version: v0 carries 32-bit
    * times (100-byte payload), v1 64-bit (112). */
  private[multimodal] def mvhdNeedSql(v: String): String =
    s"(CASE WHEN $v = 1 THEN 112 ELSE 100 END)"

  /** `mvhd` movie timescale at payload offset `m` — after
    * version+flags and the creation/modification times, whose width is
    * what the version changes (v0: 4+4+4 → 12; v1: 4+8+8 → 20). */
  private[multimodal] def mvhdTsSql(m: String): String =
    s"CASE WHEN ${dynBeSql(m, 1)} = 1 THEN ${dynBeSql(s"($m) + 20", 4)} " +
      s"ELSE ${dynBeSql(s"($m) + 12", 4)} END"

  /** `mvhd` movie duration in timescale ticks. The v1 field is 64-bit;
    * this reads its LOW word and requires the HIGH word zero (NULL
    * otherwise) — a duration past 2³² ticks would push the positional
    * multiply past int64 under ANSI, and no real presentation carries
    * one (2³² ticks at the common 600-tick scale is 82 days). */
  private[multimodal] def mvhdDurSql(m: String): String =
    s"CASE WHEN ${dynBeSql(m, 1)} = 1 THEN " +
      s"(CASE WHEN ${dynBeSql(s"($m) + 24", 4)} = 0 " +
      s"THEN ${dynBeSql(s"($m) + 28", 4)} END) " +
      s"ELSE ${dynBeSql(s"($m) + 16", 4)} END"

  /** tkhd payload offset of the width field (the version byte decides
    * the timestamp widths): SQL over a payload-offset expression `t`. */
  private[multimodal] def tkhdWoffSql(t: String): String =
    s"(($t) + (CASE WHEN ${dynBeSql(t, 1)} = 1 THEN 88 ELSE 76 END))"

  /** DuckDB side of the MP4 walk: chained MATERIALIZED CTEs over `src`;
    * final stage `mfin` carries `mp4_tkhd`, `mp4_w`, `mp4_ht`. */
  private[multimodal] def mp4CteSql(src: String): String = {
    val sb = new StringBuilder
    sb.append(s"m0 AS MATERIALIZED (SELECT *, CASE WHEN n_bytes >= 12 " +
      s"AND substring(h, 9, 8) = '$HexFtyp' THEN CAST(0 AS BIGINT) END " +
      s"AS moff0 FROM $src)")
    var prev = "m0"
    for (k <- 0 until Mp4WalkChunks) {
      val live = s"moff$k IS NOT NULL AND n_bytes >= moff$k + 8"
      sb.append(s""",
        |ma$k AS MATERIALIZED (SELECT *,
        |  CASE WHEN $live
        |    THEN substring(h, CAST((moff$k + 4) * 2 + 1 AS INT), 8) END AS mtyp$k,
        |  CASE WHEN $live
        |    THEN CAST(${dynBeSql(s"moff$k", 4)} AS BIGINT) END AS msz$k
        |  FROM $prev)""".stripMargin)
      prev = s"ma$k"
      if (k < Mp4WalkChunks - 1) {
        sb.append(s""",
          |mb$k AS MATERIALIZED (SELECT *, CASE
          |  WHEN mtyp$k IN ('$HexMoov', '$HexTrak') THEN moff$k + 8
          |  WHEN mtyp$k IS NOT NULL AND msz$k >= 8 THEN moff$k + msz$k
          |  ELSE CAST(NULL AS BIGINT) END AS moff${k + 1} FROM ma$k)""".stripMargin)
        prev = s"mb$k"
      }
    }
    val tkhd = (0 until Mp4WalkChunks).map(k =>
      s"CASE WHEN mtyp$k = '$HexTkhd' AND n_bytes >= moff$k + 9 " +
        s"AND n_bytes >= moff$k + 8 + (CASE WHEN " +
        s"${dynBeSql(s"moff$k + 8", 1)} = 1 THEN 96 ELSE 84 END) " +
        s"THEN moff$k + 8 END")
      .mkString("COALESCE(", ", ", ")")
    val mvhd = (0 until Mp4WalkChunks).map(k =>
      s"CASE WHEN mtyp$k = '$HexMvhd' AND n_bytes >= moff$k + 9 " +
        s"AND n_bytes >= moff$k + 8 + " +
        s"${mvhdNeedSql(dynBeSql(s"moff$k + 8", 1))} " +
        s"THEN moff$k + 8 END")
      .mkString("COALESCE(", ", ", ")")
    val mdat = (0 until Mp4WalkChunks).map(k =>
      s"CASE WHEN mtyp$k = '$HexMdat' AND msz$k >= 8 THEN moff$k + 8 END")
      .mkString("COALESCE(", ", ", ")")
    val mdatLen = (0 until Mp4WalkChunks).map(k =>
      s"CASE WHEN mtyp$k = '$HexMdat' AND msz$k >= 8 THEN msz$k - 8 END")
      .mkString("COALESCE(", ", ", ")")
    sb.append(s""",
      |mw AS MATERIALIZED (SELECT *, $tkhd AS mp4_tkhd, $mvhd AS mp4_mvhd,
      |  $mdat AS mp4_mdat, $mdatLen AS mp4_mdat_len FROM $prev),
      |mfin AS MATERIALIZED (SELECT *,
      |  CASE WHEN mp4_tkhd IS NOT NULL
      |    THEN CAST(${dynBeSql(tkhdWoffSql("mp4_tkhd"), 4)} // 65536 AS BIGINT) END AS mp4_w,
      |  CASE WHEN mp4_tkhd IS NOT NULL
      |    THEN CAST(${dynBeSql(tkhdWoffSql("mp4_tkhd") + " + 4", 4)} // 65536 AS BIGINT) END AS mp4_ht,
      |  CASE WHEN mp4_mvhd IS NOT NULL
      |    THEN CAST(${mvhdTsSql("mp4_mvhd")} AS BIGINT) END AS mp4_mts,
      |  CASE WHEN mp4_mvhd IS NOT NULL
      |    THEN CAST(${mvhdDurSql("mp4_mvhd")} AS BIGINT) END AS mp4_mdur
      |  FROM mw)""".stripMargin)
    sb.toString
  }

  /** DuckDB side of the PNG walk: chained MATERIALIZED CTEs over `src`
    * (exposing `h`, `n_bytes`); final stage `pfin` carries `png_ihdr`,
    * `png_w`, `png_ht`, `png_depth`, `png_ctype`. Same
    * materialize-every-stage rationale as [[walkCteSql]]. */
  private[multimodal] def pngCteSql(src: String): String = {
    val sb = new StringBuilder
    sb.append(s"p0 AS MATERIALIZED (SELECT *, CASE WHEN n_bytes >= 16 " +
      s"AND substring(h, 1, 16) = '$PngSigHex' THEN CAST(8 AS BIGINT) END " +
      s"AS poff0 FROM $src)")
    var prev = "p0"
    for (k <- 0 until WalkChunks) {
      val live = s"poff$k IS NOT NULL AND n_bytes >= poff$k + 8"
      sb.append(s""",
        |pa$k AS MATERIALIZED (SELECT *,
        |  CASE WHEN $live
        |    THEN substring(h, CAST((poff$k + 4) * 2 + 1 AS INT), 8) END AS ptyp$k,
        |  CASE WHEN $live
        |    THEN CAST(${dynBeSql(s"poff$k", 4)} AS BIGINT) END AS plen$k
        |  FROM $prev)""".stripMargin)
      prev = s"pa$k"
      if (k < WalkChunks - 1) {
        sb.append(s""",
          |pb$k AS MATERIALIZED (SELECT *, CASE WHEN ptyp$k IS NOT NULL
          |  THEN poff$k + 12 + plen$k END AS poff${k + 1} FROM pa$k)""".stripMargin)
        prev = s"pb$k"
      }
    }
    val ihdr = (0 until WalkChunks).map(k =>
      s"CASE WHEN ptyp$k = '$HexIhdr' AND plen$k >= 13 " +
        s"AND n_bytes >= poff$k + 21 THEN poff$k + 8 END")
      .mkString("COALESCE(", ", ", ")")
    val idat = (0 until WalkChunks).map(k =>
      s"CASE WHEN ptyp$k = '$HexIdat' THEN poff$k + 8 END")
      .mkString("COALESCE(", ", ", ")")
    val idatLen = (0 until WalkChunks).map(k =>
      s"CASE WHEN ptyp$k = '$HexIdat' THEN plen$k END")
      .mkString("COALESCE(", ", ", ")")
    sb.append(s""",
      |pw AS MATERIALIZED (SELECT *, $ihdr AS png_ihdr,
      |  $idat AS png_idat, $idatLen AS png_idat_len FROM $prev),
      |pfin AS MATERIALIZED (SELECT *,
      |  CASE WHEN png_ihdr IS NOT NULL
      |    THEN CAST(${dynBeSql("png_ihdr", 4)} AS BIGINT) END AS png_w,
      |  CASE WHEN png_ihdr IS NOT NULL
      |    THEN CAST(${dynBeSql("png_ihdr + 4", 4)} AS BIGINT) END AS png_ht,
      |  CASE WHEN png_ihdr IS NOT NULL
      |    THEN CAST(${dynBeSql("png_ihdr + 8", 1)} AS BIGINT) END AS png_depth,
      |  CASE WHEN png_ihdr IS NOT NULL
      |    THEN CAST(${dynBeSql("png_ihdr + 9", 1)} AS BIGINT) END AS png_ctype
      |  FROM pw)""".stripMargin)
    sb.toString
  }

  /** DuckDB side of the JPEG walk: chained MATERIALIZED CTEs over `src`;
    * final stage `jfin` carries `jpg_sof`, `jpg_prec`, `jpg_ht`,
    * `jpg_w`, `jpg_ncomp`. */
  private def jpgCteSql(src: String): String = {
    val standalone = "('FF01','FFD0','FFD1','FFD2','FFD3','FFD4','FFD5','FFD6','FFD7','FFD8')"
    val sb = new StringBuilder
    sb.append(s"j0 AS MATERIALIZED (SELECT *, CASE WHEN n_bytes >= 4 " +
      "AND substring(h, 1, 4) = 'FFD8' THEN CAST(2 AS BIGINT) END " +
      s"AS joff0 FROM $src)")
    var prev = "j0"
    for (k <- 0 until WalkChunks) {
      val live = s"joff$k IS NOT NULL AND n_bytes >= joff$k + 4"
      sb.append(s""",
        |ja$k AS MATERIALIZED (SELECT *,
        |  CASE WHEN $live
        |    THEN substring(h, CAST(joff$k * 2 + 1 AS INT), 4) END AS jm$k,
        |  CASE WHEN $live
        |    THEN CAST(${dynBeSql(s"joff$k + 2", 2)} AS BIGINT) END AS jl$k
        |  FROM $prev)""".stripMargin)
      prev = s"ja$k"
      if (k < WalkChunks - 1) {
        sb.append(s""",
          |jb$k AS MATERIALIZED (SELECT *, CASE
          |  WHEN jm$k IN ('FFC0','FFC1','FFC2') THEN CAST(NULL AS BIGINT)
          |  WHEN jm$k IN $standalone THEN joff$k + 2
          |  WHEN substring(jm$k, 1, 2) = 'FF' AND jm$k NOT IN ('FFD9','FFDA')
          |    AND jl$k >= 2 THEN joff$k + 2 + jl$k
          |  ELSE CAST(NULL AS BIGINT) END AS joff${k + 1} FROM ja$k)""".stripMargin)
        prev = s"jb$k"
      }
    }
    val sof = (0 until WalkChunks).map(k =>
      s"CASE WHEN jm$k IN ('FFC0','FFC1','FFC2') " +
        s"AND n_bytes >= joff$k + 10 THEN joff$k + 4 END")
      .mkString("COALESCE(", ", ", ")")
    sb.append(s""",
      |jw AS MATERIALIZED (SELECT *, $sof AS jpg_sof FROM $prev),
      |jfin AS MATERIALIZED (SELECT *,
      |  CASE WHEN jpg_sof IS NOT NULL
      |    THEN CAST(${dynBeSql("jpg_sof", 1)} AS BIGINT) END AS jpg_prec,
      |  CASE WHEN jpg_sof IS NOT NULL
      |    THEN CAST(${dynBeSql("jpg_sof + 1", 2)} AS BIGINT) END AS jpg_ht,
      |  CASE WHEN jpg_sof IS NOT NULL
      |    THEN CAST(${dynBeSql("jpg_sof + 3", 2)} AS BIGINT) END AS jpg_w,
      |  CASE WHEN jpg_sof IS NOT NULL
      |    THEN CAST(${dynBeSql("jpg_sof + 5", 1)} AS BIGINT) END AS jpg_ncomp
      |  FROM jw)""".stripMargin)
    sb.toString
  }

  // ---- the container walks, Spark side -------------------------------------

  /** The five walks of `df`'s binary `payload` column as ONE
    * `container_walks_of_binary` struct — `riff`, `png`, `jpeg`, `mp4`,
    * `sos`, each NULL when the payload lacks that walk's entry magic. */
  private[multimodal] def walksOf(df: DataFrame): org.apache.spark.sql.Column =
    graft.GraftExtensions.call(df, "container_walks_of_binary", col("payload"))

  /** Test seam: the RIFF walk columns over an arbitrary payload frame —
    * what lets MediaSpec cross-check the walk on RANDOM chunk layouts,
    * not just the fixture shapes. */
  private[graft] def walkColumns(payloads: DataFrame): DataFrame =
    withWalk(payloads.select(col("media_id"), col("payload"),
      hex(col("payload")).as("h"),
      length(col("payload")).cast("long").as("n_bytes")))

  /** Test seam: all five walk structs over an arbitrary payload frame —
    * `(media_id, riff, png, jpeg, mp4, sos)`. */
  private[graft] def containerColumns(payloads: DataFrame): DataFrame =
    payloads.select(col("media_id"), walksOf(payloads).as("cw"))
      .select("media_id", "cw.*")

  /** Appends the RIFF walk's columns to a frame carrying `payload`, then
    * CHECKPOINTS it without the payload: the walk runs exactly once per
    * row instead of once per consuming expression, and the payload
    * bytes are not materialized beside their hex. */
  private def withWalk(df: DataFrame): DataFrame =
    df.withColumn("wk", walksOf(df).getField("riff")).drop("payload")
      .localCheckpoint()
      .withColumn("fmt_off", col("wk.fmt_off"))
      .withColumn("data_off", col("wk.data_off"))
      .withColumn("data_len", col("wk.data_len"))
      .withColumn("wav_channels", col("wk.channels"))
      .withColumn("wav_sample_rate", col("wk.sample_rate"))
      .withColumn("wav_bits", col("wk.bits"))
      .drop("wk")

  // The magic sniffs over `h` / `n_bytes`: each is its walk's entry
  // condition, the eligibility filter the family chains apply before
  // their checkpoint, and [[MediaKeep]]'s kind label.

  private[multimodal] def riffMagic: org.apache.spark.sql.Column =
    col("n_bytes") >= 44L && substring(col("h"), 1, 8) === "52494646" &&
      substring(col("h"), 17, 8) === "57415645"
  private[multimodal] def pngMagic: org.apache.spark.sql.Column =
    col("n_bytes") >= 16L && substring(col("h"), 1, 16) === PngSigHex
  private def jpgMagic: org.apache.spark.sql.Column =
    col("n_bytes") >= 4L && substring(col("h"), 1, 4) === "FFD8"
  private[multimodal] def mp4Magic: org.apache.spark.sql.Column =
    col("n_bytes") >= 12L && substring(col("h"), 9, 8) === HexFtyp
  private[multimodal] def bmpMagic: org.apache.spark.sql.Column =
    col("n_bytes") >= 54L && substring(col("h"), 1, 4) === "424D"
  private[multimodal] def gifMagic: org.apache.spark.sql.Column =
    col("n_bytes") >= 13L &&
      substring(col("h"), 1, 12).isin("474946383761", "474946383961")

  // ---- the ONE kind-precedence chain -----------------------------------------
  //
  // Two surfaces sniff container kinds: the decode report
  // ([[mediaFeatures]] — walk-RESOLVED predicates: 'png' means a
  // complete IHDR was found) and the media-lake keep verdict
  // ([[MediaKeep]] — MAGIC predicates: 'png' means the signature bytes,
  // cheap enough to label every payload without walking it). The
  // PRECEDENCE (order + kind strings) is what must never diverge
  // between them (r15 verdict directive #1), so both build their CASE
  // from [[KindOrder]] below; the predicates stay each surface's own.

  private[multimodal] val KindOrder: Seq[String] =
    Seq("bmp", "gif", "png", "jpeg", "mp4", "wav")

  /** The precedence chain as a Column: NULL payload → NULL kind, first
    * matching predicate in [[KindOrder]] wins, fallthrough → 'raw'. */
  private[graft] def kindCase(hNull: org.apache.spark.sql.Column,
      preds: Map[String, org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    KindOrder.foldLeft(
        when(hNull, lit(null).cast("string"))) {
      (acc, k) => acc.when(preds(k), lit(k))
    }.otherwise(lit("raw"))

  /** The precedence chain as SQL text (the oracle spelling). */
  private[multimodal] def kindCaseSql(hNullCond: String,
      conds: Map[String, String]): String =
    s"CASE WHEN $hNullCond THEN NULL\n" +
      KindOrder.map(k => s"         WHEN ${conds(k)} THEN '$k'")
        .mkString("\n") +
      "\n         ELSE 'raw' END"

  /** The per-kind MAGIC predicates, Column spelling ([[MediaKeep]]'s
    * sniff — each is the corresponding walk's own entry condition). */
  private[graft] def magicPreds: Map[String, org.apache.spark.sql.Column] =
    Map("bmp" -> bmpMagic, "gif" -> gifMagic, "png" -> pngMagic,
      "jpeg" -> jpgMagic, "mp4" -> mp4Magic, "wav" -> riffMagic)

  /** The per-kind magic predicates, SQL spelling (same conditions). */
  private[multimodal] val magicCondsSql: Map[String, String] = Map(
    "bmp" -> "n_bytes >= 54 AND substring(h, 1, 4) = '424D'",
    "gif" -> ("n_bytes >= 13 AND substring(h, 1, 12) IN " +
      "('474946383761', '474946383961')"),
    "png" -> s"n_bytes >= 16 AND substring(h, 1, 16) = '$PngSigHex'",
    "jpeg" -> "n_bytes >= 4 AND substring(h, 1, 4) = 'FFD8'",
    "mp4" -> s"n_bytes >= 12 AND substring(h, 9, 8) = '$HexFtyp'",
    "wav" -> ("n_bytes >= 44 AND substring(h, 1, 8) = '52494646' " +
      "AND substring(h, 17, 8) = '57415645'"))

  /** DuckDB side: the same walk as chained CTEs over `src` (which must
    * expose `h` and `n_bytes`); the final stage is named `walked`.
    * Every stage is MATERIALIZED — DuckDB inlines CTEs by default, and
    * each stage references its predecessor several times, so uninlined
    * the chain re-evaluates ~4^steps per CONSUMING expression (the
    * kcore-oracle lesson; audioFrames consumes walked columns once per
    * exploded frame, which turned the inlined spelling into a hang).
    * Materialized, each stage evaluates once per row. */
  private[multimodal] def walkCteSql(src: String): String = {
    val sb = new StringBuilder
    sb.append(s"w0 AS MATERIALIZED (SELECT *, $walkOff0Sql AS off0 FROM $src)")
    var prev = "w0"
    for (k <- 0 until WalkChunks) {
      val idsz = walkIdSz(k).map { case (n, e) => s"$e AS $n" }.mkString(", ")
      sb.append(s",\nwa$k AS MATERIALIZED (SELECT *, $idsz FROM $prev)")
      prev = s"wa$k"
      if (k < WalkChunks - 1) {
        val (n, e) = walkNext(k)
        sb.append(s",\nwb$k AS MATERIALIZED (SELECT *, $e AS $n FROM wa$k)")
        prev = s"wb$k"
      }
    }
    val found = walkFoundSql.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    sb.append(s",\nwalked AS MATERIALIZED (SELECT *, $found FROM $prev)")
    sb.toString
  }

  /** The synthesized-container payload as a hex expression over a
    * documents row: doc_id % 5 = 0 → a real 54-byte BMP header
    * (width = 1 + doc_id % 640, height = 1 + doc_id % 480, 24 bpp)
    * with the text bytes as pixel data; doc_id % 5 = 1 → a real
    * canonical 44-byte WAV header (channels = 1 + doc_id % 2, rate =
    * 8000·(1 + doc_id % 6), bits = 8·(1 + doc_id % 2)) with the text
    * bytes as samples (doc_id % 10 = 6 adds LIST/fact chunks in front
    * of `data`); doc_id % 5 = 2 → a real PNG (signature + IHDR + the
    * text bytes as the IDAT payload + IEND, with doc_id % 10 = 7
    * misplacing a tEXt chunk before IHDR); doc_id % 5 = 3 → a real
    * JPEG (SOI + APP0 + SOF + the text bytes as the entropy stream +
    * EOI, with doc_id % 10 = 8 inserting COM/DQT segments before the
    * SOF); doc_id % 5 = 4 → the raw text bytes. NULL text stays NULL
    * (`||` propagates). One SQL body for both engines — `textHex` /
    * `textBytes` / the divide token are the per-engine seams. */
  private def containerHexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    val w = "(1 + doc_id % 640)"
    val hgt = "(1 + doc_id % 480)"
    val ch = "(1 + doc_id % 2)"
    val bits = "(8 * (1 + doc_id % 2))"
    val rate = "(8000 * (1 + doc_id % 6))"
    val byteRate = s"(($rate * $ch * $bits) $idiv 8)"
    val blockAlign = s"(($ch * $bits) $idiv 8)"
    val bmp = s"'424D' || ${leHexSql(s"54 + $textBytes", 4, idiv)} || " +
      s"'0000000036000000' || '28000000' || ${leHexSql(w, 4, idiv)} || " +
      s"${leHexSql(hgt, 4, idiv)} || '01001800' || repeat('00', 24) || $textHex"
    val fmtChunk = s"'666D7420' || '10000000' || '0100' || " +
      s"${leHexSql(ch, 2, idiv)} || ${leHexSql(rate, 4, idiv)} || " +
      s"${leHexSql(byteRate, 4, idiv)} || ${leHexSql(blockAlign, 2, idiv)} || " +
      s"${leHexSql(bits, 2, idiv)}"
    val dataChunk = s"'64617461' || ${leHexSql(textBytes, 4, idiv)} || $textHex"
    val wav = s"'52494646' || ${leHexSql(s"36 + $textBytes", 4, idiv)} || " +
      s"'57415645' || $fmtChunk || $dataChunk"
    // half the WAVs (doc_id % 10 = 6) carry a 9-byte 'LIST'/INFO chunk
    // (+1 RIFF pad byte — odd size exercises the even-padding hop)
    // BETWEEN fmt and data, so the oracle-gated queries prove the
    // chunk walk on non-canonical layouts in BOTH engines; a quarter of
    // those (doc_id % 20 = 16) ALSO carry an 8-byte 'fact' chunk after
    // the LIST, pushing data to walk step 3 of the 6-step bound
    val listChunk = "'4C495354' || '09000000' || '494E464F4752414658' || '00'"
    val factChunk = "'66616374' || '04000000' || '01000000'"
    val wavList = s"'52494646' || ${leHexSql(s"54 + $textBytes", 4, idiv)} || " +
      s"'57415645' || $fmtChunk || $listChunk || $dataChunk"
    val wavListFact = s"'52494646' || ${leHexSql(s"66 + $textBytes", 4, idiv)} || " +
      s"'57415645' || $fmtChunk || $listChunk || $factChunk || $dataChunk"
    // PNG (doc_id % 5 = 2): signature + IHDR (width = 1 + doc_id % 800,
    // height = 1 + doc_id % 600, bit depth 8, color type cycling
    // truecolor/RGBA/gray) + IDAT carrying the text bytes + IEND; CRCs
    // are zeros (the parse never checks them). Half (doc_id % 10 = 7)
    // put a tEXt ancillary chunk BEFORE IHDR — spec-misplaced but
    // exactly what the lenient bounded walk exists to hop, so the
    // oracle-gated rows prove the walk in both engines.
    val pw = "(1 + doc_id % 800)"
    val phh = "(1 + doc_id % 600)"
    val ctype = "(CASE WHEN doc_id % 3 = 0 THEN 2 WHEN doc_id % 3 = 1 THEN 6 ELSE 0 END)"
    val ihdrChunk = s"'0000000D' || '49484452' || ${beHexSql(pw, 4, idiv)} || " +
      s"${beHexSql(phh, 4, idiv)} || '08' || ${beHexSql(ctype, 1, idiv)} || " +
      "'000000' || '00000000'"
    val idatChunk = s"${beHexSql(textBytes, 4, idiv)} || '49444154' || " +
      s"$textHex || '00000000'"
    val iendChunk = "'00000000' || '49454E44' || '00000000'"
    val textAnc = "'00000005' || '74455874' || '6B65794131' || '00000000'"
    val png = s"'$PngSigHex' || $ihdrChunk || $idatChunk || $iendChunk"
    val pngAnc = s"'$PngSigHex' || $textAnc || $ihdrChunk || $idatChunk || $iendChunk"
    // JPEG (doc_id % 5 = 3): SOI + JFIF APP0 + SOF0 (precision 8,
    // height/width uint16 BE, 3 components for even ids, 1 for odd) +
    // the text bytes standing in for the entropy stream + EOI. Half
    // (doc_id % 10 = 8) insert a COM and a DQT segment before the SOF
    // (spelled SOF2 there) so the marker walk is proven past multiple
    // variable-length segments in both engines.
    val ncomp = "(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END)"
    val comps = "(CASE WHEN doc_id % 2 = 0 THEN '012200021101031101' ELSE '011100' END)"
    val sofBody = s"${beHexSql(s"8 + 3 * $ncomp", 2, idiv)} || '08' || " +
      s"${beHexSql(phh, 2, idiv)} || ${beHexSql(pw, 2, idiv)} || " +
      s"${beHexSql(ncomp, 1, idiv)} || $comps"
    val app0 = "'FFE0' || '0010' || '4A46494600' || '0101' || '00' || " +
      "'0048' || '0048' || '0000'"
    val comSeg = "'FFFE' || '0009' || '67726166743037'"
    val dqtSeg = "'FFDB' || '0007' || '0001020304'"
    val jpg = s"'FFD8' || $app0 || 'FFC0' || $sofBody || $textHex || 'FFD9'"
    val jpgExt = s"'FFD8' || $app0 || $comSeg || $dqtSeg || 'FFC2' || " +
      s"$sofBody || $textHex || 'FFD9'"
    // GIF (doc_id % 10 = 9, carved from the raw half of % 5 = 4):
    // GIF87a/GIF89a signature (cycling — both magics proven) + logical
    // screen descriptor (width/height uint16 LE, packed byte with the
    // GCT flag set, color resolution doc_id % 8 in bits 4-6, and GCT
    // size doc_id % 8 in bits 0-2 — a self-consistent real header,
    // bpp read from the GCT-size bits; background + aspect 0) + the
    // text bytes standing in for the data stream + trailer 3B
    val gw = "(1 + doc_id % 320)"
    val gh = "(1 + doc_id % 240)"
    val gpacked = "(128 + 16 * (doc_id % 8) + (doc_id % 8))"
    val gsig =
      "(CASE WHEN doc_id % 20 = 9 THEN '474946383961' ELSE '474946383761' END)"
    val gif = s"$gsig || ${leHexSql(gw, 2, idiv)} || ${leHexSql(gh, 2, idiv)} || " +
      s"${leHexSql(gpacked, 1, idiv)} || '0000' || $textHex || '3B'"
    // MP4 (doc_id % 20 = 14, carved from the remaining raw quarter):
    // ftyp + moov(mvhd stub + trak(tkhd)) + mdat carrying the text
    // bytes; width = 1 + doc_id % 1920, height = 1 + doc_id % 1080 as
    // 16.16 fixed point. A quarter (doc_id % 40 = 34) instead nests a
    // `free` box before moov and a `udta` stub before trak AND spells
    // tkhd at VERSION 1 (wider timestamps), so the oracle-gated rows
    // prove the descend walk past sibling boxes and BOTH version
    // layouts in both engines.
    val mw = "(1 + doc_id % 1920)"
    val mh = "(1 + doc_id % 1080)"
    val matrix =
      "'000100000000000000000000000000000001000000000000000000000000000040000000'"
    val dims = s"${beHexSql(mw, 2, idiv)} || '0000' || " +
      s"${beHexSql(mh, 2, idiv)} || '0000'"
    val tkhdV0 = s"'0000005C' || '$HexTkhd' || '00000007' || '00000000' || " +
      s"'00000000' || '00000001' || '00000000' || '00000000' || " +
      s"'0000000000000000' || '0000000000000000' || $matrix || $dims"
    val tkhdV1 = s"'00000068' || '$HexTkhd' || '01000007' || " +
      s"'0000000000000000' || '0000000000000000' || '00000001' || " +
      s"'00000000' || '0000000000000000' || '0000000000000000' || " +
      s"'0000000000000000' || $matrix || $dims"
    val ftypBox = s"'00000010' || '$HexFtyp' || '69736F6D' || '00000000'"
    val mdatBox = s"${beHexSql(s"8 + $textBytes", 4, idiv)} || '6D646174' || $textHex"
    // REAL mvhd boxes (v0 in the plain file, v1 in the ext one — the
    // same two-version proof tkhd carries): movie timescale
    // 600·(1 + doc_id % 5), duration 1000 + doc_id % 90000 ticks; the
    // v1 spelling stores the duration as high-word-zero 64-bit
    val mts = "(600 * (1 + doc_id % 5))"
    val mdur = "(1000 + doc_id % 90000)"
    val mvhdTail = s"'00010000' || '0100' || repeat('00', 10) || $matrix || " +
      "repeat('00', 24) || '00000002'"
    val mvhdV0 = s"'0000006C' || '$HexMvhd' || '00000000' || '00000000' || " +
      s"'00000000' || ${beHexSql(mts, 4, idiv)} || ${beHexSql(mdur, 4, idiv)} || " +
      s"$mvhdTail"
    val mvhdV1 = s"'00000078' || '$HexMvhd' || '01000000' || repeat('00', 16) || " +
      s"${beHexSql(mts, 4, idiv)} || '00000000' || ${beHexSql(mdur, 4, idiv)} || " +
      s"$mvhdTail"
    val mp4 = s"$ftypBox || '000000D8' || '$HexMoov' || " +
      s"$mvhdV0 || '00000064' || '$HexTrak' || $tkhdV0 || $mdatBox"
    val mp4Ext = s"$ftypBox || '0000000C' || '66726565' || '00000000' || " +
      s"'000000F8' || '$HexMoov' || $mvhdV1 || " +
      s"'00000008' || '75647461' || '00000070' || '$HexTrak' || $tkhdV1 || $mdatBox"
    s"""CASE WHEN doc_id % 5 = 0 THEN $bmp
       |     WHEN doc_id % 20 = 16 THEN $wavListFact
       |     WHEN doc_id % 10 = 6 THEN $wavList
       |     WHEN doc_id % 5 = 1 THEN $wav
       |     WHEN doc_id % 10 = 7 THEN $pngAnc
       |     WHEN doc_id % 5 = 2 THEN $png
       |     WHEN doc_id % 10 = 8 THEN $jpgExt
       |     WHEN doc_id % 5 = 3 THEN $jpg
       |     WHEN doc_id % 10 = 9 THEN $gif
       |     WHEN doc_id % 40 = 34 THEN $mp4Ext
       |     WHEN doc_id % 20 = 14 THEN $mp4
       |     ELSE $textHex END""".stripMargin
  }

  /** Ingestion with synthesized containers: the media-lake schema where
    * a deterministic subset of payloads carries REAL BMP / WAV headers
    * (see [[containerHexSql]]) — what lets the decode path round-trip
    * honest container bytes on a text-only fixture. */
  def asContainerTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      // the one-element transform is a deliberate codegen EXCLUSION:
      // the synthesis CASE is past janino's method limit, and without
      // the HOF wrapper every consumer query re-PAYS the doomed
      // whole-stage compile attempt before falling back interpreted
      // (measured ~1 s per query at sf0.1 — the compile failure is
      // not cached). A HOF never enters whole-stage codegen, so the
      // stage goes straight to the interpreted path it would end up
      // on anyway. Value-identical: the lambda ignores its index and
      // evaluates the CASE once per row.
      unhex(expr("element_at(transform(sequence(0, 0), fixture_once -> " +
        containerHexSql("hex(encode(text, 'utf-8'))",
          "octet_length(text)", "div") + "), 1)")).as("payload"),
      col("source").as("fmt"),
      struct(col("n_chars"), col("lang")).as("meta"))
      // checkpoint: without a barrier, project collapse inlines the
      // synthesis into every downstream consumer (media_features
      // evaluates it 4+ times per row, interpreted). Materializing the
      // payload once bounds the fallback to a single pass and keeps
      // every consumer stage codegen-clean. Real deployments read
      // payloads from storage; this cost is fixture-synthesis-only.
      .localCheckpoint()

  def mediaFeatures(docs: DataFrame): DataFrame = {
    val media = asContainerTable(graft.Tables.widen(docs))
    val h = hex(col("payload"))
    // a payload is `wav` when the bounded chunk walk finds BOTH a
    // complete `fmt ` payload and a `data` chunk — canonical 44-byte
    // files resolve at steps 0/1, files with LIST/fact/cue  chunks in
    // front of `data` resolve deeper; fields read at the WALKED
    // offsets, not byte 22/24/34 constants
    // byte_sum / n_hi_bytes: one native codegen walk over the RAW bytes
    // ([[graft.functions.ByteStatsOfBinary]] — the hex + regexp-split +
    // two-HOF spelling, MediaSpec's reference formulation, allocates
    // three payload-sized intermediates per row)
    val stats = graft.GraftExtensions.call(docs, "byte_stats_of_binary", col("payload"))
    // EVERYTHING payload-derived happens BEFORE the checkpoint — the
    // container walks, plus the constant-offset BMP/GIF header reads and
    // the magic flags, each gated on its own sniff. The checkpoint
    // then holds only fixed-width decode columns: the r12 shape
    // materialized the full hex string (2× payload bytes per row)
    // just so the kind/field projection could read BMP/GIF offsets
    // after the barrier — a payload-sized write+re-read per row for
    // a dozen constant-offset bytes (measured ~25% of the query).
    val pre = media.select(
      col("media_id"),
      col("fmt"),
      col("payload"),
      length(col("payload")).cast("long").as("n_bytes"),
      substring(h, 1, 16).as("header_hex"),
      stats.getField("byte_sum").as("byte_sum"),
      stats.getField("n_hi_bytes").as("n_hi_bytes"),
      h.as("h"))
    val isBmp = col("n_bytes") >= 54L && substring(col("h"), 1, 4) === "424D"
    val isGif = col("n_bytes") >= 13L &&
      substring(col("h"), 1, 12).isin("474946383761", "474946383961")
    val withKind = pre
      .withColumn("cw", walksOf(pre))
      .withColumn("h_null", col("h").isNull)
      .withColumn("is_bmp", isBmp)
      .withColumn("is_gif", isGif)
      .withColumn("bmp_w", when(isBmp, leVal(col("h"), 18, 4)))
      .withColumn("bmp_ht", when(isBmp, leVal(col("h"), 22, 4)))
      .withColumn("bmp_bpp", when(isBmp, leVal(col("h"), 28, 2)))
      .withColumn("gif_w", when(isGif, leVal(col("h"), 6, 2)))
      .withColumn("gif_ht", when(isGif, leVal(col("h"), 8, 2)))
      // GIF packed byte bits 0-2 = GCT size (stored bits/pixel − 1)
      .withColumn("gif_bpp",
        when(isGif, leVal(col("h"), 10, 1).bitwiseAND(lit(7L)) + lit(1L)))
      .drop("h", "payload")
      .localCheckpoint()
      // walk-RESOLVED predicates through the shared precedence chain
      // (kindCase — the one place the kind ORDER lives)
      .withColumn("kind", kindCase(col("h_null"), Map(
        "bmp" -> col("is_bmp"),
        "gif" -> col("is_gif"),
        "png" -> col("cw.png.ihdr_off").isNotNull,
        "jpeg" -> col("cw.jpeg.sof_off").isNotNull,
        "mp4" -> col("cw.mp4.tkhd_off").isNotNull,
        "wav" -> (col("cw.riff.fmt_off").isNotNull &&
          col("cw.riff.data_off").isNotNull))))
    withKind.select(
      col("media_id"), col("fmt"), col("n_bytes"), col("header_hex"),
      col("byte_sum"), col("n_hi_bytes"), col("kind"),
      when(col("kind") === "bmp", col("bmp_w"))
        .when(col("kind") === "gif", col("gif_w"))
        .when(col("kind") === "png", col("cw.png.w"))
        .when(col("kind") === "jpeg", col("cw.jpeg.w"))
        .when(col("kind") === "mp4", col("cw.mp4.w")).as("width"),
      when(col("kind") === "bmp", col("bmp_ht"))
        .when(col("kind") === "gif", col("gif_ht"))
        .when(col("kind") === "png", col("cw.png.ht"))
        .when(col("kind") === "jpeg", col("cw.jpeg.ht"))
        .when(col("kind") === "mp4", col("cw.mp4.ht")).as("height"),
      when(col("kind") === "bmp", col("bmp_bpp"))
        .when(col("kind") === "gif", col("gif_bpp"))
        .when(col("kind") === "png", col("cw.png.depth"))
        .when(col("kind") === "jpeg", col("cw.jpeg.prec")).as("bpp"),
      when(col("kind") === "wav", col("cw.riff.channels"))
        .when(col("kind") === "gif", lit(1L)) // palette-indexed
        .when(col("kind") === "png", expr(pngChannelsSql("cw.png.ctype")))
        .when(col("kind") === "jpeg", col("cw.jpeg.ncomp")).as("channels"),
      when(col("kind") === "wav", col("cw.riff.sample_rate")).as("sample_rate"),
      when(col("kind") === "wav", col("cw.riff.bits")).as("bits"))
  }

  /** Frame sampling: every `stride`-th complete `frameBytes`-byte block
    * of the payload, as `(media_id, frame_idx, frame_hex, frame_sum)` —
    * the video-frame-sampling batch shape with the frame DECODE faked by
    * byte statistics (same stance as [[mediaFeatures]]: the sampling
    * arithmetic, row explosion, and per-frame schema are the real
    * plumbing a codec would drop into). Payloads shorter than one frame
    * emit no rows in either engine. frame_idx is the block's position in
    * the payload (not the sample ordinal), so downstream code can seek.
    */
  def frameSample(docs: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame = {
    val hexPerFrame = frameBytes * 2
    val media = asMediaTable(graft.Tables.widen(docs))
      .select(col("media_id"), hex(col("payload")).as("h"))
    val nFrames = (length(col("h")) / hexPerFrame).cast("long")
    val sampled = media.filter(nFrames >= 1L)
      .select(col("media_id"), col("h"),
        explode(sequence(lit(0L), nFrames - 1L, lit(stride.toLong))).as("frame_idx"))
    val frame = col("h").substr(
      (col("frame_idx") * hexPerFrame + 1L).cast("int"), lit(hexPerFrame))
    sampled.select(col("media_id"), col("frame_idx"), frame.as("frame_hex"))
      .withColumn("frame_sum", (0 until frameBytes).map(k =>
        byteVal(substring(col("frame_hex"), k * 2 + 1, 2))).reduce(_ + _))
  }

  def frameSampleSql(frameBytes: Int = 16, stride: Int = 4): String = {
    val hexPerFrame = frameBytes * 2
    val sumTerms = (0 until frameBytes).map { k =>
      s"((strpos('0123456789ABCDEF', substring(frame_hex, ${k * 2 + 1}, 1)) - 1) * 16 + (strpos('0123456789ABCDEF', substring(frame_hex, ${k * 2 + 2}, 1)) - 1))"
    }.mkString("(", "\n   + ", ")")
    s"""WITH media AS (
       |  SELECT doc_id AS media_id, hex(encode(text)) AS h FROM documents
       |), frames AS (
       |  SELECT media_id, CAST(u.f AS BIGINT) AS frame_idx,
       |    substring(h, CAST(u.f * $hexPerFrame + 1 AS INT), $hexPerFrame) AS frame_hex
       |  FROM media, UNNEST(range(0, len(h) // $hexPerFrame, $stride)) AS u(f)
       |)
       |SELECT media_id, frame_idx, frame_hex,
       |  CAST($sumTerms AS BIGINT) AS frame_sum
       |FROM frames
       |ORDER BY media_id, frame_idx, frame_hex, frame_sum""".stripMargin
  }

  /** Resize: stride-downsample the payload bytes (every `stride`-th byte,
    * re-encoded as hex) — the image/audio RESAMPLING stub, same stance as
    * the other fakes: a real resampler replaces the byte arithmetic, the
    * schema/row shape/NULL discipline around it is the tested plumbing.
    * NULL payloads stay NULL; empty payloads resize to the empty string.
    */
  def mediaResize(docs: DataFrame, stride: Int = 4): DataFrame = {
    val media = asMediaTable(graft.Tables.widen(docs))
      .select(col("media_id"), col("fmt"), hex(col("payload")).as("h"))
    val nBytes = (length(col("h")) / 2).cast("long")
    val resized = when(col("h").isNull, lit(null).cast("string"))
      .when(nBytes >= 1L, concat_ws("",
        transform(sequence(lit(0L), nBytes - 1L, lit(stride.toLong)),
          k => col("h").substr((k * 2 + 1).cast("int"), lit(2)))))
      .otherwise(lit(""))
    media.select(col("media_id"), col("fmt"),
        nBytes.as("n_bytes"), resized.as("resized_hex"))
      .withColumn("n_resized_bytes", (length(col("resized_hex")) / 2).cast("long"))
  }

  def mediaResizeSql(stride: Int = 4): String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id, source AS fmt, hex(encode(text)) AS h
       |  FROM documents
       |), resized AS (
       |  SELECT media_id, fmt,
       |    CAST(len(h) // 2 AS BIGINT) AS n_bytes,
       |    CASE WHEN h IS NULL THEN NULL ELSE
       |      coalesce(array_to_string(list_transform(range(0, len(h) // 2, $stride),
       |        k -> substring(h, CAST(k * 2 + 1 AS INT), 2)), ''), '') END AS resized_hex
       |  FROM media
       |)
       |SELECT media_id, fmt, n_bytes, resized_hex,
       |  CAST(len(resized_hex) // 2 AS BIGINT) AS n_resized_bytes
       |FROM resized
       |ORDER BY media_id, fmt, n_bytes, resized_hex, n_resized_bytes""".stripMargin

  /** FORMAT-AWARE audio frame extraction — [[frameSample]] with the
    * container actually decoded: for WAV payloads (and only those), the
    * sample frames of the `data` chunk at their true layout — frame
    * size = channels·bits/8 read from the WALKED `fmt ` chunk, data at
    * its WALKED offset (byte 44 only in the canonical layout),
    * every `stride`-th frame emitted with its SAMPLE-ACCURATE
    * timestamp `t_us = frame_idx·10⁶ div sample_rate`. This retires
    * the "sampling arithmetic is real, the format is not" caveat on
    * [[frameSample]]: here a frame boundary is where the codec says it
    * is, not every 16 bytes. Truncated payloads clamp honestly
    * (`least(declared data length, bytes actually present)`), so a cut
    * upload yields its complete frames and nothing invented.
    *
    * Scale shape: identical to [[frameSample]] — header parse and frame
    * slicing are per-row hex arithmetic inside codegen, the explode is
    * bounded by payload size, no shuffle at all. */
  def audioFrames(docs: DataFrame, stride: Int = 4): DataFrame = {
    val media = asContainerTable(graft.Tables.widen(docs))
      .select(col("media_id"), col("payload"), hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("n_bytes"))
    // WAV = chunk walk found fmt + data (canonical or chunk-padded);
    // every header field reads at its WALKED offset
    val counted = withWalk(media)
      .filter(col("fmt_off").isNotNull && col("data_off").isNotNull)
      .select(col("media_id"), col("h"), col("data_off"),
        col("wav_channels").as("channels"),
        col("wav_sample_rate").as("sample_rate"),
        col("wav_bits").as("bits"),
        col("data_len").as("declared_len"),
        (col("n_bytes") - col("data_off")).as("avail_len"))
      .withColumn("frame_bytes", expr("(channels * bits) div 8L"))
      .filter(col("frame_bytes") >= 1L)
      .withColumn("n_frames",
        expr("least(declared_len, avail_len) div frame_bytes"))
      .filter(col("n_frames") >= 1L)
    counted
      .select(col("media_id"), col("channels"), col("sample_rate"),
        col("bits"), col("frame_bytes"), col("h"), col("data_off"),
        explode(sequence(lit(0L), col("n_frames") - 1L,
          lit(stride.toLong))).as("frame_idx"))
      .select(col("media_id"), col("channels"), col("sample_rate"),
        col("bits"), col("frame_idx"),
        // greatest(·, 1): a zero-rate fmt chunk is malformed input, not
        // a reason to kill the job in ANSI mode
        expr("(frame_idx * 1000000L) div greatest(sample_rate, 1L)")
          .as("t_us"),
        col("h").substr(
          (col("data_off") * 2L + 1L + col("frame_idx") * col("frame_bytes") * 2L)
            .cast("int"),
          (col("frame_bytes") * 2L).cast("int")).as("frame_hex"))
  }

  /** Oracle twin of [[audioFrames]] — same header reads, same clamp,
    * same frame slicing over the hex payload. */
  def audioFramesSql(stride: Int = 4): String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id,
       |    ${containerHexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS (
       |  SELECT media_id, h, len(h) // 2 AS n_bytes FROM media
       |), ${walkCteSql("sized")},
       |wav AS (
       |  SELECT media_id, h, data_off,
       |    CAST(${dynLeSql("fmt_off + 2", 2)} AS BIGINT) AS channels,
       |    CAST(${dynLeSql("fmt_off + 4", 4)} AS BIGINT) AS sample_rate,
       |    CAST(${dynLeSql("fmt_off + 14", 2)} AS BIGINT) AS bits,
       |    CAST(data_len AS BIGINT) AS declared_len,
       |    CAST(n_bytes - data_off AS BIGINT) AS avail_len
       |  FROM walked
       |  WHERE fmt_off IS NOT NULL AND data_off IS NOT NULL
       |), counted AS (
       |  SELECT *, least(declared_len, avail_len) // frame_bytes AS n_frames
       |  FROM (SELECT *, (channels * bits) // 8 AS frame_bytes FROM wav)
       |  WHERE (channels * bits) // 8 >= 1
       |)
       |SELECT media_id, channels, sample_rate, bits,
       |  CAST(u.f AS BIGINT) AS frame_idx,
       |  CAST((u.f * 1000000) // greatest(sample_rate, 1) AS BIGINT) AS t_us,
       |  substring(h, CAST(data_off * 2 + 1 + u.f * frame_bytes * 2 AS INT),
       |    CAST(frame_bytes * 2 AS INT)) AS frame_hex
       |FROM counted, UNNEST(range(0, n_frames, $stride)) AS u(f)
       |ORDER BY media_id, channels, sample_rate, bits, frame_idx, t_us,
       |  frame_hex""".stripMargin

  /** FORMAT-AWARE image downscale — [[mediaResize]] with the container
    * actually decoded: for BMP payloads (and only those), every
    * `stride`-th PIXEL ROW of the bitmap at its true layout — row size
    * = ((bpp·width + 31) div 32)·4 (the 4-byte-aligned BMP row stride,
    * padding included), pixel data at byte 54. A vertical
    * nearest-neighbor resample whose slices are real scanlines, not the
    * format-blind every-4th-byte of [[mediaResize]]. Truncated payloads
    * clamp to the complete rows actually present (`n_rows_avail` ≤
    * declared height), and the output accounts for the clamp
    * explicitly — nothing invented past the last full scanline.
    *
    * Scale shape: per-row hex arithmetic + a bounded array transform
    * inside codegen; no explode (one output row per image), no
    * shuffle. */
  def imageRows(docs: DataFrame, stride: Int = 4): DataFrame = {
    val media = asContainerTable(graft.Tables.widen(docs))
      .select(col("media_id"), hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("n_bytes"))
    val isBmp = col("n_bytes") >= 54L && substring(col("h"), 1, 4) === "424D"
    val bmp = media.filter(isBmp)
      .select(col("media_id"), col("h"),
        leVal(col("h"), 18, 4).as("width"),
        leVal(col("h"), 22, 4).as("height"),
        leVal(col("h"), 28, 2).as("bpp"),
        (col("n_bytes") - 54L).as("avail"))
      .withColumn("row_bytes", expr("((bpp * width + 31L) div 32L) * 4L"))
      .filter(col("row_bytes") >= 1L)
      .withColumn("n_rows_avail",
        least(col("height"), expr("avail div row_bytes")))
    bmp.select(col("media_id"), col("width"), col("height"), col("bpp"),
        col("row_bytes"), col("n_rows_avail"),
        // sequence(0, n-1, stride) needs n >= 1 (a negative stop flips
        // Spark's inferred step); DuckDB's range(0, 0) is just empty
        when(col("n_rows_avail") >= 1L, concat_ws("",
          transform(
            sequence(lit(0L), col("n_rows_avail") - 1L, lit(stride.toLong)),
            r => col("h").substr(
              (lit(109L) + r * col("row_bytes") * 2L).cast("int"),
              (col("row_bytes") * 2L).cast("int")))))
          .otherwise(lit("")).as("resized_hex"))
      .withColumn("n_rows_out",
        expr("(CAST(length(resized_hex) AS BIGINT) DIV 2L) DIV row_bytes"))
  }

  /** Oracle twin of [[imageRows]] — same header reads, same aligned row
    * stride, same scanline slicing. */
  def imageRowsSql(stride: Int = 4): String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id,
       |    ${containerHexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS (
       |  SELECT media_id, h, len(h) // 2 AS n_bytes FROM media
       |), bmp AS (
       |  SELECT media_id, h,
       |    CAST(${leValSql("h", 18, 4)} AS BIGINT) AS width,
       |    CAST(${leValSql("h", 22, 4)} AS BIGINT) AS height,
       |    CAST(${leValSql("h", 28, 2)} AS BIGINT) AS bpp,
       |    CAST(n_bytes - 54 AS BIGINT) AS avail
       |  FROM sized
       |  WHERE n_bytes >= 54 AND substring(h, 1, 4) = '424D'
       |), rowed AS (
       |  SELECT *, least(height, avail // row_bytes) AS n_rows_avail
       |  FROM (SELECT *, ((bpp * width + 31) // 32) * 4 AS row_bytes FROM bmp)
       |  WHERE ((bpp * width + 31) // 32) * 4 >= 1
       |), sliced AS (
       |  SELECT media_id, width, height, bpp, row_bytes, n_rows_avail,
       |    coalesce(array_to_string(list_transform(range(0, n_rows_avail, $stride),
       |      r -> substring(h, CAST(109 + r * row_bytes * 2 AS INT),
       |        CAST(row_bytes * 2 AS INT))), ''), '') AS resized_hex
       |  FROM rowed
       |)
       |SELECT media_id, width, height, bpp, row_bytes, n_rows_avail,
       |  resized_hex,
       |  CAST((len(resized_hex) // 2) // row_bytes AS BIGINT) AS n_rows_out
       |FROM sliced
       |ORDER BY media_id, width, height, bpp, row_bytes, n_rows_avail,
       |  resized_hex, n_rows_out""".stripMargin

  /** Container DURATION + sample-count face — the playback-time twin
    * of the dimension decode, completing the temporal half of the
    * container story: for MP4, the `mvhd` movie header's timescale and
    * duration ride the SAME nested box walk the dimensions use (v0 and
    * v1 layouts both fixture-planted); for WAV, duration = sample
    * frames ÷ rate with the frame count clamped to the bytes actually
    * present (the [[audioFrames]] clamp — a cut upload reports its
    * real playable length). All-integer µs:
    * `duration_us = n_units · 10⁶ div timescale` where n_units is
    * mvhd ticks (MP4) or sample frames (WAV) and timescale is the
    * mvhd timescale (MP4) or the sample rate (WAV) — so the row also
    * IS the sample-count face. A payload carrying both magics
    * (adversarial RIFF-size-spells-ftyp) reports as mp4 — the
    * [[mediaFeatures]] CASE precedence. Zero-length data chunks report
    * honestly as 0 µs; a malformed zero timescale is floored to 1
    * (the audioFrames greatest-guard), and a v1 duration past 2³²
    * ticks reports NULL n_units and emits no row (see [[mvhdDurSql]]).
    *
    * Scale shape: per-row header arithmetic over the RIFF and MP4
    * walks, one checkpoint, no explode, no shuffle. */
  def mediaDuration(docs: DataFrame): DataFrame = {
    val media = asContainerTable(graft.Tables.widen(docs))
      .select(col("media_id"), col("payload"),
        length(col("payload")).cast("long").as("n_bytes"))
    val walked = media
      .withColumn("cw", walksOf(media))
      // nothing after the barrier reads the payload — keep it out of the
      // materialized rows (the mediaFeatures shape)
      .drop("payload")
      .localCheckpoint()
    val mp4d = walked
      .filter(col("cw.mp4.mvhd_off").isNotNull && col("cw.mp4.mdur").isNotNull)
      .select(col("media_id"), lit("mp4").as("kind"),
        col("cw.mp4.mts").as("timescale"), col("cw.mp4.mdur").as("n_units"))
    val wavd = walked
      .filter(col("cw.riff.fmt_off").isNotNull && col("cw.riff.data_off").isNotNull)
      .select(col("media_id"),
        col("cw.riff.channels").as("channels"),
        col("cw.riff.sample_rate").as("sample_rate"),
        col("cw.riff.bits").as("bits"),
        col("cw.riff.data_len").as("declared_len"),
        (col("n_bytes") - col("cw.riff.data_off")).as("avail_len"))
      .withColumn("frame_bytes", expr("(channels * bits) div 8L"))
      .filter(col("frame_bytes") >= 1L)
      .select(col("media_id"), lit("wav").as("kind"),
        col("sample_rate").as("timescale"),
        expr("least(declared_len, avail_len) div frame_bytes").as("n_units"))
    mp4d.unionByName(
        wavd.join(mp4d.select(col("media_id")), Seq("media_id"), "left_anti"))
      .withColumn("duration_us",
        expr("(n_units * 1000000L) div greatest(timescale, 1L)"))
  }

  /** Oracle twin of [[mediaDuration]] — same walks, same clamp, same
    * precedence. */
  def mediaDurationSql: String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id,
       |    ${containerHexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS (
       |  SELECT media_id, h, len(h) // 2 AS n_bytes FROM media
       |), ${walkCteSql("sized")},
       |${mp4CteSql("walked")},
       |mp4d AS (
       |  SELECT media_id, 'mp4' AS kind, mp4_mts AS timescale,
       |    mp4_mdur AS n_units
       |  FROM mfin WHERE mp4_mvhd IS NOT NULL AND mp4_mdur IS NOT NULL
       |), wavd AS (
       |  SELECT media_id, 'wav' AS kind, sample_rate AS timescale,
       |    least(declared_len, avail_len) // frame_bytes AS n_units
       |  FROM (
       |    SELECT media_id,
       |      CAST(${dynLeSql("fmt_off + 4", 4)} AS BIGINT) AS sample_rate,
       |      (CAST(${dynLeSql("fmt_off + 2", 2)} AS BIGINT)
       |        * CAST(${dynLeSql("fmt_off + 14", 2)} AS BIGINT)) // 8 AS frame_bytes,
       |      CAST(data_len AS BIGINT) AS declared_len,
       |      CAST(n_bytes - data_off AS BIGINT) AS avail_len
       |    FROM mfin
       |    WHERE fmt_off IS NOT NULL AND data_off IS NOT NULL
       |  )
       |  WHERE frame_bytes >= 1
       |    AND media_id NOT IN (SELECT media_id FROM mp4d)
       |)
       |SELECT media_id, kind, timescale, n_units,
       |  CAST((n_units * 1000000) // greatest(timescale, 1) AS BIGINT)
       |    AS duration_us
       |FROM (SELECT * FROM mp4d UNION ALL SELECT * FROM wavd)
       |ORDER BY media_id, kind, timescale, n_units, duration_us""".stripMargin

  def mediaFeaturesSql: String =
    s"""WITH media AS (
       |  SELECT doc_id AS media_id, source AS fmt,
       |    ${containerHexSql("hex(encode(text))", "octet_length(encode(text))", "//")} AS h
       |  FROM documents
       |), sized AS (
       |  SELECT media_id, fmt, len(h) // 2 AS n_bytes, h FROM media
       |), ${walkCteSql("sized")},
       |${pngCteSql("walked")},
       |${jpgCteSql("pfin")},
       |${mp4CteSql("jfin")},
       |hexed AS (
       |  SELECT *,
       |    CASE WHEN h IS NULL THEN NULL
       |         WHEN n_bytes >= 54 AND substring(h, 1, 4) = '424D' THEN 'bmp'
       |         WHEN n_bytes >= 13 AND substring(h, 1, 12)
       |           IN ('474946383761', '474946383961') THEN 'gif'
       |         WHEN png_ihdr IS NOT NULL THEN 'png'
       |         WHEN jpg_sof IS NOT NULL THEN 'jpeg'
       |         WHEN mp4_tkhd IS NOT NULL THEN 'mp4'
       |         WHEN fmt_off IS NOT NULL AND data_off IS NOT NULL THEN 'wav'
       |         ELSE 'raw' END AS kind
       |  FROM mfin
       |)
       |SELECT media_id, fmt,
       |  CAST(n_bytes AS BIGINT) AS n_bytes,
       |  substring(h, 1, 16) AS header_hex,
       |  CAST(CASE WHEN h IS NULL THEN NULL
       |    ELSE COALESCE(list_sum(list_transform(regexp_extract_all(h, '..'),
       |      p -> (strpos('0123456789ABCDEF', substring(p, 1, 1)) - 1) * 16
       |         + (strpos('0123456789ABCDEF', substring(p, 2, 1)) - 1))), 0)
       |    END AS BIGINT) AS byte_sum,
       |  CAST(len(list_filter(regexp_extract_all(h, '..'),
       |    p -> strpos('89ABCDEF', substring(p, 1, 1)) > 0)) AS BIGINT) AS n_hi_bytes,
       |  kind,
       |  CAST(CASE WHEN kind = 'bmp' THEN ${leValSql("h", 18, 4)}
       |    WHEN kind = 'gif' THEN ${leValSql("h", 6, 2)}
       |    WHEN kind = 'png' THEN png_w
       |    WHEN kind = 'jpeg' THEN jpg_w
       |    WHEN kind = 'mp4' THEN mp4_w END AS BIGINT) AS width,
       |  CAST(CASE WHEN kind = 'bmp' THEN ${leValSql("h", 22, 4)}
       |    WHEN kind = 'gif' THEN ${leValSql("h", 8, 2)}
       |    WHEN kind = 'png' THEN png_ht
       |    WHEN kind = 'jpeg' THEN jpg_ht
       |    WHEN kind = 'mp4' THEN mp4_ht END AS BIGINT) AS height,
       |  CAST(CASE WHEN kind = 'bmp' THEN ${leValSql("h", 28, 2)}
       |    WHEN kind = 'gif' THEN (${leValSql("h", 10, 1)}) % 8 + 1
       |    WHEN kind = 'png' THEN png_depth
       |    WHEN kind = 'jpeg' THEN jpg_prec END AS BIGINT) AS bpp,
       |  CAST(CASE WHEN kind = 'wav' THEN ${dynLeSql("fmt_off + 2", 2)}
       |    WHEN kind = 'gif' THEN 1
       |    WHEN kind = 'png' THEN ${pngChannelsSql("png_ctype")}
       |    WHEN kind = 'jpeg' THEN jpg_ncomp END AS BIGINT) AS channels,
       |  CAST(CASE WHEN kind = 'wav' THEN ${dynLeSql("fmt_off + 4", 4)} END AS BIGINT) AS sample_rate,
       |  CAST(CASE WHEN kind = 'wav' THEN ${dynLeSql("fmt_off + 14", 2)} END AS BIGINT) AS bits
       |FROM hexed
       |ORDER BY media_id, fmt, n_bytes, header_hex, byte_sum, n_hi_bytes,
       |  kind, width, height, bpp, channels, sample_rate, bits""".stripMargin

  /** The same features through the typed per-partition batch surface —
    * the seam where a real pipeline hangs JNI codecs or model inference.
    * One decoder instance per partition (mapPartitions, not map: codec
    * init is per-task, not per-record), streaming iterator in/out so a
    * partition never materializes in memory.
    */
  def mediaFeaturesPartitioned(docs: DataFrame): DataFrame = {
    val media: Dataset[MediaRow] = asContainerTable(docs)
      .select("media_id", "payload", "fmt")
      .as(Encoders.product[MediaRow])
    media.mapPartitions { rows =>
      // real pipeline: initialize the codec/model HERE, once per task
      rows.map(realDecode)
    }(Encoders.product[MediaDecoded]).toDF()
  }
}
