package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** COMPRESSED-image content fingerprinting — PNG and JPEG, the two
  * image containers whose pixel streams a declarative engine cannot
  * decode (r13 verdict frontier #2): they got dimension decode but no
  * content identity, so a PNG whose ancillary chunks churned (tEXt /
  * iTXt / time-stamp rewrites) or a JPEG whose EXIF / COM segments
  * were edited carried a fresh exact fingerprint over byte-identical
  * CODED PIXELS and evaded dedup entirely.
  *
  * The hash probes the coded stream at the span the container walks
  * expose:
  *
  *  - PNG: the FIRST `IDAT` chunk's payload — `IDAT` is the
  *    [[ContainerWalk.png]] walk's second tracked find (offset +
  *    declared length, the `mdat` precedent), clamped to the bytes
  *    actually present;
  *  - JPEG: the entropy stream — everything after the first `SOS`
  *    segment's header (a dedicated marker walk, [[ContainerWalk.sos]],
  *    hops APPn / COM / DQT / DHT / SOFn by their declared lengths to
  *    the first `FFDA`; the dimension walk cannot serve here because it
  *    STOPS at SOF by design), minus the trailing `FFD9` when present;
  *
  * then 64 integer-stride byte probes over the clamped span, bit =
  * 64·b > Σb — the [[VideoHash]] discipline on the compressed stream.
  * Honest scope, same stance as video: a stride-byte content identity,
  * not a perceptual hash — metadata-edit invariant at Hamming 0,
  * splice-tolerant, but a RE-ENCODE (or a PNG re-chunking that splits
  * the first IDAT) legitimately reads as new content; a production
  * perceptual hash decodes pixels first. Also out of scope (r14
  * advice, documented): data appended AFTER the JPEG's EOI marker
  * (packed thumbnails, archive trailers). The entropy span's end is
  * resolved from the payload's FINAL two bytes only, so a trailer
  * shifts every probe stride — the same class of legitimate miss as
  * re-chunking. The exact fix is the first byte-ALIGNED post-SOS
  * `FFD9` (byte stuffing keeps `FFD9` out of entropy data), but an
  * aligned unbounded search has no shared declarative spelling across
  * the two engines (a hex `instr` can match at a nibble boundary; a
  * regex over megabyte strings has engine-divergent leftmost-match
  * semantics), so the production drop-in is the keyframe/pixel decode
  * this family already defers to. GIF is deliberately absent:
  * it has no standard metadata-segment churn analog (comment
  * extensions live INSIDE the data stream), so its dedup remains the
  * exact payload fingerprint.
  *
  * Eligibility is explicit: a walked IDAT / SOS with ≥ 64 clamped
  * content bytes; anything else emits no row. Scale shape: one bounded
  * walk + 64 fixed hex probes per row, an 8-byte sketch,
  * the shared [[Hamming64]] banding with pairing PER FORMAT (a PNG
  * sketch never band-joins a JPEG sketch).
  */
object CompressedImageHash extends MediaFamily("cimage", "pic", "ci_",
    Seq("kind", "n_units"), pairKeys = Seq("kind")) {

  val Probes = 64

  private def byteAtSql(off: String): String = Media.dynLeSql(off, 1)

  /** Probe k's content byte over columns `h`, `span_off`, `n_units`. */
  private def probeSql(k: String, idiv: String): String =
    byteAtSql(s"span_off + ((($k) * n_units) $idiv 64)")

  private def jpgMagic: Column =
    col("n_bytes") >= 4L && substring(col("h"), 1, 4) === "FFD8"

  // ---- the JPEG SOS walk, DuckDB spelling -----------------------------------
  //
  // Same bounded 0xFF-marker hop as the dimension walk, different
  // terminal: SOFn segments are ordinary variable-length hops here, and
  // the walk resolves at the first SOS (FFDA), recording where its
  // segment header ENDS — the entropy stream's first byte. Spark runs it
  // as [[ContainerWalk.sos]].

  /** DuckDB twin of the SOS walk: chained CTEs over `src`; final stage
    * `sfin` carries `sos_data`. */
  private def jpgSosCteSql(src: String): String = {
    val standalone = "('FF01','FFD0','FFD1','FFD2','FFD3','FFD4','FFD5','FFD6','FFD7','FFD8')"
    val sb = new StringBuilder
    sb.append(s"s0 AS MATERIALIZED (SELECT *, CASE WHEN n_bytes >= 4 " +
      "AND substring(h, 1, 4) = 'FFD8' THEN CAST(2 AS BIGINT) END " +
      s"AS soff0 FROM $src)")
    var prev = "s0"
    for (k <- 0 until ContainerWalk.SosWalkChunks) {
      val live = s"soff$k IS NOT NULL AND n_bytes >= soff$k + 4"
      sb.append(s""",
        |sa$k AS MATERIALIZED (SELECT *,
        |  CASE WHEN $live
        |    THEN substring(h, CAST(soff$k * 2 + 1 AS INT), 4) END AS sm$k,
        |  CASE WHEN $live
        |    THEN CAST(${Media.dynBeSql(s"soff$k + 2", 2)} AS BIGINT) END AS sl$k
        |  FROM $prev)""".stripMargin)
      prev = s"sa$k"
      if (k < ContainerWalk.SosWalkChunks - 1) {
        sb.append(s""",
          |sb$k AS MATERIALIZED (SELECT *, CASE
          |  WHEN sm$k = 'FFDA' THEN CAST(NULL AS BIGINT)
          |  WHEN sm$k IN $standalone THEN soff$k + 2
          |  WHEN substring(sm$k, 1, 2) = 'FF' AND sm$k <> 'FFD9'
          |    AND sl$k >= 2 THEN soff$k + 2 + sl$k
          |  ELSE CAST(NULL AS BIGINT) END AS soff${k + 1} FROM sa$k)""".stripMargin)
        prev = s"sb$k"
      }
    }
    val sdata = (0 until ContainerWalk.SosWalkChunks).map(k =>
      s"CASE WHEN sm$k = 'FFDA' AND sl$k >= 2 THEN soff$k + 2 + sl$k END")
      .mkString("COALESCE(", ", ", ")")
    sb.append(s""",
      |sfin AS MATERIALIZED (SELECT *, $sdata AS sos_data FROM $prev)""".stripMargin)
    sb.toString
  }

  /** The two-population coded stream both formats share: (hex, byte
    * count) of the content the container carries. */
  private def codedStreamSql(textHex: String, textBytes: String,
      idiv: String): (String, String) = {
    val base = Media.groupPatternSql(
      s"CAST((256 + 32 * (doc_id % 5)) $idiv 16 AS INT)", idiv)
    val edited = Media.editedPatternSql(base, 101, idiv)
    (s"CASE WHEN doc_id % 3 = 2 THEN $edited ELSE $textHex END",
      s"CASE WHEN doc_id % 3 = 2 THEN 256 + 32 * (doc_id % 5) ELSE $textBytes END")
  }

  /** The PNG member of the synthesis — sig + [tEXt when odd] + IHDR +
    * IDAT(content) + IEND. Standalone seam so [[MediaKeep]]'s 5-kind
    * lake can place PNG groups without JPEG riding the parity. */
  private[multimodal] def pngHexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    val (content, nb) = codedStreamSql(textHex, textBytes, idiv)
    val pw = "(1 + doc_id % 800)"
    val ph = "(1 + doc_id % 600)"
    val textAnc = "'00000005' || '74455874' || '6B65794131' || '00000000'"
    val ihdr = s"'0000000D' || '49484452' || ${Media.beHexSql(pw, 4, idiv)} || " +
      s"${Media.beHexSql(ph, 4, idiv)} || '08' || '02' || '000000' || '00000000'"
    val idat = s"${Media.beHexSql(nb, 4, idiv)} || '49444154' || $content || '00000000'"
    val iend = "'00000000' || '49454E44' || '00000000'"
    s"'${Media.PngSigHex}' || " +
      s"(CASE WHEN doc_id % 2 = 1 THEN $textAnc || '' ELSE '' END) || " +
      s"$ihdr || $idat || $iend"
  }

  /** The JPEG member — SOI + APP0 + [COM when odd] + SOF0(1 component)
    * + SOS(1 component) + entropy(content) + EOI. */
  private[multimodal] def jpgHexSql(textHex: String, textBytes: String,
      idiv: String): String = {
    val (content, _) = codedStreamSql(textHex, textBytes, idiv)
    val pw = "(1 + doc_id % 800)"
    val ph = "(1 + doc_id % 600)"
    val app0 = "'FFE0' || '0010' || '4A46494600' || '0101' || '00' || " +
      "'0048' || '0048' || '0000'"
    val comSeg = "'FFFE' || '0009' || '67726166743134'"
    val sof = s"'FFC0' || '000B' || '08' || ${Media.beHexSql(ph, 2, idiv)} || " +
      s"${Media.beHexSql(pw, 2, idiv)} || '01' || '011100'"
    val sos = "'FFDA' || '0008' || '01' || '0100' || '003F00'"
    s"'FFD8' || $app0 || " +
      s"(CASE WHEN doc_id % 2 = 1 THEN $comSeg || '' ELSE '' END) || " +
      s"$sof || $sos || $content || 'FFD9'"
  }

  /** Fixture synthesis: each document as a REAL PNG or JPEG by GROUP
    * parity (`(doc_id div 30) % 2` — group-level dispatch so every
    * 30-id group keeps its planted-pair structure), with the family
    * two-population discipline on the coded stream: doc_id % 3 ≠ 2
    * carries the text bytes; doc_id % 3 = 2 is the planted near-dup
    * population (group-keyed base, one byte edited per member). The
    * CONTAINER METADATA deliberately diverges within every planted
    * pair: d and d+15 differ in parity, so exactly one member carries
    * the tEXt ancillary chunk (PNG) / the COM segment (JPEG), and the
    * IHDR/SOF dimensions differ too — the green pairing oracle IS the
    * metadata-churn-invariance proof. */
  private[multimodal] def hexSql(textHex: String, textBytes: String,
      idiv: String): String =
    s"CASE WHEN (doc_id $idiv 30) % 2 = 0 " +
      s"THEN ${pngHexSql(textHex, textBytes, idiv)} " +
      s"ELSE ${jpgHexSql(textHex, textBytes, idiv)} END"

  // ---- the hash over an arbitrary payload relation ---------------------------

  /** The hash over `(media_id, payload, h, n_bytes)`: PNG walk + SOS
    * walk over the payload → per-kind span → 64 hex probes → vote. */
  private[graft] def ahashOfHexMaybeCk(sized: DataFrame,
      checkpoint: Boolean, keep: Seq[String] = Nil): DataFrame = {
    val walked0 = sized
      .filter(Media.pngMagic || jpgMagic)
      .withColumn("cw", Media.walksOf(sized))
      .drop("payload")
    val walked = if (checkpoint) walked0.localCheckpoint() else walked0
    // trailing-EOI adjustment: the entropy stream ends before a final
    // FFD9 when one is present (a truncated upload has none)
    val eoiAdj = when(col("h").substr(
        (col("n_bytes") * 2L - 3L).cast("int"), lit(4)) === "FFD9", 2L)
      .otherwise(0L)
    val span = walked.select(keep.map(col) ++ Seq(col("media_id"), col("h"),
        when(Media.pngMagic, lit("png")).otherwise(lit("jpeg")).as("kind"),
        when(Media.pngMagic, col("cw.png.idat_off"))
          .otherwise(col("cw.sos.sdata")).as("span_off"),
        when(Media.pngMagic,
            least(col("cw.png.idat_len"), col("n_bytes") - col("cw.png.idat_off")))
          .otherwise(col("n_bytes") - col("cw.sos.sdata") - eoiAdj)
          .as("n_units")): _*)
      .filter(col("span_off").isNotNull && col("n_units") >= Probes.toLong)
    // probe + vote ride the shared Hamming64 body
    Hamming64.probeVote(span, Probes, k => probeSql(k, "div"),
      ((keep :+ "media_id") ++ sketchCols).map(col))
  }

  /** Test seam: the SOS walk over an arbitrary payload frame — what
    * lets the spec cross-check it against reference walkers on RANDOM
    * segment layouts. */
  private[graft] def sosColumns(payloads: DataFrame): DataFrame =
    payloads.select(col("media_id"),
      Media.walksOf(payloads).getField("sos").getField("sdata").as("sos_data"))

  /** The PNG-walk + SOS-walk → per-kind span → 64-probe → hash chain,
    * DuckDB side. The walk CTEs ([[Media.pngCteSql]], [[jpgSosCteSql]])
    * keep their fixed names: only this chain walks PNG chunks / JPEG
    * markers in any composed query. */
  private[multimodal] def ahashBodyCtesSql(src: String, pfx: String): String =
    s"""${Media.pngCteSql(src)},
       |${jpgSosCteSql("pfin")},
       |${pfx}spans AS (
       |  SELECT media_id, h,
       |    CASE WHEN substring(h, 1, 16) = '${Media.PngSigHex}'
       |      THEN 'png' ELSE 'jpeg' END AS kind,
       |    CASE WHEN substring(h, 1, 16) = '${Media.PngSigHex}'
       |      THEN png_idat ELSE sos_data END AS span_off,
       |    CASE WHEN substring(h, 1, 16) = '${Media.PngSigHex}'
       |      THEN least(png_idat_len, n_bytes - png_idat)
       |      ELSE n_bytes - sos_data - (CASE WHEN substring(h,
       |        CAST(n_bytes * 2 - 3 AS INT), 4) = 'FFD9' THEN 2 ELSE 0 END)
       |      END AS n_units
       |  FROM sfin
       |), ${pfx}elig AS (
       |  SELECT * FROM ${pfx}spans
       |  WHERE span_off IS NOT NULL AND n_units >= $Probes
       |), ${Hamming64.voteCtesSql(s"${pfx}elig", pfx, Probes,
            k => probeSql(k.toString, "//"), sketchCols)}""".stripMargin

  /** Best copy = the MOST CONTENT (`n_units` — the clamped coded-stream
    * length, so a truncated re-upload loses to its intact original). */
  private[graft] val metric: Column = col("n_units")
  private[multimodal] def metricSql(q: String): String = s"${q}n_units"
}
