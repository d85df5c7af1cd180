package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, hex, length}

/** The reference spelling of the five container walks: the interpreted
  * `aggregate` folds over the payload's hex string that Spark plans ran
  * before [[ContainerWalk]] replaced them. They share no code with the
  * walker, so the random-layout properties of MediaSpec and
  * CimageHashSpec check `container_walks_of_binary` against them field
  * by field.
  *
  * Each fold is gated on its walk's entry condition
  * ([[Media.magicCondsSql]]), so a payload without the magic gives a
  * NULL sub-struct, as the expression does.
  */
object WalkFolds {
  import Media._
  import ContainerWalk.{Mp4WalkChunks, WalkChunks}

  val walkAggSql: String = {
    val id = "substring(h, CAST(acc.off * 2 + 1 AS INT), 8)"
    val sz = dynLeSql("acc.off + 4", 4)
    s"""aggregate(
       |  sequence(1, $WalkChunks),
       |  named_struct(
       |    'off', $walkOff0Sql,
       |    'fmt_off', CAST(NULL AS BIGINT),
       |    'data_off', CAST(NULL AS BIGINT),
       |    'data_len', CAST(NULL AS BIGINT)),
       |  (acc, step) -> CASE
       |    WHEN acc.off IS NULL OR n_bytes < acc.off + 8 THEN
       |      named_struct('off', CAST(NULL AS BIGINT), 'fmt_off', acc.fmt_off,
       |        'data_off', acc.data_off, 'data_len', acc.data_len)
       |    ELSE named_struct(
       |      'off', acc.off + 8 + $sz + ($sz % 2),
       |      'fmt_off', coalesce(acc.fmt_off, CASE WHEN $id = '$HexFmt'
       |        AND $sz >= 16 AND n_bytes >= acc.off + 24 THEN acc.off + 8 END),
       |      'data_off', coalesce(acc.data_off,
       |        CASE WHEN $id = '$HexData' THEN acc.off + 8 END),
       |      'data_len', coalesce(acc.data_len,
       |        CASE WHEN $id = '$HexData' THEN $sz END))
       |    END,
       |  acc -> named_struct(
       |    'fmt_off', acc.fmt_off,
       |    'data_off', acc.data_off,
       |    'data_len', acc.data_len,
       |    'channels', CASE WHEN acc.fmt_off IS NOT NULL
       |      THEN CAST(${dynLeSql("acc.fmt_off + 2", 2)} AS BIGINT) END,
       |    'sample_rate', CASE WHEN acc.fmt_off IS NOT NULL
       |      THEN CAST(${dynLeSql("acc.fmt_off + 4", 4)} AS BIGINT) END,
       |    'bits', CASE WHEN acc.fmt_off IS NOT NULL
       |      THEN CAST(${dynLeSql("acc.fmt_off + 14", 2)} AS BIGINT) END))""".stripMargin
  }

  val pngAggSql: String = {
    val len = dynBeSql("acc.off", 4)
    val typ = "substring(h, CAST((acc.off + 4) * 2 + 1 AS INT), 8)"
    s"""aggregate(
       |  sequence(1, $WalkChunks),
       |  named_struct(
       |    'off', CASE WHEN n_bytes >= 16 AND substring(h, 1, 16) = '$PngSigHex'
       |      THEN CAST(8 AS BIGINT) END,
       |    'ihdr', CAST(NULL AS BIGINT),
       |    'idat', CAST(NULL AS BIGINT),
       |    'ilen', CAST(NULL AS BIGINT)),
       |  (acc, step) -> CASE
       |    WHEN acc.off IS NULL OR n_bytes < acc.off + 8 THEN
       |      named_struct('off', CAST(NULL AS BIGINT), 'ihdr', acc.ihdr,
       |        'idat', acc.idat, 'ilen', acc.ilen)
       |    ELSE named_struct(
       |      'off', acc.off + 12 + $len,
       |      'ihdr', coalesce(acc.ihdr, CASE WHEN $typ = '$HexIhdr'
       |        AND $len >= 13 AND n_bytes >= acc.off + 21 THEN acc.off + 8 END),
       |      'idat', coalesce(acc.idat, CASE WHEN $typ = '$HexIdat'
       |        THEN acc.off + 8 END),
       |      'ilen', coalesce(acc.ilen, CASE WHEN $typ = '$HexIdat'
       |        THEN $len END))
       |    END,
       |  acc -> named_struct(
       |    'ihdr_off', acc.ihdr,
       |    'w', CASE WHEN acc.ihdr IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.ihdr", 4)} AS BIGINT) END,
       |    'ht', CASE WHEN acc.ihdr IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.ihdr + 4", 4)} AS BIGINT) END,
       |    'depth', CASE WHEN acc.ihdr IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.ihdr + 8", 1)} AS BIGINT) END,
       |    'ctype', CASE WHEN acc.ihdr IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.ihdr + 9", 1)} AS BIGINT) END,
       |    'idat_off', acc.idat,
       |    'idat_len', acc.ilen))""".stripMargin
  }

  val jpgAggSql: String = {
    val m = "substring(h, CAST(acc.off * 2 + 1 AS INT), 4)"
    val len = dynBeSql("acc.off + 2", 2)
    val standalone = "('FF01','FFD0','FFD1','FFD2','FFD3','FFD4','FFD5','FFD6','FFD7','FFD8')"
    s"""aggregate(
       |  sequence(1, $WalkChunks),
       |  named_struct(
       |    'off', CASE WHEN n_bytes >= 4 AND substring(h, 1, 4) = 'FFD8'
       |      THEN CAST(2 AS BIGINT) END,
       |    'sof', CAST(NULL AS BIGINT)),
       |  (acc, step) -> CASE
       |    WHEN acc.off IS NULL OR n_bytes < acc.off + 4 THEN
       |      named_struct('off', CAST(NULL AS BIGINT), 'sof', acc.sof)
       |    ELSE named_struct(
       |      'off', CASE
       |        WHEN $m IN ('FFC0','FFC1','FFC2') THEN CAST(NULL AS BIGINT)
       |        WHEN $m IN $standalone THEN acc.off + 2
       |        WHEN substring(h, CAST(acc.off * 2 + 1 AS INT), 2) = 'FF'
       |          AND $m NOT IN ('FFD9','FFDA') AND $len >= 2
       |          THEN acc.off + 2 + $len
       |        ELSE CAST(NULL AS BIGINT) END,
       |      'sof', coalesce(acc.sof, CASE WHEN $m IN ('FFC0','FFC1','FFC2')
       |        AND n_bytes >= acc.off + 10 THEN acc.off + 4 END))
       |    END,
       |  acc -> named_struct(
       |    'sof_off', acc.sof,
       |    'prec', CASE WHEN acc.sof IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.sof", 1)} AS BIGINT) END,
       |    'ht', CASE WHEN acc.sof IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.sof + 1", 2)} AS BIGINT) END,
       |    'w', CASE WHEN acc.sof IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.sof + 3", 2)} AS BIGINT) END,
       |    'ncomp', CASE WHEN acc.sof IS NOT NULL
       |      THEN CAST(${dynBeSql("acc.sof + 5", 1)} AS BIGINT) END))""".stripMargin
  }

  val mp4AggSql: String = {
    val typ = "substring(h, CAST((acc.off + 4) * 2 + 1 AS INT), 8)"
    val sz = dynBeSql("acc.off", 4)
    val v = dynBeSql("acc.off + 8", 1)
    s"""aggregate(
       |  sequence(1, $Mp4WalkChunks),
       |  named_struct(
       |    'off', CASE WHEN n_bytes >= 12 AND substring(h, 9, 8) = '$HexFtyp'
       |      THEN CAST(0 AS BIGINT) END,
       |    'tkhd', CAST(NULL AS BIGINT),
       |    'mvhd', CAST(NULL AS BIGINT),
       |    'mdat', CAST(NULL AS BIGINT),
       |    'mlen', CAST(NULL AS BIGINT)),
       |  (acc, step) -> CASE
       |    WHEN acc.off IS NULL OR n_bytes < acc.off + 8 THEN
       |      named_struct('off', CAST(NULL AS BIGINT), 'tkhd', acc.tkhd,
       |        'mvhd', acc.mvhd, 'mdat', acc.mdat, 'mlen', acc.mlen)
       |    ELSE named_struct(
       |      'off', CASE
       |        WHEN $typ IN ('$HexMoov', '$HexTrak') THEN acc.off + 8
       |        WHEN $sz >= 8 THEN acc.off + $sz
       |        ELSE CAST(NULL AS BIGINT) END,
       |      'tkhd', coalesce(acc.tkhd, CASE WHEN $typ = '$HexTkhd'
       |        AND n_bytes >= acc.off + 9
       |        AND n_bytes >= acc.off + 8
       |          + (CASE WHEN $v = 1 THEN 96 ELSE 84 END)
       |        THEN acc.off + 8 END),
       |      'mvhd', coalesce(acc.mvhd, CASE WHEN $typ = '$HexMvhd'
       |        AND n_bytes >= acc.off + 9
       |        AND n_bytes >= acc.off + 8 + ${mvhdNeedSql(v)}
       |        THEN acc.off + 8 END),
       |      'mdat', coalesce(acc.mdat, CASE WHEN $typ = '$HexMdat'
       |        AND $sz >= 8 THEN acc.off + 8 END),
       |      'mlen', coalesce(acc.mlen, CASE WHEN $typ = '$HexMdat'
       |        AND $sz >= 8 THEN $sz - 8 END))
       |    END,
       |  acc -> named_struct(
       |    'tkhd_off', acc.tkhd,
       |    'w', CASE WHEN acc.tkhd IS NOT NULL THEN
       |      CAST(${dynBeSql(tkhdWoffSql("acc.tkhd"), 4)} div 65536 AS BIGINT) END,
       |    'ht', CASE WHEN acc.tkhd IS NOT NULL THEN
       |      CAST(${dynBeSql(tkhdWoffSql("acc.tkhd") + " + 4", 4)} div 65536 AS BIGINT) END,
       |    'mvhd_off', acc.mvhd,
       |    'mts', CASE WHEN acc.mvhd IS NOT NULL THEN
       |      CAST(${mvhdTsSql("acc.mvhd")} AS BIGINT) END,
       |    'mdur', CASE WHEN acc.mvhd IS NOT NULL THEN
       |      CAST(${mvhdDurSql("acc.mvhd")} AS BIGINT) END,
       |    'mdat_off', acc.mdat,
       |    'mdat_len', acc.mlen))""".stripMargin
  }

  val jpgSosAggSql: String = {
    val m = "substring(h, CAST(acc.off * 2 + 1 AS INT), 4)"
    val len = dynBeSql("acc.off + 2", 2)
    val standalone = "('FF01','FFD0','FFD1','FFD2','FFD3','FFD4','FFD5','FFD6','FFD7','FFD8')"
    s"""aggregate(
       |  sequence(1, ${ContainerWalk.SosWalkChunks}),
       |  named_struct(
       |    'off', CASE WHEN n_bytes >= 4 AND substring(h, 1, 4) = 'FFD8'
       |      THEN CAST(2 AS BIGINT) END,
       |    'sdata', CAST(NULL AS BIGINT)),
       |  (acc, step) -> CASE
       |    WHEN acc.off IS NULL OR n_bytes < acc.off + 4 THEN
       |      named_struct('off', CAST(NULL AS BIGINT), 'sdata', acc.sdata)
       |    ELSE named_struct(
       |      'off', CASE
       |        WHEN $m = 'FFDA' THEN CAST(NULL AS BIGINT)
       |        WHEN $m IN $standalone THEN acc.off + 2
       |        WHEN substring(h, CAST(acc.off * 2 + 1 AS INT), 2) = 'FF'
       |          AND $m <> 'FFD9' AND $len >= 2
       |          THEN acc.off + 2 + $len
       |        ELSE CAST(NULL AS BIGINT) END,
       |      'sdata', coalesce(acc.sdata, CASE WHEN $m = 'FFDA'
       |        AND $len >= 2 THEN acc.off + 2 + $len END))
       |    END,
       |  acc -> acc.sdata)""".stripMargin
  }

  private def gated(kind: String, fold: String): String =
    s"CASE WHEN ${magicCondsSql(kind)} THEN $fold END"

  /** `(media_id, riff, png, jpeg, mp4, sos)` over a `(media_id, payload)`
    * frame, by the folds. */
  def reference(payloads: DataFrame): DataFrame =
    payloads.select(col("media_id"), hex(col("payload")).as("h"),
        length(col("payload")).cast("long").as("n_bytes"))
      .select(col("media_id"),
        expr(gated("wav", walkAggSql)).as("riff"),
        expr(gated("png", pngAggSql)).as("png"),
        expr(gated("jpeg", jpgAggSql)).as("jpeg"),
        expr(gated("mp4", mp4AggSql)).as("mp4"),
        expr(gated("jpeg", s"named_struct('sdata', $jpgSosAggSql)")).as("sos"))

  /** Payloads whose `walks` structs differ between
    * [[Media.containerColumns]] and [[reference]]:
    * `(media_id, production, reference)`. */
  def mismatches(payloads: DataFrame, walks: Seq[String]): Seq[(Long, Row, Row)] = {
    def rows(df: DataFrame): Map[Long, Row] =
      df.select(col("media_id") +: walks.map(col): _*).collect()
        .map(r => r.getLong(0) -> Row.fromSeq(r.toSeq.tail)).toMap
    val got = rows(containerColumns(payloads))
    val want = rows(reference(payloads))
    got.keys.toSeq.sorted.collect {
      case id if got(id) != want(id) => (id, got(id), want(id))
    }
  }
}
