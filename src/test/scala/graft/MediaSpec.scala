package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{ContainerWalk, Media, WalkFolds}

class MediaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def docs(rows: (Long, String, String, String, Long)*) =
    rows.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")

  /** Field `f` of walk struct `w` in a [[Media.containerColumns]] row. */
  private def walkField(r: Row, w: String, f: String): Option[Long] =
    Option(r.getAs[Row](w)).flatMap(s => Option(s.getAs[java.lang.Long](f)))
      .map(_.toLong)

  val sample = Seq(
    // ids 4, 24, 44: doc_id % 20 = 4 → payloads stay raw text bytes
    // (% 10 = 9 now synthesizes GIF and % 20 = 14 MP4 containers)
    (4L, "hello", "en", "src0", 5L),
    (24L, "héllo", "fr", "src1", 5L),  // é = 2 UTF-8 bytes, both ≥ 0x80
    (44L, "", "en", "src2", 0L))

  test("golden: byte features of known raw payloads") {
    val out = Media.mediaFeatures(docs(sample: _*))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_bytes"), r.getAs[String]("header_hex"),
          r.getAs[Long]("byte_sum"), r.getAs[Long]("n_hi_bytes"),
          r.getAs[String]("kind"))).toMap
    // "hello" = 68 65 6C 6C 6F
    assert(out(4L) === (5L, "68656C6C6F", 0x68L + 0x65 + 0x6c + 0x6c + 0x6f, 0L, "raw"))
    // "héllo" = 68 C3 A9 6C 6C 6F (6 bytes, é → C3 A9)
    assert(out(24L) === (6L, "68C3A96C6C6F",
      0x68L + 0xc3 + 0xa9 + 0x6c + 0x6c + 0x6f, 2L, "raw"))
    assert(out(44L) === (0L, "", 0L, 0L, "raw"))
  }

  test("golden: realDecode parses hand-built BMP and WAV headers") {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    // 54-byte BITMAPINFOHEADER BMP, 640×480 @ 24 bpp, 3 pixel bytes
    val bmp = "BM".getBytes("US-ASCII") ++ le(57, 4) ++ le(0, 4) ++
      le(54, 4) ++ le(40, 4) ++ le(640, 4) ++ le(480, 4) ++ le(1, 2) ++
      le(24, 2) ++ Array.fill[Byte](24)(0) ++ Array[Byte](1, 2, 3)
    assert(bmp.length === 57)
    val db = Media.realDecode(graft.multimodal.MediaRow(1L, bmp, "f"))
    assert(db.kind === Some("bmp"))
    assert((db.width, db.height, db.bpp) ===
      ((Some(640L), Some(480L), Some(24L))))
    assert(db.n_bytes === Some(57L))
    assert(db.header_hex === Some("424D390000000000"))
    // canonical 44-byte WAV: stereo, 44100 Hz, 16-bit, 2 sample bytes
    val wav = "RIFF".getBytes("US-ASCII") ++ le(38, 4) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
      le(16, 4) ++ le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(44100L * 2 * 2, 4) ++ le(4, 2) ++ le(16, 2) ++
      "data".getBytes("US-ASCII") ++ le(2, 4) ++ Array[Byte](9, 9)
    assert(wav.length === 46)
    val dw = Media.realDecode(graft.multimodal.MediaRow(2L, wav, "f"))
    assert(dw.kind === Some("wav"))
    assert((dw.channels, dw.sample_rate, dw.bits) ===
      ((Some(2L), Some(44100L), Some(16L))))
    // neither magic → raw with NULL decode fields
    val dr = Media.realDecode(graft.multimodal.MediaRow(3L, Array[Byte](1, 2), "f"))
    assert(dr.kind === Some("raw") && dr.width.isEmpty && dr.channels.isEmpty)
  }

  test("container round-trip: synthesized BMP/WAV payloads decode to their doc-derived fields") {
    // doc 10 (% 5 = 0) → BMP: width = 1 + 10 % 640 = 11, height = 11,
    // bpp 24; doc 6 (% 5 = 1) → WAV: channels = 1 + 6 % 2 = 1, rate =
    // 8000·(1 + 6 % 6) = 8000, bits = 8·(1 + 6 % 2) = 8
    val out = Media.mediaFeatures(docs(
      (10L, "pixels", "en", "s", 6L), (6L, "samples", "en", "s", 7L)))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val b = out(10L)
    assert(b.getAs[String]("kind") === "bmp")
    assert(b.getAs[Long]("width") === 11L)
    assert(b.getAs[Long]("height") === 11L)
    assert(b.getAs[Long]("bpp") === 24L)
    assert(b.getAs[Long]("n_bytes") === 54L + 6L)
    val w = out(6L)
    assert(w.getAs[String]("kind") === "wav")
    assert(w.getAs[Long]("channels") === 1L)
    assert(w.getAs[Long]("sample_rate") === 8000L)
    assert(w.getAs[Long]("bits") === 8L)
    // doc 6 (% 10 = 6) synthesizes the LIST-chunk layout: canonical 44
    // + 18 chunk bytes (8 hdr + 9 payload + 1 pad) before data — the
    // declarative walk must STILL classify and read fields correctly
    assert(w.getAs[Long]("n_bytes") === 44L + 18L + 7L)
  }

  test("property: declarative walk ≡ imperative walk on random chunk soups") {
    // two INDEPENDENT implementations of the bounded RIFF walk — the
    // SQL aggregate fold and realDecode's loop — must agree on wav
    // classification and fmt fields for arbitrary chunk sequences:
    // junk ids, odd sizes (pad hop), fmt after data, runts, missing
    // chunks, declared sizes overrunning the payload, and truncations
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    val rnd = new scala.util.Random(31)
    def fmtChunk(): Array[Byte] = {
      val ch = 1 + rnd.nextInt(4); val rate = 4000 + rnd.nextInt(50000)
      val bits = Seq(8, 16, 24)(rnd.nextInt(3))
      "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++
        le(rate, 4) ++ le(rate.toLong * ch * bits / 8, 4) ++
        le(ch * bits / 8, 2) ++ le(bits, 2)
    }
    def randomChunk(): Array[Byte] = rnd.nextInt(6) match {
      case 0 => fmtChunk()
      case 1 =>
        val n = rnd.nextInt(12)
        "data".getBytes("US-ASCII") ++ le(n, 4) ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte) ++
          (if (n % 2 == 1) Array[Byte](0) else Array.empty[Byte])
      case 2 =>
        val n = rnd.nextInt(15)
        "LIST".getBytes("US-ASCII") ++ le(n, 4) ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte) ++
          (if (n % 2 == 1) Array[Byte](0) else Array.empty[Byte])
      case 3 => "fact".getBytes("US-ASCII") ++ le(4, 4) ++ le(1, 4)
      case 4 => // short fmt : size < 16 must NOT be trusted
        "fmt ".getBytes("US-ASCII") ++ le(6, 4) ++ Array.fill[Byte](6)(1)
      case _ => // junk id with a size that may overrun the payload
        "J@nk".getBytes("US-ASCII") ++ le(rnd.nextInt(40), 4) ++
          Array.fill[Byte](rnd.nextInt(8))(7)
    }
    val payloads: Seq[(Long, Array[Byte])] = (0 until 200).map { i =>
      val body = (0 until rnd.nextInt(8)).flatMap(_ => randomChunk()).toArray
      val full = "RIFF".getBytes("US-ASCII") ++ le(4L + body.length, 4) ++
        "WAVE".getBytes("US-ASCII") ++ body
      val cut = if (rnd.nextInt(4) == 0 && full.length > 8)
        full.take(8 + rnd.nextInt(full.length - 8)) else full
      (i.toLong, cut)
    }
    import spark.implicits._
    val declared = graft.multimodal.Media.walkColumns(
        payloads.toDF("media_id", "payload"))
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((Option(r.getAs[java.lang.Long]("fmt_off")).isDefined &&
            Option(r.getAs[java.lang.Long]("data_off")).isDefined),
          Option(r.getAs[java.lang.Long]("wav_channels")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("wav_sample_rate")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("wav_bits")).map(_.toLong))).toMap
    for ((id, bytes) <- payloads) {
      val d = Media.realDecode(graft.multimodal.MediaRow(id, bytes, "f"))
      val (isWav, ch, rate, bits) = declared(id)
      assert((d.kind === Some("wav")) === isWav,
        s"payload $id (${bytes.length} B): typed=${d.kind} declarative-wav=$isWav")
      if (isWav) {
        assert(d.channels === ch && d.sample_rate === rate && d.bits === bits,
          s"payload $id fields: typed=(${d.channels},${d.sample_rate},${d.bits}) " +
            s"declarative=($ch,$rate,$bits)")
      }
    }
    // the walker against the interpreted-fold reference, every field
    val off = WalkFolds.mismatches(payloads.toDF("media_id", "payload"), Seq("riff"))
    assert(off.isEmpty, s"RIFF walk ≠ fold reference: ${off.take(3)}")
  }

  test("golden: realDecode walks LIST and fact chunks in front of fmt and data") {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    val list = "LIST".getBytes("US-ASCII") ++ le(9, 4) ++
      "INFOGRAFX".getBytes("US-ASCII") ++ Array[Byte](0) // odd size → pad
    val fact = "fact".getBytes("US-ASCII") ++ le(4, 4) ++ le(1, 4)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++
      le(2, 2) ++ le(44100, 4) ++ le(44100L * 4, 4) ++ le(4, 2) ++ le(16, 2)
    val data = "data".getBytes("US-ASCII") ++ le(4, 4) ++ Array[Byte](1, 2, 3, 4)
    val body = list ++ fact ++ fmt ++ data
    val wav = "RIFF".getBytes("US-ASCII") ++ le(4L + body.length, 4) ++
      "WAVE".getBytes("US-ASCII") ++ body
    val d = Media.realDecode(graft.multimodal.MediaRow(9L, wav, "f"))
    // a canonical-offset parse would read garbage out of the LIST
    // payload (or classify raw); the walk finds fmt at chunk #2
    assert(d.kind === Some("wav"))
    assert((d.channels, d.sample_rate, d.bits) ===
      ((Some(2L), Some(44100L), Some(16L))))
    // truncating mid-walk (inside the fact chunk) degrades to raw
    val cut = Media.realDecode(graft.multimodal.MediaRow(10L, wav.take(48), "f"))
    assert(cut.kind === Some("raw") && cut.channels.isEmpty)
  }

  test("typed mapPartitions decoder agrees with the expression plan row-for-row") {
    // every container class: BMP (5), WAV (6), canonical PNG (2),
    // ancillary-first PNG (7), canonical JPEG (3), COM/DQT JPEG (8),
    // raw (sample: 4, 9, 14)
    val mixed = sample ++ Seq(
      (5L, "pix", "en", "s", 3L), (6L, "snd", "en", "s", 3L),
      (2L, "png", "en", "s", 3L), (7L, "png2", "en", "s", 4L),
      (3L, "jpg", "en", "s", 3L), (8L, "jpg2", "en", "s", 4L))
    val a = Media.mediaFeatures(docs(mixed: _*))
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    val b = Media.mediaFeaturesPartitioned(docs(mixed: _*))
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("container round-trip: synthesized PNG/JPEG payloads decode to their doc-derived fields") {
    // doc 2 (% 10 = 2) → canonical PNG: w = 1 + 2 % 800 = 3, h = 3,
    //   depth 8, ctype = 0 (2 % 3 = 2 → gray) → channels 1
    // doc 7 (% 10 = 7) → PNG with a tEXt chunk BEFORE IHDR: w = 8,
    //   h = 8, ctype = 6 (7 % 3 = 1 → RGBA) → channels 4
    // doc 3 (% 10 = 3) → canonical JPEG: w = 4, h = 4, precision 8,
    //   ncomp 1 (odd id)
    // doc 8 (% 10 = 8) → JPEG with COM + DQT before SOF2: w = 9,
    //   h = 9, ncomp 3 (even id)
    val out = Media.mediaFeatures(docs(
      (2L, "idatp", "en", "s", 5L), (7L, "idatq", "en", "s", 5L),
      (3L, "scan1", "en", "s", 5L), (8L, "scan2", "en", "s", 5L)))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    def fields(id: Long) = {
      val r = out(id)
      (r.getAs[String]("kind"), r.getAs[Long]("width"),
        r.getAs[Long]("height"), r.getAs[Long]("bpp"),
        r.getAs[Long]("channels"), r.getAs[Long]("n_bytes"))
    }
    // PNG total = 8 sig + 25 IHDR + (12 + text) IDAT + 12 IEND
    assert(fields(2L) === ("png", 3L, 3L, 8L, 1L, 57L + 5L))
    // + 17-byte tEXt chunk — the walk must hop it to find IHDR
    assert(fields(7L) === ("png", 8L, 8L, 8L, 4L, 74L + 5L))
    // JPEG total = 2 SOI + 18 APP0 + (2 + 8 + 3·ncomp) SOF + text + 2 EOI
    assert(fields(3L) === ("jpeg", 4L, 4L, 8L, 1L, 35L + 5L))
    // + 11-byte COM + 9-byte DQT
    assert(fields(8L) === ("jpeg", 9L, 9L, 8L, 3L, 61L + 5L))
  }

  test("byte_stats_of_binary: native codegen walk ≡ the hex+HOF reference formulation, NULLs included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val payloads = (0 until 64).map { i =>
      (i.toLong, Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte))
    } :+ (64L, Array.emptyByteArray)
    val df = payloads.toDF("id", "payload")
      .unionByName(Seq(Tuple1(65L)).toDF("id")
        .withColumn("payload", lit(null).cast("binary")))
    assert(spark.catalog.functionExists("byte_stats_of_binary"),
      "test session must register GraftExtensions")
    val h = hex(col("payload"))
    val bytes = regexp_extract_all(h, lit(".."), lit(0))
    val hexByte = (p: org.apache.spark.sql.Column) =>
      (instr(lit("0123456789ABCDEF"), substring(p, 1, 1)) - 1) * 16 +
        instr(lit("0123456789ABCDEF"), substring(p, 2, 1)) - 1
    val out = df.select(col("id"),
        call_function("byte_stats_of_binary", col("payload")).as("nat"),
        aggregate(bytes, lit(0L), (acc, p) => acc + hexByte(p).cast("long"))
          .as("fb_sum"),
        size(filter(bytes, p =>
          instr(lit("89ABCDEF"), substring(p, 1, 1)) > 0)).cast("long")
          .as("fb_hi"))
      .collect()
    for (r <- out) {
      val nat = r.getAs[org.apache.spark.sql.Row]("nat")
      if (r.isNullAt(r.fieldIndex("fb_sum"))) assert(nat === null, s"id ${r.getLong(0)}")
      else {
        assert(nat.getLong(0) === r.getAs[Long]("fb_sum"), s"id ${r.getLong(0)} sum")
        assert(nat.getLong(1) === r.getAs[Long]("fb_hi"), s"id ${r.getLong(0)} hi")
      }
    }
  }

  test("container round-trip + golden: GIF logical screen descriptor, both signatures") {
    // doc 9 (% 20 = 9 → GIF89a): w = 1 + 9 % 320 = 10, h = 10,
    //   packed = 128 + 16·1 + 1 = 145 → GCT-size bits = 1 → bpp 2
    // doc 19 (% 20 = 19 → GIF87a): w = 20, h = 20,
    //   packed = 128 + 16·3 + 3 = 179 → bpp 4
    val out = Media.mediaFeatures(docs(
      (9L, "gifdata", "en", "s", 7L), (19L, "gifdata", "en", "s", 7L)))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    def fields(id: Long) = {
      val r = out(id)
      (r.getAs[String]("kind"), r.getAs[Long]("width"),
        r.getAs[Long]("height"), r.getAs[Long]("bpp"),
        r.getAs[Long]("channels"), r.getAs[Long]("n_bytes"))
    }
    // GIF total = 6 signature + 7 LSD + text + 1 trailer
    assert(fields(9L) === ("gif", 10L, 10L, 2L, 1L, 14L + 7L))
    assert(fields(19L) === ("gif", 20L, 20L, 4L, 1L, 14L + 7L))
    // the typed decoder agrees on a hand-built header: GIF89a,
    // 300×200, packed 0xA2 (GCT flag set + GCT size 2 → bpp 3)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](44, 1, -56, 0, 0xA2.toByte, 0, 0) ++
      Array[Byte](1, 2, 3) :+ 0x3B.toByte
    val d = Media.realDecode(graft.multimodal.MediaRow(1L, gif, "f"))
    assert(d.kind === Some("gif"))
    assert((d.width, d.height, d.bpp, d.channels) ===
      ((Some(300L), Some(200L), Some(3L), Some(1L))))
    // too short for the descriptor → raw, not an error
    val short = Media.realDecode(
      graft.multimodal.MediaRow(2L, "GIF89a".getBytes("US-ASCII"), "f"))
    assert(short.kind === Some("raw"))
  }

  test("container round-trip + golden: MP4 nested box walk, both tkhd versions") {
    // doc 14 (% 20 = 14, % 40 ≠ 34) → canonical v0 layout:
    //   ftyp · moov↓ · mvhd · trak↓ · tkhd(v0); w = 1 + 14 % 1920 = 15
    // doc 34 (% 40 = 34) → free before moov, udta before trak, tkhd v1:
    //   w = 35, h = 35 — the descend walk proven past sibling boxes
    val out = Media.mediaFeatures(docs(
      (14L, "mdatbytes", "en", "s", 9L), (34L, "mdatbytes", "en", "s", 9L)))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    def fields(id: Long) = {
      val r = out(id)
      (r.getAs[String]("kind"), r.getAs[Long]("width"),
        r.getAs[Long]("height"), r.getAs[Long]("n_bytes"))
    }
    // v0 total = 16 ftyp + 216 moov (108-byte mvhd v0) + (8 + text) mdat
    assert(fields(14L) === ("mp4", 15L, 15L, 240L + 9L))
    // v1 total = 16 ftyp + 12 free + 248 moov (120-byte mvhd v1) + (8 + text) mdat
    assert(fields(34L) === ("mp4", 35L, 35L, 284L + 9L))
    // hand-built golden: a 64-byte-truncated tkhd (payload incomplete
    // for its version) must NOT resolve — kind falls back to raw
    def be4(v: Long) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = be4(16) ++ "ftypisom".getBytes("US-ASCII") ++ be4(0)
    val shortTkhd = be4(92) ++ "tkhd".getBytes("US-ASCII") ++
      Array.fill[Byte](40)(0) // 84 declared, only 40 present
    val trak = be4(8L + 8 + shortTkhd.length) ++ "trak".getBytes("US-ASCII")
    val moov = be4(8L + trak.length + shortTkhd.length) ++
      "moov".getBytes("US-ASCII")
    val broken = ftyp ++ moov ++ trak ++ shortTkhd
    val d = Media.realDecode(graft.multimodal.MediaRow(1L, broken, "f"))
    assert(d.kind === Some("raw"))
    // and a complete v0 tkhd parses: 300×200
    val tkhdPay = Array[Byte](0, 0, 0, 7) ++ Array.fill[Byte](72)(0) ++
      be4(300L << 16) ++ be4(200L << 16)
    assert(tkhdPay.length === 84)
    val tkhd2 = be4(92) ++ "tkhd".getBytes("US-ASCII") ++ tkhdPay
    val trak2 = be4(100) ++ "trak".getBytes("US-ASCII") ++ tkhd2
    val moov2 = be4(108) ++ "moov".getBytes("US-ASCII") ++ trak2
    val ok = Media.realDecode(graft.multimodal.MediaRow(2L,
      ftyp ++ moov2, "f"))
    assert(ok.kind === Some("mp4"))
    assert((ok.width, ok.height) === ((Some(300L), Some(200L))))
  }

  test("golden: realDecode parses hand-built PNG and JPEG headers") {
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] =
      be(payload.length, 4) ++ typ.getBytes("US-ASCII") ++ payload ++ be(0, 4)
    val ihdr = chunk("IHDR",
      be(1920, 4) ++ be(1080, 4) ++ Array[Byte](8, 6, 0, 0, 0))
    // misplaced ancillary chunk first — the walk must hop it
    val png = pngSig ++ chunk("tEXt", Array[Byte](1, 2, 3)) ++ ihdr ++
      chunk("IDAT", Array[Byte](9, 9)) ++ chunk("IEND", Array.empty)
    val dp = Media.realDecode(graft.multimodal.MediaRow(1L, png, "f"))
    assert(dp.kind === Some("png"))
    assert((dp.width, dp.height, dp.bpp, dp.channels) ===
      ((Some(1920L), Some(1080L), Some(8L), Some(4L))))
    // truncated mid-IHDR-payload (tEXt chunk = 15 B, IHDR hdr = 8 B,
    // then 10 of the 13 payload bytes) → raw: incomplete IHDR untrusted
    val cut = Media.realDecode(graft.multimodal.MediaRow(2L,
      png.take(pngSig.length + 15 + 8 + 10), "f"))
    assert(cut.kind === Some("raw") && cut.width.isEmpty)

    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte) ++ be(payload.length + 2, 2) ++ payload
    val sof = seg(0xc2, Array[Byte](8) ++ be(480, 2) ++ be(640, 2) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    val jpg = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 0x48, 0, 0x48, 0, 0)) ++
      seg(0xfe, "hello comment".getBytes("US-ASCII")) ++
      sof ++ Array[Byte](1, 2, 3) ++ Array(0xff.toByte, 0xd9.toByte)
    val dj = Media.realDecode(graft.multimodal.MediaRow(3L, jpg, "f"))
    assert(dj.kind === Some("jpeg"))
    assert((dj.width, dj.height, dj.bpp, dj.channels) ===
      ((Some(640L), Some(480L), Some(8L), Some(3L))))
    // SOS before any SOF → walk stops → raw (progressive garbage)
    val noSof = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xda, Array[Byte](1, 1, 0)) ++ Array[Byte](5, 5)
    val dn = Media.realDecode(graft.multimodal.MediaRow(4L, noSof, "f"))
    assert(dn.kind === Some("raw") && dn.width.isEmpty)
  }

  test("property: MP4 declarative walk ≡ imperative walk on random box soups") {
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    val rnd = new scala.util.Random(53)
    def box(): Array[Byte] = rnd.nextInt(7) match {
      case 0 => // descend container header — the walk ENTERS what follows
        be(8 + rnd.nextInt(200), 4) ++
          Seq("moov", "trak")(rnd.nextInt(2)).getBytes("US-ASCII")
      case 1 => // complete v0 tkhd
        be(92, 4) ++ "tkhd".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 7) ++
          Array.fill[Byte](72)(0) ++
          be((1L + rnd.nextInt(4000)) << 16, 4) ++
          be((1L + rnd.nextInt(3000)) << 16, 4)
      case 2 => // complete v1 tkhd (wider timestamps → field offsets shift)
        be(104, 4) ++ "tkhd".getBytes("US-ASCII") ++ Array[Byte](1, 0, 0, 7) ++
          Array.fill[Byte](84)(0) ++
          be((1L + rnd.nextInt(4000)) << 16, 4) ++
          be((1L + rnd.nextInt(3000)) << 16, 4)
      case 3 => // truncated tkhd: declared complete, payload short
        be(92, 4) ++ "tkhd".getBytes("US-ASCII") ++
          Array.fill[Byte](rnd.nextInt(40))(0)
      case 4 => // hop box with random payload
        val n = rnd.nextInt(30)
        be(8L + n, 4) ++ "free".getBytes("US-ASCII") ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      case 5 => // mdat with random content (sometimes declared long)
        val n = rnd.nextInt(40)
        be(8L + n + (if (rnd.nextInt(3) == 0) 50 else 0), 4) ++
          "mdat".getBytes("US-ASCII") ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      case _ => // malformed size < 8 → no forward progress, walk stops
        be(rnd.nextInt(8).toLong, 4) ++ "skip".getBytes("US-ASCII")
    }
    // imperative reference of the mdat find (realDecode does not track
    // it — mdat is a hash-family concern, not a MediaDecoded field)
    def refMdat(bytes: Array[Byte]): (Option[Long], Option[Long]) = {
      def beL(off: Int, n: Int) =
        (0 until n).map(k => (bytes(off + k) & 0xffL) << (8 * (n - 1 - k))).sum
      def ascii(off: Int, s: String) = bytes.length >= off + s.length &&
        s.indices.forall(i => (bytes(off + i) & 0xff) == s.charAt(i).toInt)
      if (!(bytes.length >= 12 && ascii(4, "ftyp"))) return (None, None)
      var off = 0L; var md = -1L; var ml = -1L; var k = 0
      // budget SHARED with the production fold (r14 advice: a literal
      // here would silently desynchronize on a future budget change)
      while (k < ContainerWalk.Mp4WalkChunks && off >= 0 && bytes.length >= off + 8) {
        val sz = beL(off.toInt, 4)
        if (md < 0 && ascii(off.toInt + 4, "mdat") && sz >= 8) {
          md = off + 8; ml = sz - 8
        }
        if (ascii(off.toInt + 4, "moov") || ascii(off.toInt + 4, "trak"))
          off += 8
        else if (sz >= 8) off += sz
        else off = -1
        k += 1
      }
      (if (md >= 0) Some(md) else None, if (ml >= 0) Some(ml) else None)
    }
    val ftyp = be(16, 4) ++ "ftypisom".getBytes("US-ASCII") ++ be(0, 4)
    val payloads: Seq[(Long, Array[Byte])] = (0 until 200).map { i =>
      val full = ftyp ++ (0 until rnd.nextInt(7)).flatMap(_ => box()).toArray
      val cut = if (rnd.nextInt(4) == 0 && full.length > 12)
        full.take(12 + rnd.nextInt(full.length - 12)) else full
      (i.toLong, cut)
    }
    import spark.implicits._
    val declared = Media.containerColumns(payloads.toDF("media_id", "payload"))
      .collect().map { r =>
        def f(c: String) = walkField(r, "mp4", c)
        r.getAs[Long]("media_id") ->
          ((f("tkhd_off"), f("w"), f("ht"), f("mdat_off"), f("mdat_len")))
      }.toMap
    var found = 0
    var mdatFound = 0
    for ((id, bytes) <- payloads) {
      val d = Media.realDecode(graft.multimodal.MediaRow(id, bytes, "f"))
      val (tkhd, mw, mh, mdat, mlen) = declared(id)
      assert((d.kind === Some("mp4")) === tkhd.isDefined,
        s"payload $id (${bytes.length} B): typed=${d.kind} declarative-tkhd=$tkhd")
      if (tkhd.isDefined) {
        found += 1
        assert((d.width, d.height) === ((mw, mh)),
          s"payload $id MP4 dimensions disagree")
      }
      assert((mdat, mlen) === refMdat(bytes),
        s"payload $id mdat find disagrees with the reference walk")
      if (mdat.isDefined) mdatFound += 1
    }
    assert(found > 10, s"only $found/200 soups resolved — generator too hostile")
    assert(mdatFound > 10, s"only $mdatFound/200 soups carried a walked mdat")
    val off = WalkFolds.mismatches(payloads.toDF("media_id", "payload"), Seq("mp4"))
    assert(off.isEmpty, s"MP4 walk ≠ fold reference: ${off.take(3)}")
  }

  test("overlapping magics: a RIFF size field spelling 'ftyp' still decodes as wav") {
    // adversarial corner: MP4's magic lives at byte 4, exactly where
    // RIFF keeps its size field — 0x66747970 ('ftyp') is a legal RIFF
    // size. The MP4 detector fires, its walk dies (first box size is
    // the 'RIFF' ascii ≈ 1.4 GB), and the decode must FALL THROUGH to
    // the WAV detector — the declarative CASE always did; the typed
    // chain now mirrors it
    def le4(v: Long) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le4(16) ++
      le4(1L | (2L << 16)).take(4) ++ le4(8000) ++ le4(32000) ++
      Array[Byte](4, 0, 16, 0)
    val data = "data".getBytes("US-ASCII") ++ le4(4) ++ Array[Byte](1, 2, 3, 4)
    val wav = "RIFF".getBytes("US-ASCII") ++
      "ftyp".getBytes("US-ASCII") ++ // the size field, maliciously
      "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    val d = Media.realDecode(graft.multimodal.MediaRow(1L, wav, "f"))
    assert(d.kind === Some("wav"), s"typed decoder gave ${d.kind}")
    assert((d.channels, d.sample_rate, d.bits) ===
      ((Some(2L), Some(8000L), Some(16L))))
    import spark.implicits._
    val cols = Media.containerColumns(
      Seq((1L, wav)).toDF("media_id", "payload")).collect().head
    assert(walkField(cols, "mp4", "tkhd_off").isEmpty)
    assert(walkField(cols, "riff", "fmt_off").isDefined)
  }

  test("property: PNG/JPEG declarative walks ≡ imperative walks on random layouts") {
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    val rnd = new scala.util.Random(47)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    def pngChunk(): Array[Byte] = rnd.nextInt(6) match {
      case 0 => // proper IHDR
        be(13, 4) ++ "IHDR".getBytes("US-ASCII") ++
          be(1 + rnd.nextInt(4000), 4) ++ be(1 + rnd.nextInt(3000), 4) ++
          Array[Byte](8, Seq(0, 2, 3, 4, 6)(rnd.nextInt(5)).toByte, 0, 0, 0) ++ be(0, 4)
      case 1 => // runt IHDR: declared < 13 must NOT be trusted
        be(7, 4) ++ "IHDR".getBytes("US-ASCII") ++
          Array.fill[Byte](7)(3) ++ be(0, 4)
      case 2 => // ancillary with random payload (odd sizes — no padding in PNG)
        val n = rnd.nextInt(9)
        be(n, 4) ++ "tEXt".getBytes("US-ASCII") ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte) ++ be(0, 4)
      case 3 => // declared size overruns the payload
        be(1000 + rnd.nextInt(100000), 4) ++ "zTXt".getBytes("US-ASCII") ++
          Array.fill[Byte](rnd.nextInt(6))(1)
      case 4 => // IDAT with random content (sometimes declared long)
        val n = rnd.nextInt(40)
        be(n + (if (rnd.nextInt(3) == 0) 50 else 0), 4) ++
          "IDAT".getBytes("US-ASCII") ++
          Array.fill[Byte](n)(rnd.nextInt(256).toByte) ++ be(0, 4)
      case _ =>
        be(4, 4) ++ "gAMA".getBytes("US-ASCII") ++ be(45455, 4) ++ be(0, 4)
    }
    // imperative reference of the IDAT find (the compressed-content
    // span — not a MediaDecoded field)
    def refIdat(bytes: Array[Byte]): (Option[Long], Option[Long]) = {
      def beL(off: Int, n: Int) =
        (0 until n).map(k => (bytes(off + k) & 0xffL) << (8 * (n - 1 - k))).sum
      def ascii(off: Int, s: String) = bytes.length >= off + s.length &&
        s.indices.forall(i => (bytes(off + i) & 0xff) == s.charAt(i).toInt)
      if (bytes.length < 8 || !pngSig.indices.forall(i => bytes(i) == pngSig(i)))
        return (None, None)
      var off = 8L; var id0 = -1L; var il = -1L; var k = 0
      // budget shared with the production fold (r14 advice)
      while (k < ContainerWalk.WalkChunks && bytes.length >= off + 8) {
        val len = beL(off.toInt, 4)
        if (id0 < 0 && ascii(off.toInt + 4, "IDAT")) { id0 = off + 8; il = len }
        off = off + 12 + len
        k += 1
      }
      (if (id0 >= 0) Some(id0) else None, if (il >= 0) Some(il) else None)
    }
    def jpgSeg(): Array[Byte] = rnd.nextInt(6) match {
      case 0 => // proper SOF0/1/2
        val nc = 1 + rnd.nextInt(3)
        Array(0xff.toByte, Seq(0xc0, 0xc1, 0xc2)(rnd.nextInt(3)).toByte) ++
          be(8 + 3 * nc, 2) ++ Array[Byte](8) ++
          be(1 + rnd.nextInt(60000), 2) ++ be(1 + rnd.nextInt(60000), 2) ++
          Array[Byte](nc.toByte) ++ Array.fill[Byte](3 * nc)(0x11)
      case 1 => // APPn with random payload
        val n = rnd.nextInt(12)
        Array(0xff.toByte, (0xe0 + rnd.nextInt(16)).toByte) ++
          be(n + 2, 2) ++ Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      case 2 => // standalone marker (no length)
        Array(0xff.toByte, Seq(0x01, 0xd0, 0xd3, 0xd7)(rnd.nextInt(4)).toByte)
      case 3 => // malformed length < 2 → walk must stop
        Array(0xff.toByte, 0xdb.toByte) ++ be(rnd.nextInt(2), 2)
      case 4 => // EOI or SOS → stop
        Array(0xff.toByte, Seq(0xd9, 0xda)(rnd.nextInt(2)).toByte) ++
          Array.fill[Byte](rnd.nextInt(5))(9)
      case _ => // garbage (not FF-led)
        Array.fill[Byte](2 + rnd.nextInt(6))(rnd.nextInt(256).toByte)
    }
    val payloads: Seq[(Long, Array[Byte])] = (0 until 200).map { i =>
      val full = if (i % 2 == 0)
        pngSig ++ (0 until rnd.nextInt(8)).flatMap(_ => pngChunk()).toArray
      else
        Array(0xff.toByte, 0xd8.toByte) ++
          (0 until rnd.nextInt(8)).flatMap(_ => jpgSeg()).toArray
      val cut = if (rnd.nextInt(4) == 0 && full.length > 2)
        full.take(2 + rnd.nextInt(full.length - 2)) else full
      (i.toLong, cut)
    }
    import spark.implicits._
    val declared = Media.containerColumns(payloads.toDF("media_id", "payload"))
      .collect().map { r =>
        def p(c: String) = walkField(r, "png", c)
        def j(c: String) = walkField(r, "jpeg", c)
        r.getAs[Long]("media_id") ->
          ((p("ihdr_off"), p("w"), p("ht"), p("depth"), p("ctype")),
            (j("sof_off"), j("prec"), j("ht"), j("w"), j("ncomp")),
            (p("idat_off"), p("idat_len")))
      }.toMap
    for ((id, bytes) <- payloads) {
      val d = Media.realDecode(graft.multimodal.MediaRow(id, bytes, "f"))
      val ((ihdr, pw, ph, pd, _), (sof, jp, jh, jw, jn), (idat, ilen)) = declared(id)
      if (id % 2 == 0) {
        assert((d.kind === Some("png")) === ihdr.isDefined,
          s"payload $id (${bytes.length} B): typed=${d.kind} declarative-ihdr=$ihdr")
        if (ihdr.isDefined)
          assert((d.width, d.height, d.bpp) === ((pw, ph, pd)),
            s"payload $id PNG fields disagree")
        assert((idat, ilen) === refIdat(bytes),
          s"payload $id IDAT find disagrees with the reference walk")
      } else {
        assert((d.kind === Some("jpeg")) === sof.isDefined,
          s"payload $id (${bytes.length} B): typed=${d.kind} declarative-sof=$sof")
        if (sof.isDefined)
          assert((d.width, d.height, d.bpp, d.channels) === ((jw, jh, jp, jn)),
            s"payload $id JPEG fields disagree")
      }
    }
    val off = WalkFolds.mismatches(payloads.toDF("media_id", "payload"),
      Seq("png", "jpeg"))
    assert(off.isEmpty, s"PNG/JPEG walks ≠ fold reference: ${off.take(3)}")
  }

  test("golden: NULL and empty payloads give a NULL walk") {
    val payloads = Seq[(Long, Array[Byte])]((1L, null), (2L, Array.emptyByteArray))
      .toDF("media_id", "payload")
    val walks = payloads.select(col("media_id"), GraftExtensions.call(payloads,
        "container_walks_of_binary", col("payload")))
      .collect().map(r => r.getLong(0) -> r.getAs[Row](1)).toMap
    // NULL payload: the walk struct itself is NULL; empty: every walk's
    // entry magic fails, so every sub-struct is NULL
    assert(walks(1L) === null)
    assert(walks(2L) === Row(null, null, null, null, null))
    val rows = Media.walkColumns(payloads).collect()
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("fmt_off")) &&
      r.isNullAt(r.fieldIndex("data_off"))))
    assert(WalkFolds.mismatches(payloads,
      Seq("riff", "png", "jpeg", "mp4", "sos")).isEmpty)
  }

  test("frameSample: stride-samples complete frames; short payloads emit none") {
    // 40-byte payload of 'a'..'(char 40)' → 2 complete 16-byte frames
    // (blocks 0 and 1); stride 4 samples only block 0. 5-byte payload →
    // no complete frame → no rows.
    val text40 = (0 until 40).map(i => ('a' + i % 26).toChar).mkString
    val out = Media.frameSample(docs(
      (1L, text40, "en", "s", 40L), (2L, "hello", "en", "s", 5L)))
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("frame_idx")) ->
        (r.getAs[String]("frame_hex"), r.getAs[Long]("frame_sum")))
    assert(out.length === 1)
    val ((id, idx), (hex16, sum)) = out.head
    assert(id === 1L && idx === 0L)
    val expectBytes = text40.take(16).map(_.toLong)
    assert(hex16 === text40.take(16).map(c => f"${c.toInt}%02X").mkString)
    assert(sum === expectBytes.sum)
  }

  test("mediaResize stride-downsamples bytes; empty payload resizes to empty") {
    val out = Media.mediaResize(docs(
      (1L, "abcdefgh", "en", "s", 8L), (2L, "", "en", "s", 0L)), stride = 4)
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_bytes"), r.getAs[String]("resized_hex"),
          r.getAs[Long]("n_resized_bytes"))).toMap
    // bytes 0 and 4 of "abcdefgh" = 'a' (61), 'e' (65)
    assert(out(1L) === (8L, "6165", 2L))
    assert(out(2L) === (0L, "", 0L))
  }

  test("media table keeps payload opaque binary with typed metadata") {
    val schema = Media.asMediaTable(docs(sample: _*)).schema
    assert(schema("payload").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
  }

  def hexOf(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString

  test("audioFrames golden: true frame size, stride sampling, sample-accurate t_us") {
    // doc_id 6 → WAV, channels 1, bits 8, rate 8000 → frame_bytes 1;
    // 10 data bytes → frames 0..9, stride 4 keeps 0, 4, 8
    // doc_id 11 → WAV, channels 2, bits 16, rate 48000 → frame_bytes 4;
    // 10 data bytes → 2 complete frames, stride 4 keeps only frame 0
    // doc_id 2 → raw payload: no rows; doc_id 5 → BMP: no rows
    val out = Media.audioFrames(docs(
      (6L, "abcdefghij", "en", "src0", 10L),
      (11L, "abcdefghij", "en", "src0", 10L),
      (2L, "abcdefghij", "en", "src0", 10L),
      (5L, "abcdefghij", "en", "src0", 10L)))
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("frame_idx")) ->
        (r.getAs[Long]("channels"), r.getAs[Long]("sample_rate"),
          r.getAs[Long]("bits"), r.getAs[Long]("t_us"),
          r.getAs[String]("frame_hex"))).toMap
    assert(out.keySet === Set((6L, 0L), (6L, 4L), (6L, 8L), (11L, 0L)))
    assert(out((6L, 0L)) === (1L, 8000L, 8L, 0L, hexOf("a")))
    assert(out((6L, 4L)) === (1L, 8000L, 8L, 500L, hexOf("e")))
    assert(out((6L, 8L)) === (1L, 8000L, 8L, 1000L, hexOf("i")))
    assert(out((11L, 0L)) === (2L, 48000L, 16L, 0L, hexOf("abcd")))
  }

  test("imageRows golden: aligned row stride, truncation clamp, scanline slices") {
    // doc_id 5 → BMP 6×6 @ 24 bpp → row stride ((24·6+31) div 32)·4 = 20;
    // 45 data bytes hold 2 complete rows of the declared 6 → clamp to 2,
    // stride 4 keeps row 0 only → the first 20 payload bytes verbatim
    val text45 = "0123456789" * 4 + "01234"
    val out = Media.imageRows(docs(
      (5L, text45, "en", "src0", 45L),
      (6L, text45, "en", "src0", 45L),    // WAV → no rows
      (2L, text45, "en", "src0", 45L)))   // raw → no rows
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("media_id") === 5L)
    assert((r.getAs[Long]("width"), r.getAs[Long]("height"),
      r.getAs[Long]("bpp"), r.getAs[Long]("row_bytes")) === (6L, 6L, 24L, 20L))
    assert(r.getAs[Long]("n_rows_avail") === 2L)
    assert(r.getAs[Long]("n_rows_out") === 1L)
    assert(r.getAs[String]("resized_hex") === hexOf(text45.take(20)))
  }

  test("imageRows: a payload holding every declared row keeps ceil(h/stride) rows") {
    // doc_id 10 → BMP 11×11 @ 24 bpp → row stride ((264+31) div 32)·4 = 36;
    // 11 rows × 36 = 396 data bytes supplied exactly → rows 0,4,8
    val full = "x" * 396
    val r = Media.imageRows(docs((10L, full, "en", "src0", full.length.toLong)))
      .collect().head
    assert((r.getAs[Long]("width"), r.getAs[Long]("height"),
      r.getAs[Long]("row_bytes")) === (11L, 11L, 36L))
    assert(r.getAs[Long]("n_rows_avail") === 11L)
    assert(r.getAs[Long]("n_rows_out") === 3L)
    assert(r.getAs[String]("resized_hex").length === 3 * 36 * 2)
  }

  test("golden: mediaDuration — mvhd v0/v1 ticks and WAV frames/rate") {
    // doc 14 (mp4, mvhd v0): ts = 600·(1+14%5) = 3000, dur = 1014 ticks
    // doc 34 (mp4 ext, mvhd v1): ts = 3000, dur = 1034 (high word zero)
    // doc 21 (wav, % 5 = 1): rate = 8000·(1+21%6) = 32000,
    //   ch = 1+21%2 = 2, bits = 8·(1+21%2) = 16 → frame = 4 bytes;
    //   8 text bytes → 2 complete frames → 2·10⁶ div 32000 = 62 µs
    val out = Media.mediaDuration(docs(
      (14L, "mdatbytes", "en", "s", 9L), (34L, "mdatbytes", "en", "s", 9L),
      (21L, "abcdefgh", "en", "s", 8L)))
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[String]("kind"), r.getAs[Long]("timescale"),
          r.getAs[Long]("n_units"), r.getAs[Long]("duration_us")))).toMap
    assert(out(14L) === (("mp4", 3000L, 1014L, 1014L * 1000000L / 3000L)))
    assert(out(34L) === (("mp4", 3000L, 1034L, 1034L * 1000000L / 3000L)))
    assert(out(21L) === (("wav", 32000L, 2L, 62L)))
  }
}
