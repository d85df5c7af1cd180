package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.ImageHash
import graft.streaming.MediaStream

/** Pins the streaming image-dedup admission gate to the batch
  * incremental pairing: same hash, same bands, same rescore — a
  * near-copy upload matches its corpus original at ingest exactly as
  * the nightly batch would pair it. */
class MediaStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val T: Long = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in ns

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
  private def bmp(w: Int, h: Int, pix: Array[Byte]): Array[Byte] =
    "BM".getBytes("US-ASCII") ++ le(54L + pix.length, 4) ++ le(0, 4) ++
      le(54, 4) ++ le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++
      le(24, 2) ++ Array.fill[Byte](24)(0) ++ pix
  private def rowBytes(w: Int): Int = ((24 * w + 31) / 32) * 4
  private def fill(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toByte }
  }

  test("streamed uploads match the persisted corpus sketch exactly as batch pairs them") {
    implicit val ctx = spark.sqlContext
    val w = 16; val h = 16; val rb = rowBytes(w)
    // corpus: three distinct images, persisted as the 8-byte sketch
    val corpusImgs = Seq(
      1L -> fill(rb * h, seed = 3L), 2L -> fill(rb * h, seed = 5L),
      3L -> fill(rb * h, seed = 7L))
    val corpusSk = ImageHash.ahashOfPayloads(
        corpusImgs.map { case (id, p) => (id, bmp(w, h, p)) }
          .toDF("media_id", "payload"))
      .select("media_id", "ahash").localCheckpoint()

    // uploads: a one-pixel edit of corpus image 2 (must match it), the
    // same upload sent twice (must emit once within the watermark), a
    // fresh image (no match), and a non-BMP payload (ineligible, silent)
    val nearCopy = corpusImgs(1)._2.clone(); nearCopy(rb * 4 + 9) = 55
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(
      (100L, bmp(w, h, nearCopy), T),
      (100L, bmp(w, h, nearCopy), T + 1000L),
      (101L, bmp(w, h, fill(rb * h, seed = 99L)), T),
      (102L, "not an image".getBytes("UTF-8"), T))
    val name = s"media_stream_${System.nanoTime()}"
    val q = MediaStream.matchStream(ImageHash,
        src.toDF().toDF("media_id", "payload", "ts"), corpusSk)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Long]("hamming")).toMap

    // ground truth: the pairing arithmetic applied at payload level
    // (ImageHash.incrementalPairs hashes documents via the fixture
    // synthesis, so the payload-level truth is spelled directly)
    val upSk = ImageHash.ahashOfPayloads(Seq(
        100L -> bmp(w, h, nearCopy),
        101L -> bmp(w, h, fill(rb * h, seed = 99L)))
      .toDF("media_id", "payload")).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash")).toMap
    val cSk = corpusSk.collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash")).toMap
    val expected = (for {
      (u, uh) <- upSk; (c, ch) <- cSk
      if (0 until 4).exists(m =>
        ((uh >> (m * 16)) & 0xFFFF) == ((ch >> (m * 16)) & 0xFFFF))
      d = java.lang.Long.bitCount(uh ^ ch).toLong if d <= 3
    } yield (u, c) -> d).toMap
    assert(got === expected)
    assert(got.contains((100L, 2L)), "the near-copy must match its original")
    assert(!got.keys.exists(_._1 == 101L), "a fresh image matches nothing")
    assert(!got.keys.exists(_._1 == 102L), "a non-image is silently ineligible")
    assert(got.keys.count(_ == ((100L, 2L))) === 1,
      "the double send collapses within the watermark")
  }

  test("streamed audio clips match the persisted corpus sketch as batch would") {
    implicit val ctx = spark.sqlContext
    def wav(rate: Int, samples: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le(36L + samples.length, 4) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(rate, 4) ++ le(rate, 4) ++
        le(1, 2) ++ le(8, 2) ++
        "data".getBytes("US-ASCII") ++ le(samples.length, 4) ++ samples
    val corpusClips = Seq(1L -> fill(400, 13L), 2L -> fill(400, 17L))
    val corpusSk = graft.multimodal.AudioHash.ahashOfPayloads(
        corpusClips.map { case (id, p) => (id, wav(8000, p)) }
          .toDF("media_id", "payload"))
      .select("media_id", "ahash").localCheckpoint()
    val nearCopy = corpusClips(0)._2.clone(); nearCopy(200) = 42
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(
      (100L, wav(8000, nearCopy), T),
      (101L, wav(8000, fill(400, 999L)), T),
      (102L, "not audio".getBytes("UTF-8"), T))
    val name = s"audio_stream_${System.nanoTime()}"
    val q = MediaStream.matchStream(graft.multimodal.AudioHash,
        src.toDF().toDF("media_id", "payload", "ts"), corpusSk)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Long]("hamming")).toMap
    val upSk = graft.multimodal.AudioHash.ahashOfPayloads(Seq(
        100L -> wav(8000, nearCopy), 101L -> wav(8000, fill(400, 999L)))
      .toDF("media_id", "payload")).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash")).toMap
    val cSk = corpusSk.collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash")).toMap
    val expected = (for {
      (u, uh) <- upSk; (c, ch) <- cSk
      if (0 until 4).exists(m =>
        ((uh >> (m * 16)) & 0xFFFF) == ((ch >> (m * 16)) & 0xFFFF))
      d = java.lang.Long.bitCount(uh ^ ch).toLong if d <= 3
    } yield (u, c) -> d).toMap
    assert(got === expected)
    assert(got.contains((100L, 1L)), "the one-sample edit must match its original")
    assert(!got.keys.exists(t => t._1 == 101L || t._1 == 102L))
  }

  test("streamed videos match the persisted corpus sketch as batch would") {
    implicit val ctx = spark.sqlContext
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    val matrix = be(0x00010000L, 4) ++ be(0, 4) ++ be(0, 4) ++ be(0, 4) ++
      be(0x00010000L, 4) ++ be(0, 4) ++ be(0, 4) ++ be(0, 4) ++
      be(0x40000000L, 4)
    def mp4(content: Array[Byte], mdur: Long): Array[Byte] = {
      val mvhd = be(108, 4) ++ "mvhd".getBytes("US-ASCII") ++ be(0, 4) ++
        be(0, 4) ++ be(0, 4) ++ be(600, 4) ++ be(mdur, 4) ++
        be(0x00010000L, 4) ++ be(0x0100L, 2) ++ Array.fill[Byte](10)(0) ++
        matrix ++ Array.fill[Byte](24)(0) ++ be(2, 4)
      val tkhd = be(92, 4) ++ "tkhd".getBytes("US-ASCII") ++ be(7, 4) ++
        be(0, 4) ++ be(0, 4) ++ be(1, 4) ++ be(0, 4) ++ be(0, 4) ++
        Array.fill[Byte](16)(0) ++ matrix ++ be(640L << 16, 4) ++
        be(480L << 16, 4)
      be(16, 4) ++ "ftyp".getBytes("US-ASCII") ++
        "isom".getBytes("US-ASCII") ++ be(0, 4) ++
        be(216, 4) ++ "moov".getBytes("US-ASCII") ++ mvhd ++
        be(100, 4) ++ "trak".getBytes("US-ASCII") ++ tkhd ++
        be(8L + content.length, 4) ++ "mdat".getBytes("US-ASCII") ++ content
    }
    val corpusVids = Seq(1L -> fill(500, 13L), 2L -> fill(500, 17L))
    val corpusSk = graft.multimodal.VideoHash.ahashOfPayloads(
        corpusVids.map { case (id, c) => (id, mp4(c, 1000L)) }
          .toDF("media_id", "payload"))
      .select("media_id", "ahash").localCheckpoint()
    // a METADATA-edited re-upload of corpus video 1 (same mdat, new
    // mvhd duration — must match at Hamming 0), a fresh video, junk
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(
      (100L, mp4(corpusVids(0)._2, 99999L), T),
      (101L, mp4(fill(500, 999L), 1000L), T),
      (102L, "not a video".getBytes("UTF-8"), T))
    val name = s"video_stream_${System.nanoTime()}"
    val q = MediaStream.matchStream(graft.multimodal.VideoHash,
        src.toDF().toDF("media_id", "payload", "ts"), corpusSk)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Long]("hamming")).toMap
    assert(got === Map((100L, 1L) -> 0L),
      "the metadata-edited re-upload matches its original at Hamming 0, " +
        "fresh/junk uploads match nothing")
  }

  test("composed admission gate: stream verdict rows are bit-identical to the incremental shard verdict") {
    // r16 directive #1 — the streaming face of incrementalMediaKeep:
    // arriving payloads get the FULL five-kind keep verdict against the
    // persisted MediaCorpusState by stateless stream-static probes; the
    // only state is the (media_id, event_time) collision collapse. The
    // shard has no intra-shard duplicate relations (each payload
    // independent) — the slice of the batch contract a bounded-state
    // stream owns; intra-stream pairs stay the nightly batch's job,
    // the DocStream line. Rows must equal incrementalOfPayloads on the
    // SAME payloads and state, bit for bit.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val w = 16; val h = 16; val rb = rowBytes(w)
    val pixA = fill(rb * h, 3L)
    val pixEdit = pixA.clone(); pixEdit(rb * 4 + 9) = 55
    val pixEdit2 = pixA.clone(); pixEdit2(rb * 6 + 3) = 77
    def wav(rate: Int, samples: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le(36L + samples.length, 4) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(rate, 4) ++ le(rate, 4) ++
        le(1, 2) ++ le(8, 2) ++
        "data".getBytes("US-ASCII") ++ le(samples.length, 4) ++ samples
    def gif(content: Array[Byte]): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++ le(240, 2) ++ le(180, 2) ++
        Array[Byte](0x91.toByte, 0, 0) ++ content ++ Array[Byte](0x3b)
    val corpus = Seq[(Long, Array[Byte])](
      10L -> bmp(w, h, pixA), // keeper + content-cluster rep
      20L -> bmp(w, h, pixA), // corpus exact copy
      30L -> bmp(w, h, pixEdit), // corpus content dup of 10
      32L -> wav(8000, fill(400, 7L)), // unrelated clip
      34L -> gif(fill(100, 50L))) // GIF: exact-fp coverage only
    val st = graft.multimodal.MediaKeep.corpusStateOfPayloads(
      corpus.toDF("media_id", "payload"))
    val shard = Seq[(Long, Array[Byte])](
      5L -> bmp(w, h, pixA), // fp known; shard id < corpus keeper 10
      41L -> bmp(w, h, pixEdit2), // near-dup bridge into 10's cluster
      43L -> wav(8000, fill(380, 21L)), // new fingerprint → clean keep
      45L -> "no container here".getBytes("UTF-8"), // raw
      47L -> gif(fill(100, 50L))) // exact GIF copy: dup of an
        // ineligible corpus keeper — exact gate without content gate
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(shard.map { case (id, p) => (id, p, T) }: _*)
    val name = s"media_keep_stream_${System.nanoTime()}"
    val q = graft.streaming.MediaStream.mediaKeepStream(
        src.toDF().toDF("media_id", "payload", "ts"), st)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // append-mode aggregation emits a group only once the watermark
      // passes its event time: push a late dummy payload to advance the
      // watermark past T (the dummy's own group stays pending)
      src.addData((999L, Array[Byte](1, 2, 3), T + 3L * 3600L * 1000000000L))
      q.processAllAvailable()
    } finally q.stop()
    def sixCols(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[String]("kind"), r.getAs[Boolean]("eligible"),
          r.getAs[Boolean]("is_exact_dup"),
          r.getAs[Boolean]("is_content_dup"),
          r.getAs[Boolean]("keep")))).toMap
    val got = sixCols(spark.table(name)
      .filter(col("media_id") =!= 999L).collect())
    val batch = sixCols(graft.multimodal.MediaKeep.incrementalOfPayloads(
      shard.toDF("media_id", "payload"), st).collect())
    assert(got === batch,
      "the stream verdict must be bit-identical to the incremental face")
    // and the gates landed where designed, not vacuously
    assert(got(5L) === (("bmp", true, false, false, true)),
      "a shard id below the corpus keeper is the merged keeper at ingest")
    assert(got(41L)._4 === true, "the near-dup bridge is a content dup")
    assert(got(43L) === (("wav", true, false, false, true)))
    assert(got(45L) === (("raw", false, false, false, false)))
    assert(got(47L) === (("gif", false, true, true, false)),
      "an exact copy of an ineligible GIF keeper: exact gate fires, " +
        "content identity stays absent")
  }

  test("best-policy stream face: bit-identical to the incremental best verdict; an intact arrival beats the truncated corpus best") {
    // the batch best-policy plant, streamed: constant content bytes so
    // cut and intact spans hash EQUAL and pair, while the quality
    // metrics differ — the arriving INTACT copy must be crowned over
    // the truncated corpus best (keep=true) exactly where the min-id
    // face calls it a content dup (keep=false)
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    def jpg(c: Array[Byte], eoi: Boolean = true): Array[Byte] = {
      val app0 = be(0xFFE0L, 2) ++ be(16, 2) ++
        "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
        be(0x48, 2) ++ be(0x48, 2) ++ be(0, 2)
      val sof = be(0xFFC0L, 2) ++ be(11, 2) ++ Array[Byte](8) ++
        be(32, 2) ++ be(32, 2) ++ Array[Byte](1, 1, 0x11, 0)
      val sos = be(0xFFDAL, 2) ++ be(8, 2) ++
        Array[Byte](1, 1, 0, 0, 0x3F, 0)
      be(0xFFD8L, 2) ++ app0 ++ sof ++ sos ++ c ++
        (if (eoi) be(0xFFD9L, 2) else Array.emptyByteArray)
    }
    def wav(rate: Int, samples: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le(36L + samples.length, 4) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le(16, 4) ++ le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++ le(8000, 4) ++
        le(1, 2) ++ le(8, 2) ++
        "data".getBytes("US-ASCII") ++ le(samples.length, 4) ++ samples
    val cutJpg = jpg(Array.fill[Byte](256)(100), eoi = false)
    val intactJpg = jpg(Array.fill[Byte](320)(100))
    val corpus = Seq[(Long, Array[Byte])](
      1L -> cutJpg, // jpeg cluster best: (n_units 256, id 1)
      4L -> wav(8000, Array.fill[Byte](250)(55))) // wav best: short clip
    val st = graft.multimodal.MediaKeep.corpusStateOfPayloads(
      corpus.toDF("media_id", "payload"))
    val shard = Seq[(Long, Array[Byte])](
      41L -> intactJpg, // n_units 320 > 256: crowned under best
      43L -> wav(8000, Array.fill[Byte](400)(55)), // longer clip wins
      45L -> cutJpg, // byte-identical re-upload: exact dup under both
      47L -> "just bytes".getBytes("UTF-8")) // raw
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(shard.map { case (id, p) => (id, p, T) }: _*)
    val name = s"media_keep_best_stream_${System.nanoTime()}"
    val q = graft.streaming.MediaStream.mediaKeepBestStream(
        src.toDF().toDF("media_id", "payload", "ts"), st)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      src.addData((999L, Array[Byte](1, 2, 3), T + 3L * 3600L * 1000000000L))
      q.processAllAvailable()
    } finally q.stop()
    def sixCols(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[String]("kind"), r.getAs[Boolean]("eligible"),
          r.getAs[Boolean]("is_exact_dup"),
          r.getAs[Boolean]("is_content_dup"),
          r.getAs[Boolean]("keep")))).toMap
    val got = sixCols(spark.table(name)
      .filter(col("media_id") =!= 999L).collect())
    val batch = sixCols(graft.multimodal.MediaKeep.incrementalBestOfPayloads(
      shard.toDF("media_id", "payload"), st).collect())
    assert(got === batch,
      "the stream best verdict must be bit-identical to the " +
        "incremental best face")
    assert(got(41L) === (("jpeg", true, false, false, true)),
      "the intact arrival outranks the truncated corpus best")
    assert(got(43L) === (("wav", true, false, false, true)),
      "the longer clip wins the wav cluster under the duration metric")
    assert(got(45L)._3 === true && got(45L)._5 === false,
      "a byte-identical re-upload never survives under either policy")
    assert(got(47L) === (("raw", false, false, false, false)))
    // the min-id face over the same arrivals calls the intact copy a
    // content dup — the two policies disagree exactly where designed
    val minBatch = sixCols(graft.multimodal.MediaKeep.incrementalOfPayloads(
      shard.toDF("media_id", "payload"), st).collect())
    assert(minBatch(41L)._4 === true && minBatch(41L)._5 === false,
      "min policy crowns the truncated smaller id instead")
  }

  test("streamed PNGs/JPEGs match the persisted corpus sketch per format") {
    implicit val ctx = spark.sqlContext
    def be(v: Long, n: Int): Array[Byte] =
      (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] =
      be(payload.length, 4) ++ typ.getBytes("US-ASCII") ++ payload ++ be(0, 4)
    def png(c: Array[Byte], anc: Boolean): Array[Byte] =
      pngSig ++
        (if (anc) chunk("tEXt", "keyA1".getBytes("US-ASCII"))
         else Array.emptyByteArray) ++
        chunk("IHDR", be(32, 4) ++ be(32, 4) ++ Array[Byte](8, 2, 0, 0, 0)) ++
        chunk("IDAT", c) ++ chunk("IEND", Array.emptyByteArray)
    def jpg(c: Array[Byte]): Array[Byte] = {
      val app0 = be(0xFFE0L, 2) ++ be(16, 2) ++
        "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
        be(0x48, 2) ++ be(0x48, 2) ++ be(0, 2)
      val sof = be(0xFFC0L, 2) ++ be(11, 2) ++ Array[Byte](8) ++
        be(32, 2) ++ be(32, 2) ++ Array[Byte](1, 1, 0x11, 0)
      val sos = be(0xFFDAL, 2) ++ be(8, 2) ++ Array[Byte](1, 1, 0, 0, 0x3F, 0)
      be(0xFFD8L, 2) ++ app0 ++ sof ++ sos ++ c ++ be(0xFFD9L, 2)
    }
    val c1 = fill(300, 13L); val c2 = fill(300, 17L)
    // corpus: one PNG (content c1) and one JPEG (content c2)
    val corpusSk = graft.multimodal.CompressedImageHash.ahashOfPayloads(
        Seq(1L -> png(c1, anc = false), 2L -> jpg(c2))
          .toDF("media_id", "payload"))
      .select("media_id", "kind", "ahash").localCheckpoint()
    // uploads: c1 re-uploaded as a PNG with tEXt churn (matches 1), c1
    // AS A JPEG (same span bytes — must NOT match the PNG history), junk
    val src = MemoryStream[(Long, Array[Byte], Long)]
    src.addData(
      (100L, png(c1, anc = true), T),
      (101L, jpg(c1), T),
      (102L, "not an image".getBytes("UTF-8"), T))
    val name = s"cimage_stream_${System.nanoTime()}"
    val q = MediaStream.matchStream(graft.multimodal.CompressedImageHash,
        src.toDF().toDF("media_id", "payload", "ts"), corpusSk)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Long]("hamming")).toMap
    assert(got === Map((100L, 1L) -> 0L),
      "tEXt churn matches its original at Hamming 0; the SAME bytes as " +
        "a different format match nothing; junk is silently ineligible")
  }
}
