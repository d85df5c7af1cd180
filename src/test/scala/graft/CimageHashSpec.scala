package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.CompressedImageHash

/** Pins the compressed-image (PNG/JPEG) content-hash family: bit-parity
  * with a plain-Scala reference on both formats, metadata-churn
  * invariance (tEXt ancillary chunk / COM segment), the truncation
  * clamp, eligibility, and the per-format pairing discipline. */
class CimageHashSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def be(v: Long, n: Int): Array[Byte] =
    (0 until n).map(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte).toArray

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  private def chunk(typ: String, payload: Array[Byte]): Array[Byte] =
    be(payload.length, 4) ++ typ.getBytes("US-ASCII") ++ payload ++ be(0, 4)

  /** Real PNG: sig + [tEXt] + IHDR + IDAT(content) + IEND. */
  private def png(w: Int, h: Int, content: Array[Byte],
      anc: Boolean = false,
      declaredLen: Option[Int] = None): Array[Byte] = {
    val ihdr = chunk("IHDR", be(w, 4) ++ be(h, 4) ++
      Array[Byte](8, 2, 0, 0, 0))
    val idat = be(declaredLen.getOrElse(content.length).toLong, 4) ++
      "IDAT".getBytes("US-ASCII") ++ content ++ be(0, 4)
    val anc0 = if (anc) chunk("tEXt", "keyA1".getBytes("US-ASCII"))
      else Array.emptyByteArray
    PngSig ++ anc0 ++ ihdr ++ idat ++ chunk("IEND", Array.emptyByteArray)
  }

  /** Real JPEG: SOI + APP0 + [COM] + SOF0(1 comp) + SOS(1 comp) +
    * entropy(content) + EOI. */
  private def jpg(w: Int, h: Int, content: Array[Byte],
      com: Boolean = false, eoi: Boolean = true): Array[Byte] = {
    val app0 = be(0xFFE0L, 2) ++ be(16, 2) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
      be(0x48, 2) ++ be(0x48, 2) ++ be(0, 2)
    val comSeg = if (com) be(0xFFFEL, 2) ++ be(9, 2) ++
      "graft14".getBytes("US-ASCII") else Array.emptyByteArray
    val sof = be(0xFFC0L, 2) ++ be(11, 2) ++ Array[Byte](8) ++
      be(h, 2) ++ be(w, 2) ++ Array[Byte](1, 1, 0x11, 0)
    val sos = be(0xFFDAL, 2) ++ be(8, 2) ++
      Array[Byte](1, 1, 0, 0, 0x3F, 0)
    be(0xFFD8L, 2) ++ app0 ++ comSeg ++ sof ++ sos ++ content ++
      (if (eoi) be(0xFFD9L, 2) else Array.emptyByteArray)
  }

  private def fill(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toByte }
  }

  /** Plain Scala reference of the span-hash arithmetic. */
  private def refAhash(span: Array[Byte]): Option[Long] = {
    val n = span.length.toLong
    if (n < 64) return None
    val bs = (0 until 64).map(k => span(((k * n) / 64).toInt) & 0xffL)
    val tot = bs.sum
    Some(bs.zipWithIndex.map { case (b, k) =>
      if (64 * b > tot) 1L << k else 0L }.sum)
  }

  private def payloads(rows: (Long, Array[Byte])*) =
    rows.toSeq.toDF("media_id", "payload")

  test("both formats match the plain-Scala reference bit-for-bit") {
    val c1 = fill(200, 5L); val c2 = fill(777, 7L)
    val got = CompressedImageHash.ahashOfPayloads(payloads(
        1L -> png(32, 32, c1), 2L -> jpg(32, 32, c2)))
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[String]("kind"), r.getAs[Long]("n_units"),
          r.getAs[Long]("ahash")))).toMap
    assert(got(1L) === (("png", c1.length.toLong, refAhash(c1).get)))
    assert(got(2L) === (("jpeg", c2.length.toLong, refAhash(c2).get)))
  }

  test("metadata churn (tEXt / COM) is invisible to the content hash") {
    val c = fill(300, 17L)
    val out = CompressedImageHash.ahashOfPayloads(payloads(
        1L -> png(32, 32, c), 2L -> png(640, 480, c, anc = true),
        3L -> jpg(32, 32, c), 4L -> jpg(640, 480, c, com = true)))
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash"))
      .toMap
    assert(out(1L) === out(2L),
      "an ancillary tEXt chunk + new dims must not move the PNG hash")
    assert(out(3L) === out(4L),
      "a COM segment + new dims must not move the JPEG hash")
  }

  test("eligibility and the truncation clamp") {
    val c = fill(100, 23L)
    val cutPng = { val full = png(32, 32, c, declaredLen = Some(100))
      full.take(full.length - 12 - 4 - 20) } // IEND + CRC + 20 content bytes
    val out = CompressedImageHash.ahashOfPayloads(payloads(
        1L -> png(32, 32, fill(63, 3L)), // too-short content
        2L -> cutPng, // declared 100, 80 present → clamps
        3L -> jpg(32, 32, c, eoi = false), // truncated: no EOI
        4L -> (PngSig ++ chunk("IEND", Array.emptyByteArray)), // no IDAT
        5L -> "not an image at all".getBytes("UTF-8")))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_units"), r.getAs[Long]("ahash"))).toMap
    assert(!out.contains(1L) && !out.contains(4L) && !out.contains(5L))
    assert(out(2L)._1 === 80L)
    assert(out(2L)._2 === refAhash(c.take(80)).get,
      "the clamped PNG hash votes over the IDAT bytes actually present")
    assert(out(3L)._1 === 100L)
    assert(out(3L)._2 === refAhash(c).get,
      "a truncated JPEG (no EOI) hashes its full remaining entropy bytes")
  }

  test("property: SOS declarative walk ≡ imperative walk on random segment soups") {
    val rnd = new scala.util.Random(61)
    def seg(): Array[Byte] = rnd.nextInt(7) match {
      case 0 => // proper SOS — the terminal find
        be(0xFFDAL, 2) ++ be(8, 2) ++ Array[Byte](1, 1, 0, 0, 0x3F, 0) ++
          Array.fill[Byte](rnd.nextInt(30))(rnd.nextInt(256).toByte)
      case 1 => // SOFn — an ordinary hop HERE (the dimension walk stops)
        val nc = 1 + rnd.nextInt(3)
        Array(0xff.toByte, Seq(0xc0, 0xc1, 0xc2)(rnd.nextInt(3)).toByte) ++
          be(8 + 3 * nc, 2) ++ Array[Byte](8) ++ be(1 + rnd.nextInt(999), 2) ++
          be(1 + rnd.nextInt(999), 2) ++ Array[Byte](nc.toByte) ++
          Array.fill[Byte](3 * nc)(0x11)
      case 2 => // APPn/COM/DQT with random payload
        val n = rnd.nextInt(12)
        Array(0xff.toByte,
          Seq(0xe0 + rnd.nextInt(16), 0xfe, 0xdb)(rnd.nextInt(3)).toByte) ++
          be(n + 2, 2) ++ Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      case 3 => // standalone marker (no length)
        Array(0xff.toByte, Seq(0x01, 0xd0, 0xd4, 0xd8)(rnd.nextInt(4)).toByte)
      case 4 => // malformed length < 2 → walk must stop
        Array(0xff.toByte, 0xc4.toByte) ++ be(rnd.nextInt(2), 2)
      case 5 => // EOI → stop
        Array(0xff.toByte, 0xd9.toByte) ++
          Array.fill[Byte](rnd.nextInt(5))(9)
      case _ => // garbage (not FF-led)
        Array.fill[Byte](2 + rnd.nextInt(6))(rnd.nextInt(256).toByte)
    }
    // imperative reference: hop segments (SOFn included) to the first
    // FFDA, answer = the byte after its header; 8 bounded steps
    def refSos(bytes: Array[Byte]): Option[Long] = {
      def beL(off: Int, n: Int) =
        (0 until n).map(k => (bytes(off + k) & 0xffL) << (8 * (n - 1 - k))).sum
      if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
          (bytes(1) & 0xff) != 0xd8) return None
      var off = 2L; var k = 0
      val standalone = Set(0x01) ++ (0xd0 to 0xd8)
      // budget shared with the production fold (r14 advice)
      while (k < graft.multimodal.ContainerWalk.SosWalkChunks && bytes.length >= off + 4) {
        val m1 = bytes(off.toInt) & 0xff
        val m2 = bytes(off.toInt + 1) & 0xff
        if (m1 == 0xff && m2 == 0xda) {
          val len = beL(off.toInt + 2, 2)
          return if (len >= 2) Some(off + 2 + len) else None
        } else if (m1 == 0xff && standalone(m2)) off += 2
        else if (m1 == 0xff && m2 != 0xd9) {
          val len = beL(off.toInt + 2, 2)
          if (len >= 2) off += 2 + len else return None
        } else return None
        k += 1
      }
      None
    }
    val payloads: Seq[(Long, Array[Byte])] = (0 until 200).map { i =>
      val full = Array(0xff.toByte, 0xd8.toByte) ++
        (0 until rnd.nextInt(8)).flatMap(_ => seg()).toArray
      val cut = if (rnd.nextInt(4) == 0 && full.length > 2)
        full.take(2 + rnd.nextInt(full.length - 2)) else full
      (i.toLong, cut)
    }
    val declared = CompressedImageHash.sosColumns(
        payloads.toDF("media_id", "payload"))
      .collect().map(r => r.getAs[Long]("media_id") ->
        Option(r.getAs[java.lang.Long]("sos_data")).map(_.toLong)).toMap
    var found = 0
    for ((id, bytes) <- payloads) {
      assert(declared(id) === refSos(bytes),
        s"payload $id (${bytes.length} B): SOS find disagrees")
      if (declared(id).isDefined) found += 1
    }
    assert(found > 10, s"only $found/200 soups resolved — generator too hostile")
    // the walker against the interpreted-fold reference
    val off = graft.multimodal.WalkFolds.mismatches(
      payloads.toDF("media_id", "payload"), Seq("sos"))
    assert(off.isEmpty, s"SOS walk ≠ fold reference: ${off.take(3)}")
  }

  test("one-byte edits pair within a format; identical spans never pair across formats") {
    val base = fill(400, 31L)
    val oneEdit = base.clone(); oneEdit(123) = 99
    val pairs = CompressedImageHash.dupPairsOfPayloads(payloads(
        1L -> png(32, 32, base), 2L -> png(16, 16, oneEdit, anc = true),
        3L -> jpg(32, 32, base), // SAME span bytes as 1 — but a JPEG
        4L -> png(32, 32, fill(400, 3131L))))
      .collect().map(r => (r.getAs[Long]("pic_a"), r.getAs[Long]("pic_b")))
      .toSet
    assert(pairs.contains((1L, 2L)),
      "a one-byte edit behind metadata churn must pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "identical content bytes in a DIFFERENT format never pair " +
        "(per-format band discipline)")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("best-copy survivor: the intact copy beats its truncated re-upload") {
    // constant content bytes: every probe reads the same value whatever
    // the span length, so the intact JPEG and its truncated re-upload
    // hash EQUAL (Hamming 0) and pair — but their n_units differ
    val intact = jpg(32, 32, Array.fill[Byte](320)(100))
    val cut = jpg(32, 32, Array.fill[Byte](256)(100), eoi = false)
    val other = png(32, 32, fill(300, 555L))
    val got = CompressedImageHash.dupClustersBestOfPayloads(payloads(
        1L -> cut, 2L -> intact, 3L -> other))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(got(1L) === ((1L, false)),
      "cluster_id stays the component min, but the truncated copy loses")
    assert(got(2L) === ((1L, true)),
      "the intact larger-id copy is canonical under the n_units policy")
    assert(got(3L) === ((3L, true)), "singleton stays its own canonical")
  }
}
