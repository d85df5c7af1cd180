package graft.multimodal

/** The five bounded container walks, on actual payload bytes — the one
  * walker behind both the typed decoder ([[Media.realDecode]]) and every
  * Spark plan (the `container_walks_of_binary` expression,
  * [[graft.functions.ContainerWalksOfBinary]]). The DuckDB oracle keeps
  * its own spelling of the same rules as chained CTEs
  * ([[Media.walkCteSql]], [[Media.pngCteSql]], [[Media.mp4CteSql]], the
  * JPEG and SOS chains).
  *
  * Every walk shares one discipline:
  *  - it starts only on its entry magic (a `None` result: the payload is
  *    not this container);
  *  - it inspects at most its step bound of chunk / box / segment
  *    headers, and stops when the next header would cross the end;
  *  - the FIRST match of each tracked find wins, and the walk keeps
  *    going after a find (a later find may still be pending);
  *  - a find is trusted only when its fixed-size payload is complete.
  *
  * Offsets are payload byte offsets as `Long` (a declared 32-bit size
  * can carry the walk far past `Int` range; bytes are only read at
  * offsets the length check has proven in range). Every field is an
  * unsigned integer, `None` when its find is absent.
  */
object ContainerWalk {

  /** RIFF and PNG chunks inspected before giving up — covers the
    * canonical layout plus LIST/fact/cue /bext (RIFF) or misplaced
    * ancillary chunks (PNG) in front of the finds; also the JPEG
    * dimension walk's bound. */
  private[graft] val WalkChunks = 6

  /** MP4 walks descend, so the bound covers
    * ftyp · free · moov↓ · mvhd · udta · trak↓ · tkhd · mdat with
    * headroom. */
  private[graft] val Mp4WalkChunks = 10

  /** JPEG segments hopped on the way to the first SOS (SOFn, DHT and
    * DQT are ordinary hops there). */
  private[graft] val SosWalkChunks = 8

  /** RIFF/WAVE: the first complete `fmt ` chunk (16-byte payload) and
    * the first `data` chunk, plus the `fmt ` fields. */
  final case class Riff(fmtOff: Option[Long], dataOff: Option[Long],
      dataLen: Option[Long], channels: Option[Long],
      sampleRate: Option[Long], bits: Option[Long])

  /** PNG: the first complete `IHDR` (13-byte payload) with its fields,
    * and the first `IDAT` (payload offset + declared length). */
  final case class Png(ihdrOff: Option[Long], w: Option[Long],
      ht: Option[Long], depth: Option[Long], ctype: Option[Long],
      idatOff: Option[Long], idatLen: Option[Long])

  /** JPEG: the first readable SOF0/1/2 frame header and its fields. */
  final case class Jpeg(sofOff: Option[Long], prec: Option[Long],
      ht: Option[Long], w: Option[Long], ncomp: Option[Long])

  /** MP4: the first complete `tkhd` (width/height, 16.16 integer part),
    * the first complete `mvhd` (timescale, duration in ticks), and the
    * first `mdat` (payload offset + declared length). */
  final case class Mp4(tkhdOff: Option[Long], w: Option[Long],
      ht: Option[Long], mvhdOff: Option[Long], mts: Option[Long],
      mdur: Option[Long], mdatOff: Option[Long], mdatLen: Option[Long])

  /** JPEG entropy stream: the first byte after the first SOS header. */
  final case class Sos(sdata: Option[Long])

  private def le(b: Array[Byte], off: Long, n: Int): Long = {
    var v = 0L
    var k = n - 1
    while (k >= 0) { v = (v << 8) | (b(off.toInt + k) & 0xffL); k -= 1 }
    v
  }

  private def be(b: Array[Byte], off: Long, n: Int): Long = {
    var v = 0L
    var k = 0
    while (k < n) { v = (v << 8) | (b(off.toInt + k) & 0xffL); k += 1 }
    v
  }

  private def ascii(b: Array[Byte], off: Long, s: String): Boolean =
    b.length >= off + s.length &&
      s.indices.forall(i => (b(off.toInt + i) & 0xff) == s.charAt(i).toInt)

  private def found(off: Long): Option[Long] =
    if (off >= 0) Some(off) else None

  /** A field read at a found offset. */
  private def at(off: Long)(read: Long => Long): Option[Long] =
    found(off).map(read)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** A marker with no length field: TEM, RST0-7 and a stray SOI. */
  private def standalone(m2: Int): Boolean =
    m2 == 0x01 || (m2 >= 0xd0 && m2 <= 0xd8)

  /** (chunk id, uint32 LE size) pairs from byte 12, hopping
    * size + pad (odd payloads are padded to even). */
  def riff(b: Array[Byte]): Option[Riff] =
    if (b.length < 44 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE")) None
    else {
      var off = 12L
      var fmt = -1L
      var data = -1L
      var dataLen = -1L
      var k = 0
      while (k < WalkChunks && b.length >= off + 8) {
        val sz = le(b, off + 4, 4)
        if (fmt < 0 && ascii(b, off, "fmt ") && sz >= 16 && b.length >= off + 24)
          fmt = off + 8
        if (data < 0 && ascii(b, off, "data")) { data = off + 8; dataLen = sz }
        off += 8 + sz + sz % 2
        k += 1
      }
      Some(Riff(found(fmt), found(data), found(dataLen),
        at(fmt)(f => le(b, f + 2, 2)), at(fmt)(f => le(b, f + 4, 4)),
        at(fmt)(f => le(b, f + 14, 2))))
    }

  /** uint32 BE length + 4-byte type + payload + 4-byte CRC chunks from
    * byte 8 (no padding). */
  def png(b: Array[Byte]): Option[Png] =
    if (b.length < 16 || !PngSig.indices.forall(i => (b(i) & 0xff) == PngSig(i))) None
    else {
      var off = 8L
      var ihdr = -1L
      var idat = -1L
      var idatLen = -1L
      var k = 0
      while (k < WalkChunks && b.length >= off + 8) {
        val len = be(b, off, 4)
        if (ihdr < 0 && ascii(b, off + 4, "IHDR") && len >= 13 && b.length >= off + 21)
          ihdr = off + 8
        if (idat < 0 && ascii(b, off + 4, "IDAT")) { idat = off + 8; idatLen = len }
        off += 12 + len
        k += 1
      }
      Some(Png(found(ihdr), at(ihdr)(be(b, _, 4)), at(ihdr)(i => be(b, i + 4, 4)),
        at(ihdr)(i => be(b, i + 8, 1)), at(ihdr)(i => be(b, i + 9, 1)),
        found(idat), found(idatLen)))
    }

  /** 0xFF-marker segments with uint16 BE lengths (which count their own
    * two bytes) from byte 2: hops APPn/COM/DQT/DHT/DRI, steps over
    * standalone markers, stops at EOI/SOS/garbage or a length < 2, and
    * resolves at SOF0/1/2, whose frame header (precision, height, width,
    * components: 6 bytes past the length) must be readable. */
  def jpeg(b: Array[Byte]): Option[Jpeg] =
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) None
    else {
      var off = 2L
      var sof = -1L
      var stop = false
      var k = 0
      while (k < WalkChunks && !stop && b.length >= off + 4) {
        val m1 = b(off.toInt) & 0xff
        val m2 = b(off.toInt + 1) & 0xff
        if (m1 == 0xff && (m2 == 0xc0 || m2 == 0xc1 || m2 == 0xc2)) {
          if (b.length >= off + 10) sof = off + 4
          stop = true
        } else if (m1 == 0xff && standalone(m2)) off += 2
        else if (m1 == 0xff && m2 != 0xd9 && m2 != 0xda) {
          val len = be(b, off + 2, 2)
          if (len >= 2) off += 2 + len else stop = true
        } else stop = true
        k += 1
      }
      Some(Jpeg(found(sof), at(sof)(be(b, _, 1)), at(sof)(s => be(b, s + 1, 2)),
        at(sof)(s => be(b, s + 3, 2)), at(sof)(s => be(b, s + 5, 1))))
    }

  /** uint32 BE size + 4-byte type boxes from byte 0: `moov` and `trak`
    * DESCEND into their payload, every other box hops by its size, and a
    * size < 8 (no forward progress) stops the walk. A `tkhd` is complete
    * at 84 payload bytes (version 0) or 96 (version 1); an `mvhd` at 100
    * or 112. */
  def mp4(b: Array[Byte]): Option[Mp4] =
    if (b.length < 12 || !ascii(b, 4, "ftyp")) None
    else {
      var off = 0L
      var tkhd = -1L
      var mvhd = -1L
      var mdat = -1L
      var mdatLen = -1L
      var stop = false
      var k = 0
      // the version byte of a box at `off`, when the payload has one
      def complete(v0: Int, v1: Int): Boolean = b.length >= off + 9 &&
        b.length >= off + 8 + (if (be(b, off + 8, 1) == 1) v1 else v0)
      while (k < Mp4WalkChunks && !stop && b.length >= off + 8) {
        val sz = be(b, off, 4)
        if (tkhd < 0 && ascii(b, off + 4, "tkhd") && complete(84, 96)) tkhd = off + 8
        if (mvhd < 0 && ascii(b, off + 4, "mvhd") && complete(100, 112)) mvhd = off + 8
        if (mdat < 0 && ascii(b, off + 4, "mdat") && sz >= 8) {
          mdat = off + 8; mdatLen = sz - 8
        }
        if (ascii(b, off + 4, "moov") || ascii(b, off + 4, "trak")) off += 8
        else if (sz >= 8) off += sz
        else stop = true
        k += 1
      }
      // tkhd width/height follow the 36-byte matrix; mvhd timescale and
      // duration follow creation/modification times, whose width is
      // what the version changes. A v1 duration is 64-bit: its low word
      // is read when the high word is zero, NULL otherwise.
      def v1(p: Long) = be(b, p, 1) == 1
      def woff(t: Long) = t + (if (v1(t)) 88 else 76)
      Some(Mp4(found(tkhd), at(tkhd)(t => be(b, woff(t), 4) / 65536),
        at(tkhd)(t => be(b, woff(t) + 4, 4) / 65536),
        found(mvhd), at(mvhd)(m => be(b, m + (if (v1(m)) 20 else 12), 4)),
        found(mvhd).flatMap(m =>
          if (!v1(m)) Some(be(b, m + 16, 4))
          else if (be(b, m + 24, 4) == 0) Some(be(b, m + 28, 4))
          else None),
        found(mdat), found(mdatLen)))
    }

  /** The JPEG marker hop of [[jpeg]] with a different terminal: SOFn
    * segments are ordinary hops, and the walk resolves at the first SOS
    * (FFDA) with a length ≥ 2, recording where its header ENDS. */
  def sos(b: Array[Byte]): Option[Sos] =
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) None
    else {
      var off = 2L
      var sdata = -1L
      var stop = false
      var k = 0
      while (k < SosWalkChunks && !stop && b.length >= off + 4) {
        val m1 = b(off.toInt) & 0xff
        val m2 = b(off.toInt + 1) & 0xff
        val len = be(b, off + 2, 2)
        if (m1 == 0xff && m2 == 0xda) {
          if (len >= 2) sdata = off + 2 + len
          stop = true
        } else if (m1 == 0xff && standalone(m2)) off += 2
        else if (m1 == 0xff && m2 != 0xd9 && len >= 2) off += 2 + len
        else stop = true
        k += 1
      }
      Some(Sos(found(sdata)))
    }
}
