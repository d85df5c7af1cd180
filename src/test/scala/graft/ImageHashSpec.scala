package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.ImageHash

/** Pins the image aHash family: the exact-integer hash against a plain
  * Scala reference implementation, the eligibility gates, and the
  * planted-near-dup contract (one-pixel edits pair, distinct images
  * don't — the reason the operator exists). */
class ImageHashSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray

  /** A real 54-byte-header 24 bpp BMP around the given pixel bytes. */
  private def bmp(w: Int, h: Int, pix: Array[Byte]): Array[Byte] =
    "BM".getBytes("US-ASCII") ++ le(54L + pix.length, 4) ++ le(0, 4) ++
      le(54, 4) ++ le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++
      le(24, 2) ++ Array.fill[Byte](24)(0) ++ pix

  private def rowBytes(w: Int): Int = ((24 * w + 31) / 32) * 4

  /** Deterministic pseudo-random pixel fill (LCG — no Random). */
  private def fill(n: Int, seed: Long): Array[Byte] = {
    var s = seed
    Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toByte }
  }

  /** Plain Scala reference of the aHash integer arithmetic. */
  private def refAhash(w: Int, h: Int, pix: Array[Byte]): Option[Long] = {
    val rb = rowBytes(w)
    val nAvail = math.min(h.toLong, pix.length.toLong / rb)
    if (w < 8 || nAvail < 8) return None
    val grays = for (i <- 0 until 8; j <- 0 until 8) yield {
      val r = (i * nAvail) / 8
      val c = (j.toLong * w) / 8
      val off = (r * rb + c * 3).toInt
      (pix(off) & 0xffL) + (pix(off + 1) & 0xffL) + (pix(off + 2) & 0xffL)
    }
    val tot = grays.sum
    Some(grays.zipWithIndex.map { case (g, k) =>
      if (64 * g > tot) 1L << k else 0L }.sum)
  }

  private def payloads(rows: (Long, Array[Byte])*) =
    rows.toSeq.toDF("media_id", "payload")

  test("ahash matches the plain-Scala reference bit-for-bit") {
    val cases = Seq(
      (1L, 16, 16, fill(rowBytes(16) * 16, seed = 7L)),
      (2L, 8, 8, fill(rowBytes(8) * 8, seed = 11L)),
      (3L, 33, 9, fill(rowBytes(33) * 9, seed = 13L)), // padded stride
      (4L, 10, 12, fill(rowBytes(10) * 12, seed = 17L)))
    val df = payloads(cases.map { case (id, w, h, p) => id -> bmp(w, h, p) }: _*)
    val got = ImageHash.ahashOfPayloads(df).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash")).toMap
    cases.foreach { case (id, w, h, p) =>
      assert(got.get(id) === refAhash(w, h, p), s"media_id=$id")
    }
  }

  test("eligibility: too narrow, too few complete rows, truncation clamp") {
    val w = 10; val rb = rowBytes(w)
    val full = fill(rb * 10, seed = 3L)
    val df = payloads(
      1L -> bmp(7, 20, fill(rowBytes(7) * 20, seed = 5L)), // width < 8
      2L -> bmp(w, 10, full.take(rb * 7 + 5)), // only 7 complete rows
      3L -> bmp(w, 10, full), // complete
      4L -> bmp(w, 10, full.take(rb * 8 + 3))) // clamps to 8 rows
    val out = ImageHash.ahashOfPayloads(df).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_rows_avail"), r.getAs[Long]("ahash"))).toMap
    assert(!out.contains(1L) && !out.contains(2L))
    assert(out(3L)._1 === 10L)
    assert(out(4L)._1 === 8L)
    // the clamped hash votes over its REAL rows, i.e. the 8-row image
    assert(out(4L)._2 === refAhash(w, 10, full.take(rb * 8)).get)
  }

  test("planted near-identical BMPs pair; distinct images do not") {
    val w = 16; val h = 16; val rb = rowBytes(w)
    val base = fill(rb * h, seed = 42L)
    val oneEdit = base.clone(); oneEdit(rb * 3 + 7) = 77 // one pixel byte
    val twoEdit = base.clone(); twoEdit(rb * 5 + 10) = 13
    twoEdit(rb * 11 + 31) = -5
    val other = fill(rb * h, seed = 4242L)
    val pairs = ImageHash.dupPairsOfPayloads(payloads(
        1L -> bmp(w, h, base), 2L -> bmp(w, h, oneEdit),
        3L -> bmp(w, h, twoEdit), 4L -> bmp(w, h, other)))
      .collect().map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b")))
      .toSet
    assert(pairs.contains((1L, 2L)), "one-pixel edit must pair")
    assert(pairs.contains((1L, 3L)), "two-pixel edit must pair")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "a distinct image must not pair")
  }

  test("metadata-only difference is invisible to the content hash") {
    // same pixels, different declared height (e.g. a re-encode that
    // trims trailing rows the pixel data doesn't carry): the exact
    // payload fingerprint differs, the 8 complete scanlines hash alike
    val w = 12; val rb = rowBytes(w)
    val pix = fill(rb * 8, seed = 21L)
    val out = ImageHash.ahashOfPayloads(payloads(
        1L -> bmp(w, 8, pix), 2L -> bmp(w, 30, pix)))
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash"))
      .toMap
    assert(out(1L) === out(2L))
  }

  test("incremental image pairing == whole-corpus pairs touching the shard") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 120L).map(i =>
        (i, s"doc body $i " + ("x" * (i % 7).toInt), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = ImageHash.dupPairs(docs).collect()
      .map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b"),
        r.getAs[Long]("hamming"))).toSet
    val inc = ImageHash.incrementalPairs(
        docs.filter(col("doc_id") % 10 === 9),
        ImageHash.ahash(docs.filter(col("doc_id") % 10 =!= 9))
          .select("media_id", "ahash").localCheckpoint())
      .collect()
      .map(r => (r.getAs[Long]("img_a"), r.getAs[Long]("img_b"),
        r.getAs[Long]("hamming"))).toSet
    val expected = all.filter(p => p._1 % 10 == 9 || p._2 % 10 == 9)
    assert(inc === expected)
    assert(inc.nonEmpty, "planted cross-shard pairs must exist")
  }

  test("occupancy pair bound matches the pairing join's candidate count") {
    val docs = (0L until 90L).map(i =>
        (i, s"unique text ${i * 31} for doc $i", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val occPairs = ImageHash.occupancy(docs).collect()
      .map(r => r.getAs[Long]("n_pairs")).sum
    // brute candidate count: same (band, nibble) bucket, a < b
    val sk = ImageHash.ahash(docs).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("ahash"))
    val cand = (for {
      (a, ha) <- sk; (b, hb) <- sk if a < b
      m <- 0 until 4
      if ((ha >> (m * 16)) & 0xFFFF) == ((hb >> (m * 16)) & 0xFFFF)
    } yield (a, b, m)).size
    assert(occPairs === cand.toLong)
  }

  test("clusters collapse a chained pair A~B~C even when A and C are apart") {
    import org.apache.spark.sql.functions.col
    // build via payload seam: B = A with 2 edits, C = B with 2 more —
    // A~B and B~C pair (hamming <= 3 expected), A~C may exceed the
    // radius; the CLUSTER must still unite all three
    val w = 16; val h = 16; val rb = rowBytes(w)
    val a = fill(rb * h, seed = 8L)
    val b = a.clone(); b(rb * 2 + 5) = 120; b(rb * 9 + 14) = -33
    val c = b.clone(); c(rb * 4 + 20) = 7; c(rb * 13 + 2) = 88
    val lone = fill(rb * h, seed = 808L)
    val sk = ImageHash.ahashOfPayloads(payloads(
        1L -> bmp(w, h, a), 2L -> bmp(w, h, b), 3L -> bmp(w, h, c),
        4L -> bmp(w, h, lone)))
      .select("media_id", "ahash").localCheckpoint()
    val pairs = ImageHash.dupPairsOfPayloads(payloads(
        1L -> bmp(w, h, a), 2L -> bmp(w, h, b), 3L -> bmp(w, h, c),
        4L -> bmp(w, h, lone)))
      .select(col("img_a").as("doc_a"), col("img_b").as("doc_b"))
    val clusters = graft.text.Dedup.dedupClustersFromPairsStar(
        sk.select(col("media_id").as("doc_id")), pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_survivor"))).toMap
    // the chain must be present for the test to mean anything
    val got = pairs.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)))
    assert(clusters(1L) === ((1L, true)))
    assert(clusters(2L) === ((1L, false)) && clusters(3L) === ((1L, false)),
      "the chain collapses to one cluster rooted at the min id")
    assert(clusters(4L) === ((4L, true)), "singleton stays its own canonical")
  }

  test("best-copy survivor: the intact higher-resolution member wins over the min id") {
    // one row pattern repeated: every sampled scanline is identical, so
    // the full 16-row image and its 12-row truncation hash EQUAL
    // (Hamming 0) and pair — but their real resolutions differ
    val w = 10; val rb = rowBytes(w); val row = fill(rb, 7L)
    val full = bmp(w, 16, Array.fill(16)(row).flatten)
    val truncated = bmp(w, 16, Array.fill(12)(row).flatten) // 12 complete rows
    val other = bmp(w, 16, fill(rb * 16, 99L))
    val got = graft.multimodal.ImageHash.dupClustersBestOfPayloads(payloads(
        1L -> truncated, 2L -> full, 3L -> other))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(got(1L) === ((1L, false)),
      "cluster_id stays the component min, but the truncated copy loses")
    assert(got(2L) === ((1L, true)),
      "the intact larger-id copy is canonical under the resolution policy")
    assert(got(3L) === ((3L, true)), "singleton stays its own canonical")
  }
}
