package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, least, min}
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def docs(rows: (Long, String)*) =
    rows.toSeq.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")

  val base: String = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
    "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu one two three four five six " +
    "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen")
  // one token changed near the middle — 3 of ~40 shingles differ
  val nearDup: String = base.replace("oscar", "OSCARX")
  val unrelated: String = "red green blue cyan magenta yellow black white " +
    "purple orange pink brown gray silver gold bronze copper iron lead zinc"

  test("exactDupClusters groups whitespace-variant duplicates, keeps min doc_id") {
    val out = Dedup.exactDupClusters(docs(
      (3L, "alpha  beta\tgamma"),
      (1L, "alpha beta gamma"),
      (2L, "something else entirely")))
      .collect().map(r => r.getAs[Long]("keeper_doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_dups"))).toMap
    assert(out(1L) === (2L, 1L)) // docs 1+3 cluster; keeper = min id
    assert(out(2L) === (1L, 0L))
  }

  test("minhashSignatures: identical docs get identical signatures; short docs dropped") {
    val sig = Dedup.minhashSignatures(docs(
      (1L, base), (2L, base), (3L, "only two tokens".take(8)))) // "only two" = 2 tokens
    val rows = sig.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getSeq[Long](r.fieldIndex("mh")).toList).toMap
    assert(rows.keySet === Set(1L, 2L))
    assert(rows(1L) === rows(2L))
    assert(rows(1L).length === Dedup.NumHashes)
  }

  test("golden: exact duplicates are pre-collapsed — the representative pairs, copies never do") {
    // (1,2) identical: exact dedup's job, NOT a near-dup pair; the
    // representative (min id 1) still pairs with the genuine near-dup 3
    val out = Dedup.nearDupPairs(docs((1L, base), (2L, base), (3L, nearDup)))
      .collect()
    assert(out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toList
      === List((1L, 3L)))
    assert(out.head.getAs[Long]("n_match") >= 10L)
  }

  test("golden: near-duplicate (one token changed) is caught; unrelated doc is not") {
    val out = Dedup.nearDupPairs(docs((1L, base), (2L, nearDup), (3L, unrelated)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_match"))).toList
    assert(out.map(p => (p._1, p._2)) === List((1L, 2L)))
    // high but not perfect signature agreement
    assert(out.head._3 >= 10L && out.head._3 < 16L, s"n_match=${out.head._3}")
  }

  test("property: similarity monotonicity — more shared content, higher agreement") {
    // doc pairs with progressively more divergence from base
    val twoChanged = base.replace("oscar", "OSCARX").replace("victor", "VICTORX")
    def agreement(a: String, b: String): Long = {
      val sig = Dedup.minhashSignatures(docs((1L, a), (2L, b)))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getSeq[Long](r.fieldIndex("mh")).toList).toMap
      sig(1L).zip(sig(2L)).count { case (x, y) => x == y }.toLong
    }
    val exact = agreement(base, base)
    val one = agreement(base, nearDup)
    val two = agreement(base, twoChanged)
    val none = agreement(base, unrelated)
    assert(exact === 16L)
    assert(one >= two, s"one=$one two=$two")
    assert(two > none, s"two=$two none=$none")
    assert(none <= 2L, s"none=$none") // unrelated vocab ⇒ ~0 agreement
  }

  test("exact Jaccard rescoring: near-dup scored high; exact-dup pairs pre-collapsed away") {
    val out = Dedup.nearDupJaccard(docs((1L, base), (2L, base), (3L, nearDup)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // (1,2) identical ⇒ collapsed to representative 1; only (1,3) scored.
    // One mid-token change kills 3 of ~41 shingles on each side.
    assert(out.keySet === Set((1L, 3L)))
    assert(out((1L, 3L)) > 0.8 && out((1L, 3L)) < 1.0)
  }

  test("simhash: identical docs equal; near-dups within small hamming; unrelated far") {
    val s = Dedup.docSimhash(docs((1L, base), (2L, base), (3L, nearDup), (4L, unrelated)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(s(1L) === s(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // One token changed out of 42 flips a handful of 64 bits (majority
    // margins of 0/1 at those bits); unrelated vocab lands near the
    // random-pair expectation of 32. The operator property is SEPARATION.
    assert(hamming(s(1L), s(3L)) <= 8, s"near-dup hamming=${hamming(s(1L), s(3L))}")
    assert(hamming(s(1L), s(4L)) > 16, s"unrelated hamming=${hamming(s(1L), s(4L))}")
    assert(hamming(s(1L), s(3L)) < hamming(s(1L), s(4L)))
  }

  test("simhashPairs: complete for hamming <= 3 over exact-dup representatives") {
    // 1,2,5 share identical content → only representative 1 may pair
    // (exact duplicates are exactDupClusters' output); 6 is a one-char
    // variant of base whose simhash stays within the radius, giving the
    // completeness property a surviving positive pair
    val variant = base.replace("zulu", "zulux")
    val d = docs((1L, base), (2L, base), (3L, nearDup), (4L, unrelated),
      (5L, base), (6L, variant))
    val s = Dedup.docSimhash(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val reps = Set(1L, 3L, 4L, 6L) // 2 and 5 collapse into 1
    val expected = (for {
      (i, si) <- s.toSeq; (j, sj) <- s.toSeq
      if i < j && reps(i) && reps(j) && java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    val got = Dedup.simhashPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === expected)
    assert(!got.exists { case (a, b) => a == 2L || b == 2L || a == 5L || b == 5L })
    assert(expected.contains((1L, 6L)),
      s"fixture lost its positive pair: hamming=${java.lang.Long.bitCount(s(1L) ^ s(6L))}")
  }

  test("dedupClusters: fixpoint equals driver-side union-find; survivors are component minima") {
    // base2 is a second, distinct duplicate family, far from base's vocab
    val base2 = unrelated + " extra tail tokens here to pass the shingle gate"
    val d = docs((1L, base), (2L, base), (3L, nearDup), (4L, unrelated),
      (5L, base2), (6L, base2), (7L, base))
    // driver-side ground truth: union-find over the confirmed rep-rep
    // pairs PLUS the exact-dup copy→keeper edges the collapse removed
    val texts = Map(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated,
      5L -> base2, 6L -> base2, 7L -> base)
    val exactEdges = texts.groupBy(_._2).values
      .flatMap { g => val k = g.keys.min; g.keys.filter(_ != k).map(_ -> k) }
    val pairs = Dedup.nearDupPairs(d).filter($"n_match" >= 8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))) ++
      exactEdges
    val parent = scala.collection.mutable.Map((1L to 7L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (1L to 7L).map(i => (i, find(i), find(i) == i)).toSet
    val got = Dedup.dedupClusters(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rep_id"),
        r.getAs[Boolean]("is_survivor"))).toSet
    assert(got === expected)
    // sanity on the fixture itself: {1,2,3,7} one cluster; base2 contains
    // all of unrelated's text, so {4,5,6} cluster too (4 survives)
    assert(got.contains((7L, 1L, false)) && got.contains((6L, 4L, false))
      && got.contains((4L, 4L, true)))
  }

  test("1k identical documents: no quadratic bucket, one cluster via keeper edges") {
    // Round-3 weakness #3: before the pre-collapse, 1000 identical docs
    // formed ONE bucket in every band — a 500k-pair expansion in a single
    // task. Now the bucket holds one representative, pairs are empty, and
    // clustering recovers the full membership through N−1 keeper edges.
    val d = docs((0L until 1000L).map(i => i -> base): _*)
    assert(Dedup.nearDupPairs(d).count() === 0L)
    val cl = Dedup.dedupClusters(d).collect()
    assert(cl.length === 1000)
    assert(cl.forall(_.getAs[Long]("rep_id") == 0L))
    assert(cl.count(_.getAs[Boolean]("is_survivor")) === 1)
  }

  /** Min-label propagation, the reference the star contraction is
    * checked against: every edge-incident node takes the min of its own
    * label and its neighbors' until nothing changes — diameter-many
    * rounds, so a deep component exhausts `maxRounds` and throws. */
  private def minLabelClusters(ds: DataFrame, pairs: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val labels0 = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("rep_id", col("doc_id"))
    val labels = Iterate.untilStable("minLabelClusters", labels0, maxRounds) { l =>
      val nbrMin = edges.join(l, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min("rep_id").as("nbr_min"))
      l.join(nbrMin, col("doc_id") === col("src"))
        .select(col("doc_id"), least(col("rep_id"), col("nbr_min")).as("rep_id"),
          (col("nbr_min") < col("rep_id")).as(Iterate.Changed))
    }
    ds.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "node_id"),
        col("doc_id") === col("node_id"), "left")
      .select(col("doc_id"), coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .withColumn("is_survivor", col("doc_id") === col("rep_id"))
  }

  test("property: star contraction equals min-label propagation on random graphs") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 3) {
      val n = 40L
      val ids = (0L until n)
      val pairs = Seq.fill(45)((ids(rnd.nextInt(40)), ids(rnd.nextInt(40))))
        .filter { case (a, b) => a != b }
        .toDF("doc_a", "doc_b")
      val ds = ids.toDF("doc_id")
      def res(df: DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rep_id"),
          r.getAs[Boolean]("is_survivor"))).toSet
      assert(res(Dedup.dedupClustersFromPairsStar(ds, pairs))
        === res(minLabelClusters(ds, pairs)))
    }
  }

  test("star contraction clusters a chain deeper than min-label's iteration budget") {
    // a 60-node path has diameter 59: min-label needs 59 rounds and must
    // throw at a 25-round budget; star contraction finishes in O(log² n)
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ds = (0L until 60L).toDF("doc_id")
    val got = Dedup.dedupClustersFromPairsStar(ds, chain).collect()
    assert(got.length === 60)
    assert(got.forall(_.getAs[Long]("rep_id") == 0L))
    assert(got.count(_.getAs[Boolean]("is_survivor")) === 1)
    assertThrows[IllegalStateException] {
      minLabelClusters(ds, chain).collect()
    }
  }

  test("incremental shard dedup = band collisions touching the shard's keepers") {
    // corpus {1,2,3}; shard {4,5,6}: 4 duplicates corpus doc 1's content,
    // 5 is a near-dup variant, 6 is a SHARD-INTERNAL exact copy of 4 (so
    // the within-shard pre-collapse drops it — copy membership is the
    // shard's exactDupClusters' job). Ground truth = brute force over the
    // band relation of {1..5}, restricted to pairs with >= 1 shard
    // keeper; corpus-vs-corpus pairs must NOT reappear.
    val corpus = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val shard = docs((4L, base), (5L, base.replace("kilo", "KILOX")), (6L, base))
    val allBands = Dedup.minhashBands(docs((1L, base), (2L, nearDup),
      (3L, unrelated), (4L, base), (5L, base.replace("kilo", "KILOX")))).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"), r.getAs[Long]("band_hash")))
    val expected = (for {
      (d1, b1, h1) <- allBands; (d2, b2, h2) <- allBands
      if d1 < d2 && b1 == b2 && h1 == h2 && (d1 >= 4L || d2 >= 4L)
    } yield (d1, d2)).toSet
    val got = Dedup.incrementalNearDupPairs(shard, Dedup.signatureBands(corpus))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === expected)
    assert(got.contains((1L, 4L)) && got.contains((4L, 5L)))
    assert(!got.exists { case (a, b) => a <= 3L && b <= 3L })
    assert(!got.exists { case (a, b) => a == 6L || b == 6L })
    // the full ingest composition (as the incremental_dedup query runs):
    // the corpus-fingerprint anti-join drops 4 and 6 (content = corpus
    // doc 1) BEFORE pairing; only genuinely-new content 5 remains
    val fresh = Dedup.newContent(shard, Dedup.contentFingerprints(corpus))
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet === Set(5L))
    val composedGot = Dedup.incrementalNearDupPairs(fresh, Dedup.signatureBands(corpus))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // population after the anti-join = corpus ∪ {5}; 4 and 6 are gone
    val pop = Set(1L, 2L, 3L, 5L)
    val composedExpected = (for {
      (d1, b1, h1) <- allBands; (d2, b2, h2) <- allBands
      if d1 < d2 && b1 == b2 && h1 == h2 && (d1 == 5L || d2 == 5L) &&
        pop(d1) && pop(d2)
    } yield (d1, d2)).toSet
    assert(composedGot === composedExpected)
  }

  test("incremental simhash = Hamming-band collisions touching the shard's keepers") {
    // same composition as the MinHash twin: 4 duplicates corpus doc 1
    // (dropped by newContent), 5 is the one-char variant whose simhash
    // provably stays within the radius of base (see the batch
    // completeness test above), 6 is a shard-internal copy of 4 (gone
    // before banding either way)
    val corpus = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val shard = docs((4L, base), (5L, base.replace("zulu", "zulux")), (6L, base))
    val fresh = Dedup.newContent(shard, Dedup.contentFingerprints(corpus))
    val got = Dedup.incrementalSimhashPairs(fresh, Dedup.simhashSketch(corpus))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    // ground truth: brute force over the population's simhashes (corpus
    // keepers 1,2,3 plus post-anti-join shard keeper 5), shard-touching
    val sim = Dedup.docSimhash(docs((1L, base), (2L, nearDup), (3L, unrelated),
        (5L, base.replace("zulu", "zulux"))))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def bandEq(a: Long, b: Long): Boolean =
      (0 until 4).exists(m => ((a >> (m * 16)) & 0xFFFFL) == ((b >> (m * 16)) & 0xFFFFL))
    val expected = (for {
      (i, si) <- sim.toSeq; (j, sj) <- sim.toSeq
      if i < j && (i == 5L || j == 5L) && bandEq(si, sj) &&
        java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j, java.lang.Long.bitCount(si ^ sj).toLong)).toSet
    assert(got === expected)
    assert(got.exists { case (a, b, _) => a == 1L && b == 5L },
      "the planted near-variant must pair with its corpus original")
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L || a == 6L || b == 6L })
  }

  test("contamination counts exactly the distinct window shingles shared with the benchmark") {
    // benchmark = base (42 tokens); train: an exact copy (every shingle
    // shared), the one-token near-dup (exactly W windows straddle the
    // changed token, which sits ≥W tokens from both ends), and an
    // unrelated doc (no shared shingles → absent from the output)
    val W = Dedup.DecontaminationWindow.toLong
    val bench = docs((100L, base))
    val train = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val out = Dedup.contamination(train, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === out(2L) + W,
      s"one mid-token change must kill exactly $W shingles: $out")
    assert(out(1L) === 42L - W + 1L) // the copy shares base's full shingle set
  }

  test("persisted bands bucketed by (band, band_hash): the corpus probe is co-located") {
    // The incremental/streaming docstring claim (incrementalNearDupPairs,
    // corpusMatches: "bucketed by (band, band_hash) at scale, so the join
    // is co-located") proven the GraphSkewSpec way: write the persisted
    // band relation bucketed on the join key, probe it with a shard's
    // banded rows, walk the plan — the bucketed corpus subtree must hold
    // ZERO shuffles; the (small) shard side carries the join's exchange.
    // AQE off so the tree is walkable, broadcast off so the corpus-sized
    // join shape is the one planned.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val corpus = Seq((1L, base, "en"), (2L, unrelated, "en"))
      .toDF("doc_id", "text", "lang")
    val shard = Seq((100L, nearDup, "en")).toDF("doc_id", "text", "lang")
    try {
      Dedup.signatureBands(corpus).write
        .bucketBy(8, "band", "band_hash").sortBy("band", "band_hash")
        .mode("overwrite").saveAsTable("bands_bkt")
      val probe = Dedup.corpusMatches(
        Dedup.signatureBandsKeeping(shard).localCheckpoint(),
        s2.table("bands_bkt"), minMatch = 0L)
      val plan = probe.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, s"expected a sort-merge join:\n$plan")
      def shuffles(p: SparkPlan): Int =
        p.collect { case _: ShuffleExchangeExec => 1 }.sum
      def isCorpusSide(p: SparkPlan): Boolean = p.collectLeaves().exists {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      }
      val (corpusSide, shardSide) =
        if (isCorpusSide(smj.get.left)) (smj.get.left, smj.get.right)
        else (smj.get.right, smj.get.left)
      assert(isCorpusSide(corpusSide), s"no bucketed scan under either side:\n$plan")
      assert(shuffles(corpusSide) === 0,
        s"bucketed corpus side still shuffles:\n$corpusSide")
      assert(shuffles(shardSide) >= 1,
        s"shard side should carry the join's exchange:\n$shardSide")
      // the co-located probe really matches: the near-dup shard doc
      // band-collides with its corpus original
      assert(probe.collect().map(_.getAs[Long]("corpus_doc_id")).contains(1L))
    } finally {
      s2.sql("DROP TABLE IF EXISTS bands_bkt")
    }
  }

  test("nearDupScoreHist is exactly the pair relation's agreement histogram") {
    val fixture = docs((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " trailing extra tokens here"), (5L, "tiny doc of words"))
    val pairs = Dedup.nearDupPairs(fixture).collect()
      .map(_.getAs[Long]("n_match"))
    val hist = Dedup.nearDupScoreHist(fixture).collect()
      .map(r => r.getAs[Long]("n_match") -> r.getAs[Long]("n_pairs")).toMap
    val expect = pairs.groupBy(identity).map { case (m, xs) => m -> xs.size.toLong }
    assert(hist === expect)
    assert(hist.values.sum === pairs.length.toLong)
  }

  test("dedupClusterSizes: planted sizes, and sizes tile the corpus") {
    // 1,2 exact copies; 3 near-dups them (one component of 3); 4, 5
    // unrelated singletons
    val fixture = docs((1L, base), (2L, base), (3L, nearDup),
      (4L, unrelated), (5L, "another completely different text body"))
    val out = Dedup.dedupClusterSizes(fixture).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    assert(out === Map(3L -> 1L, 1L -> 2L))
    val mass = out.map { case (sz, n) => sz * n }.sum
    assert(mass === 5L)
  }

  test("contaminationOverlap reports the shared fraction, clean docs included at 0") {
    // same fixture as the flag test: the exact copy overlaps 100%, the
    // one-token near-dup loses exactly W of its 30 shingles, and the
    // unrelated doc — absent from contamination() by design — is PRESENT
    // here at 0 (a severity report must carry its denominator population)
    val W = Dedup.DecontaminationWindow
    val bench = docs((100L, base))
    val train = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val out = Dedup.contaminationOverlap(train, bench).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("overlap_millionths"))).toMap
    val nSh = 42L - W + 1L // 30 shingles in the 42-token base
    assert(out(1L) === ((nSh, nSh, 1000000L)))
    assert(out(2L) === ((nSh, nSh - W, (nSh - W) * 1000000L / nSh)))
    assert(out(3L)._2 === 0L)
    assert(out(3L)._3 === 0L)
    assert(out.keySet === Set(1L, 2L, 3L))
  }

  test("window 13 flags only a verbatim >=13-token quote where window 3 flags everything") {
    // The round-5 failure mode, reproduced and retired: trainA embeds one
    // 13-token VERBATIM benchmark run (real leakage — must flag, n_hits
    // exactly 1); trainB shares only runs of ≤7 tokens (every 8th token
    // replaced — the ubiquitous-short-phrase overlap that made 3-shingle
    // decontamination flag 52% of fixture train docs); at the production
    // window only the quote flags, while window 3 flags both.
    val benchTokens = base.split(" ")
    val quote = benchTokens.slice(10, 23).mkString(" ") // 13 verbatim tokens
    val trainA = "my document quotes " + quote + " and then moves on"
    val trainB = benchTokens.zipWithIndex
      .map { case (t, i) => if (i % 8 == 7) s"chg$i" else t }.mkString(" ")
    val train = docs((1L, trainA), (2L, trainB), (3L, unrelated))
    val bench = docs((100L, base))
    val out13 = Dedup.contamination(train, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(out13 === Map(1L -> 1L),
      s"only the verbatim quote doc may flag at window 13: $out13")
    val out3 = Dedup.contamination(train, bench, window = 3).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(out3 === Set(1L, 2L),
      "window 3 must reproduce the over-flagging this parameter exists to fix")
  }

  test("ingestManifest: known / shard-dup / near-dup / gate verdicts with admit consistency") {
    val fresh = "nova comet quasar pulsar nebula meteor aurora eclipse " +
      "orbit galaxy cluster photon neutron proton electron hadron " +
      "lepton boson quark gluon plasma corona zenith apex"
    val corpus = docs((10L, base), (11L, unrelated))
    val shard = docs(
      (100L, base),      // exact content already persisted → known
      (101L, fresh),     // new content, the shard keeper of {101, 102}
      (102L, fresh),     // same content again → shard dup
      (103L, nearDup),   // one-token variant of corpus 10 → near dup
      (104L, "entirely novel words nobody else uses anywhere wavelength " +
        "frequency amplitude resonance harmonics overtone timbre cadence"))
    val out = Dedup.ingestManifest(shard,
        Dedup.contentFingerprints(corpus), Dedup.signatureBands(corpus))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def flags(id: Long) = (
      out(id).getAs[Boolean]("is_known_content"),
      out(id).getAs[Boolean]("is_shard_dup"),
      out(id).getAs[Boolean]("is_near_dup"))
    assert(out.keySet === Set(100L, 101L, 102L, 103L, 104L))
    assert(flags(100L) === ((true, false, false)))
    assert(flags(101L) === ((false, false, false)))
    assert(flags(102L) === ((false, true, false))) // non-keepers skip pairing
    assert(flags(103L) === ((false, false, true)))
    assert(flags(104L) === ((false, false, false)))
    // admit is exactly the conjunction, whatever the classifier said
    for ((_, r) <- out)
      assert(r.getAs[Boolean]("admit") ===
        (!r.getAs[Boolean]("is_known_content") &&
          !r.getAs[Boolean]("is_shard_dup") &&
          !r.getAs[Boolean]("is_near_dup") &&
          r.getAs[Boolean]("pred_keep")))
  }

  test("contamination report counts distinct leaking train docs per benchmark item") {
    // bench 100 is leaked verbatim into trains 1 AND 2 (distinct docs,
    // multiple shared shingles each — the report counts DOCS, not
    // shingle hits); bench 200 is leaked into train 1 only; bench 300 is
    // clean and must be ABSENT (an empty report is the healthy case)
    val benchTokens = base.split(" ")
    val quoteA = benchTokens.slice(5, 25).mkString(" ")  // 20 tokens of base
    val quoteB = unrelated + " " + unrelated             // bench 200's body
    val train = docs(
      (1L, "intro " + quoteA + " middle " + quoteB + " outro"),
      (2L, quoteA + " different tail content here entirely"),
      (3L, "no shared content in this training document at all"))
    val bench = docs((100L, base), (200L, quoteB),
      (300L, "pristine benchmark item nothing quotes it anywhere truly"))
    val out = Dedup.contaminationReport(train, bench).collect()
      .map(r => r.getAs[Long]("bench_id") -> r.getAs[Long]("n_leaking_docs")).toMap
    assert(out === Map(100L -> 2L, 200L -> 1L))
    // both ends describe the same leak set: flagged train docs = {1, 2}
    val flagged = Dedup.contamination(train, bench).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(flagged === Set(1L, 2L))
  }

  test("native tok_hashes_of_tokens equals the interpreted transform, incl. non-ASCII") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    val d = docs((1L, base), (2L, "héllo wörld émoji 😀😀 世界 tokens ab"),
      (3L, "x"), (4L, "averyveryverylongtokenthatkeepsgoing short"),
      (5L, "UPPER Case HÉLLO WÖRLD\tÉMOJI 😀  mixed\n\nΣΙΓΜΑ"))
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    val out = d.select(col("doc_id"),
        call_function("tok_hashes_of_tokens", toks).as("native"),
        transform(toks, t => PortableHash.tokHash(t)).as("decl"),
        call_function("tok_hashes_of_text", col("text")).as("fused")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
      // the fused tokenize+hash agrees with the tokens()-then-hash chain
      assert(r.getSeq[Long](3) === r.getSeq[Long](2), s"fused, doc ${r.getLong(0)}")
    }
    // the expression lands in the text operators' physical plans (over
    // the parquet fixture — a local relation of literals would be
    // constant-folded into a LocalTableScan before the plan is readable)
    val p = Dedup.docSimhash(graft.Tables.documents(spark, "/root/testdata/sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("tok_hashes_of_"),
      s"native token hashing missing from the simhash plan:\n$p")
  }

  test("window-k HOF reference formulation equals the native shingle expression in a job") {
    // the reference formulation of shingleSetsOf's distinct window set,
    // pinned bit-equal to the codegen expression at every width the
    // engine uses (1 = degenerate, 3 = dedup family, 8/13 = decon range);
    // the 12-token doc also exercises the >= k gate at k=13
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base.split(" ").take(12).mkString(" ")))
    val th = transform(graft.text.TextAnalysis.tokens(col("text")),
      t => PortableHash.tokHash(t))
    for (k <- Seq(1, 3, 8, 13)) {
      val t = d.select(col("doc_id"), th.as("th")).filter(size(col("th")) >= k)
      val declarative = array_distinct(transform(
        sequence(lit(1), size(col("th")) - (k - 1)),
        i => PortableHash.shingleK((0 until k).map(j => element_at(col("th"), i + j)))))
      val out = t.select(col("doc_id"),
          call_function("shingles_of_hashes", col("th"), lit(k)).as("native"),
          declarative.as("decl")).collect()
      assert(out.length === (if (k == 13) 3 else 4))
      out.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"k=$k doc ${r.getLong(0)}")
      }
    }
  }

  test("fuzzy decontamination catches a paraphrased leak that exact-window matching misses") {
    // benchmark doc: 204 tokens; planted paraphrase: every 12th token
    // rewritten, so the longest verbatim run is 11 tokens < the 13-token
    // window (exact decontamination provably scores ZERO shared
    // 13-shingles) while ~75% of 3-shingles survive (Jaccard ≈ 0.6) —
    // the signature still agrees on most slots and the pair band-collides
    val benchTokens = (0 until 204).map(i => s"w${i}q")
    val benchDoc = benchTokens.mkString(" ")
    val para = benchTokens.zipWithIndex
      .map { case (t, i) => if (i % 12 == 0) s"chg$i" else t }.mkString(" ")
    val train = docs((1L, para), (2L, unrelated))
    val bench = docs((100L, benchDoc))
    // exact window-13: the paraphrase shares no 13-token run → no row
    val exact = Dedup.contamination(train, bench).collect()
    assert(exact.isEmpty,
      s"paraphrase must evade exact-window matching: ${exact.toList}")
    // fuzzy: the same paraphrase flags on signature agreement
    val fuzzy = Dedup.contaminationFuzzy(train, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_match")).toMap
    assert(fuzzy.keySet === Set(1L),
      s"fuzzy must flag exactly the planted paraphrase: $fuzzy")
    assert(fuzzy(1L) >= 8L && fuzzy(1L) < 16L, s"n_match=${fuzzy(1L)}")
  }

  test("fuzzy decontamination flags every copy of a leaked doc (no train-side collapse)") {
    // two identical train copies of a benchmark doc must BOTH flag at
    // full agreement — the verdict is per-document, unlike the pairing
    // operators' representative collapse
    val out = Dedup.contaminationFuzzy(
        docs((1L, base), (2L, base), (3L, unrelated)), docs((100L, base)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_match")).toMap
    assert(out === Map(1L -> 16L, 2L -> 16L))
  }

  test("native agree_count_of_hashes equals the declarative fold, incl. null/ragged edges") {
    import org.apache.spark.sql.functions.{aggregate, call_function, col, lit, when, zip_with}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(LongType, containsNull = true)),
      StructField("b", ArrayType(LongType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(1L, Seq[Any](1L, 2L, 3L), Seq[Any](1L, 9L, 3L)),   // 2 agreements
      Row(2L, Seq[Any](1L, 2L), Seq[Any](1L, 2L, 3L)),       // ragged → overlap only
      Row(3L, Seq[Any](1L, null, 3L), Seq[Any](1L, null, 3L)), // null elems → 0 contribution
      Row(4L, Seq.empty[Any], Seq.empty[Any]),                // empty → 0
      Row(5L, null, Seq[Any](1L)))                            // null array → NULL
    val df = spark.createDataFrame(rows, schema)
    val declarative = aggregate(zip_with(col("a"), col("b"),
      (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, t) => acc + t)
    val out = df.select(col("id"),
        call_function("agree_count_of_hashes", col("a"), col("b")).as("native"),
        declarative.as("decl"))
      .collect().map(r => r.getAs[Long]("id") ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    for ((id, (n, d)) <- out) assert(n === d, s"row $id: native=$n declarative=$d")
    assert(out(1L)._1 === Some(2L))
    assert(out(2L)._1 === Some(2L))
    assert(out(3L)._1 === Some(2L)) // nulls contribute 0, never poison
    assert(out(4L)._1 === Some(0L))
    assert(out(5L)._1 === None)
  }

  test("persisted-artifact round-trip: incremental dedup over a parquet-bucketed band relation") {
    // The production story the incremental operator documents: the corpus
    // band relation is PERSISTED (parquet, bucketed by the join key) and
    // nightly shards join against the RE-READ relation — until now the
    // operator was only ever verified against the in-memory derived
    // relation. Write → bucketed table → re-read → pair must be
    // row-identical to the derived path (schema fidelity through parquet
    // included: the mh array<long> payload rides along).
    val corpus = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val shard = docs((10L, base.replace("kilo", "KILOX")), (11L, unrelated + " coda"))
    val derived = Dedup.signatureBands(corpus)
    spark.sql("DROP TABLE IF EXISTS corpus_bands_rt")
    derived.write.mode("overwrite")
      .bucketBy(4, "band", "band_hash").sortBy("doc_id")
      .saveAsTable("corpus_bands_rt")
    def pairsOf(bands: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDupPairs(shard, bands).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("n_match"))).toSet
    val fromDerived = pairsOf(derived)
    val fromReread = pairsOf(spark.table("corpus_bands_rt"))
    assert(fromReread === fromDerived)
    assert(fromDerived.nonEmpty, "fixture must actually produce pairs")
    spark.sql("DROP TABLE corpus_bands_rt")
  }

  test("banded LSH never pairs documents that collide in no band") {
    // bands(doc) are deterministic; assert the candidate join equals a
    // brute-force over the band relation
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " seventeen"), (5L, unrelated + " halt"))
    val bands = Dedup.minhashBands(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"), r.getAs[Long]("band_hash")))
    val expected = (for {
      (d1, b1, h1) <- bands; (d2, b2, h2) <- bands
      if d1 < d2 && b1 == b2 && h1 == h2
    } yield (d1, d2)).toSet
    val got = Dedup.nearDupPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got === expected)
  }

  test("bandOccupancy counts the pairing population (reps only) and bounds its pairs") {
    // docs 1-3 are identical: ONE representative buckets, so the report
    // must see 3 residents (reps 1, 4, 5) per band, never 5
    val d = docs((1L, base), (2L, base), (3L, base), (4L, nearDup), (5L, unrelated))
    val report = Dedup.bandOccupancy(d).collect()
      .map(r => (r.getAs[Long]("band"), r.getAs[Long]("size_band")) ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs")))
    assert(report.map(_._2._2).sum === 4L * 3L, "4 bands x 3 reps")
    // the pair bound equals the brute-force bucket pair count over reps
    val repBands = Dedup.minhashBands(docs((1L, base), (4L, nearDup), (5L, unrelated)))
      .collect().map(r => (r.getAs[Long]("band"), r.getAs[Long]("band_hash")))
    val expectPairs = repBands.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(report.map(_._2._3).sum === expectPairs)
    assert(expectPairs > 0L, "fixture must actually collide somewhere")
  }

  test("exactDupClustersNorm unites accent variants that the plain key keeps apart") {
    val d = docs(
      (1L, "café au lait"), (2L, "cafe au lait"), (3L, "unrelated words here"))
    def keepers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("keeper_doc_id") ->
        r.getAs[Long]("cluster_size")).toMap
    // plain normMd5: café ≠ cafe — three singleton clusters
    val plain = keepers(Dedup.exactDupClusters(d))
    assert(plain === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // folded key: café/cafe share a fingerprint; keeper = min id
    val folded = keepers(Dedup.exactDupClustersNorm(d))
    assert(folded === Map(1L -> 2L, 3L -> 1L))
  }

  test("dedupClustersNorm: accent variants too short for sketch tolerance unite") {
    // 3-token docs have exactly ONE 3-shingle: café vs cafe makes the
    // shingle (and so all 16 signature slots) disagree completely, and
    // the fingerprints differ too — the PLAIN chain cannot unite them by
    // construction. The folded chain sees identical text.
    val d = docs(
      (1L, "café au lait"), (2L, "cafe au lait"), (3L, "unrelated words here"))
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_survivor"))).toMap
    val plain = clusters(Dedup.dedupClusters(d))
    assert(plain === Map(1L -> (1L, true), 2L -> (2L, true), 3L -> (3L, true)))
    val folded = clusters(Dedup.dedupClustersNorm(d))
    assert(folded === Map(1L -> (1L, true), 2L -> (1L, false), 3L -> (3L, true)))
  }

  test("exactDupClustersFromFpBy: the survivor policy is the caller's ordering") {
    import org.apache.spark.sql.functions.col
    val fp = Seq((1L, "X", 10L), (2L, "X", 99L), (3L, "X", 50L), (4L, "Y", 1L))
      .toDF("doc_id", "fp_md5", "score")
    val out = Dedup.exactDupClustersFromFpBy(fp, -col("score"))
      .collect().map(r => r.getAs[String]("fp_md5") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("keeper_doc_id"))).toMap
    // keeper = highest score (doc 2), NOT min doc_id
    assert(out("X") === (3L, 2L))
    assert(out("Y") === (1L, 4L))
  }

  test("dedupClustersBest: the highest-margin member survives, not the smallest id") {
    import org.apache.spark.sql.functions.col
    // plant an appended token with strictly positive classifier margin, so
    // the LARGER doc_id copy outscores the smaller one; the weight table is
    // seeded-opaque here, so probe candidates through classifierScore (the
    // margins the operator itself uses, bit-identical)
    val cands = Seq("amber", "basil", "cedar", "dalia", "ember", "flint")
    val probe = graft.text.TextAnalysis.classifierScore(
      docs(cands.zipWithIndex.map { case (w, i) => (i.toLong, w) }: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("margin")).toMap
    val winner = cands(probe.filter(_._2 > 0L).keys.min.toInt)
    val d = docs((1L, base), (2L, base + " " + winner), (3L, unrelated))
    // sanity: 1↔2 must actually be a confirmed near-dup pair
    val pair = Dedup.nearDupPairs(d)
      .filter(col("n_match") >= 8L).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pair.toList === List((1L, 2L)), "fixture must near-dup")
    def survivors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rep_id"),
        r.getAs[Boolean]("is_survivor"))).toSet
    // keep-first default: rep 1 survives
    assert(survivors(Dedup.dedupClusters(d)) ===
      Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
    // quality policy: same components (rep_id unchanged), doc 2 survives —
    // its margin is base's plus the planted positive-weight token
    assert(survivors(Dedup.dedupClustersBest(d)) ===
      Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, true)))
  }

  /** An accent pair whose two spellings get DIFFERENT classifier margins
    * (the folded key unites them; the margin — scored on the ORIGINAL
    * text — separates them). Probed through classifierScore because the
    * weight table is seeded-opaque; returns (lowerMarginText,
    * higherMarginText). */
  private def accentPairWithMarginGap(): (String, String) = {
    val pairs = Seq(
      ("café au lait", "cafe au lait"),
      ("résumé writing now", "resume writing now"),
      ("naïve approach taken", "naive approach taken"))
    val flat = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a), (2L * i + 1, b)) }
    val margins = graft.text.TextAnalysis.classifierScore(docs(flat: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("margin")).toMap
    val hit = pairs.zipWithIndex.find { case (_, i) =>
      margins(2L * i) != margins(2L * i + 1) }
    assert(hit.isDefined, "no probe pair separates margins — extend the list")
    val ((a, b), i) = hit.get
    if (margins(2L * i) < margins(2L * i + 1)) (a, b) else (b, a)
  }

  test("exactDupClustersBestNorm: folded cluster keeps the higher-margin variant") {
    val (lo, hi) = accentPairWithMarginGap()
    // the HIGHER-margin variant gets the LARGER id, so min-id and
    // best-margin policies disagree and the test separates them
    val d = docs((1L, lo), (2L, hi), (3L, unrelated))
    def keepers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("keeper_doc_id") ->
        r.getAs[Long]("cluster_size")).toMap
    // identity: the folded key unites the pair (norm behavior preserved)
    assert(keepers(Dedup.exactDupClustersNorm(d)) === Map(1L -> 2L, 3L -> 1L))
    // policy × identity: same cluster, but the keeper is the margin winner
    assert(keepers(Dedup.exactDupClustersBestNorm(d)) === Map(2L -> 2L, 3L -> 1L))
  }

  test("dedupClustersBestNorm: folded components, margin-ordered survivor") {
    val (lo, hi) = accentPairWithMarginGap()
    val d = docs((1L, lo), (2L, hi), (3L, unrelated))
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_survivor"))).toMap
    // rep_id stays the component minimum (stable cluster identifier);
    // is_survivor moves to the higher-margin larger-id variant
    assert(clusters(Dedup.dedupClustersBestNorm(d)) ===
      Map(1L -> (1L, false), 2L -> (1L, true), 3L -> (3L, true)))
  }

  test("simhashOccupancy counts the sketch population (reps only) and bounds its pairs") {
    // same contract as bandOccupancy, over the Hamming-band space: docs
    // 1-3 identical → ONE representative buckets; the pair bound equals
    // the brute-force (band, nibble) bucket pair count over reps
    val d = docs((1L, base), (2L, base), (3L, base), (4L, nearDup), (5L, unrelated))
    val report = Dedup.simhashOccupancy(d).collect()
      .map(r => (r.getAs[Long]("band"), r.getAs[Long]("size_band")) ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs")))
    assert(report.map(_._2._2).sum === 4L * 3L, "4 bands x 3 reps")
    val repSim = Dedup.docSimhash(docs((1L, base), (4L, nearDup), (5L, unrelated)))
      .collect().map(r => r.getAs[Long]("simhash"))
    val expectPairs = (0 until Dedup.SimBands).map { m =>
      repSim.groupBy(s => (s >> (m * 16)) & 0xFFFFL).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    assert(report.map(_._2._3).sum === expectPairs)
    assert(expectPairs > 0L, "fixture must actually collide somewhere")
  }

  test("dedupBySource golden: non-keeper copies charged to their own source") {
    // "alpha beta" exists in crawl (1, keeper) and in feed (2, 3): the
    // two copies count against feed even though the keeper sits in crawl
    val d = Seq(
      (1L, "alpha beta", "crawl"), (2L, "alpha  beta", "feed"),
      (3L, "alpha beta", "feed"), (4L, "fresh text", "feed"),
      (5L, "other text", "crawl"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dedupBySource(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("dup_rate_millionths")))).toMap
    assert(out("crawl") === ((2L, 0L, 0L)))
    assert(out("feed") === ((3L, 2L, 666666L)))
  }

  // ---- exact-substring duplicated spans ------------------------------

  // run1/run2: exactly 8 tokens each (= DupSpanWindow) so sharing the run
  // shares exactly one window; all filler tokens are globally unique
  private val run1 = "s1 s2 s3 s4 s5 s6 s7 s8"
  private val run2 = "u1 u2 u3 u4 u5 u6 u7 u8"
  private val docA = s"x1 x2 $run1 x3 x4 $run2 x5" // run1 @ 3-10, run2 @ 13-20
  private val docB = s"$run1 y1 y2 y3"             // run1 @ 1-8
  private val docC = s"z1 z2 z3 $run2"             // run2 @ 4-11

  test("dupSpans golden: maximal cross-doc spans at exact positions") {
    val out = Dedup.dupSpans(docs((1L, docA), (2L, docB), (3L, docC)))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"))).toSet
    assert(out === Set((1L, 3L, 10L, 8L), (1L, 13L, 20L, 8L),
      (2L, 1L, 8L, 8L), (3L, 4L, 11L, 8L)))
  }

  test("dupSpans: adjacent coverage merges into ONE maximal span") {
    // docD's 16 tokens are covered [1,8] by docE's run and [9,16] by
    // docF's — contiguous token coverage, so the islands merge
    val d = "a1 a2 a3 a4 a5 a6 a7 a8 b1 b2 b3 b4 b5 b6 b7 b8"
    val out = Dedup.dupSpans(docs(
        (1L, d),
        (2L, "a1 a2 a3 a4 a5 a6 a7 a8 q1 q2"),
        (3L, "r1 r2 b1 b2 b3 b4 b5 b6 b7 b8")))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSet
    assert(out.filter(_._1 == 1L) === Set((1L, 1L, 16L)))
  }

  test("dupSpans: intra-doc repetition alone is NOT a duplicated span") {
    // the run occurs twice in ONE doc and nowhere else — distinct-doc
    // count is 1, so nothing is flagged (that axis is docRepetition's)
    val out = Dedup.dupSpans(docs(
      (1L, s"$run1 w1 w2 $run1"), (2L, "v1 v2 v3 v4 v5 v6 v7 v8 v9")))
    assert(out.count() === 0L)
  }

  test("incrementalDupSpans: shard spans flag only corpus-known windows") {
    // corpus holds run1; the shard doc carries run1 (flagged) and run2
    // (shard-only — NOT flagged: intra-shard novelty is the batch
    // sweep's job), plus a second shard doc repeating run2 (still not
    // flagged — cross-shard only)
    val corpus = docs((1L, docB), (2L, "filler one two three"))
    val shard = docs((10L, docA), (11L, s"$run2 zz1 zz2"))
    val out = Dedup.incrementalDupSpans(shard, Dedup.windowShingles(corpus))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"))).toSet
    assert(out === Set((10L, 3L, 10L, 8L)))
  }

  test("dupSpanStats golden: zero-filled rollup with exact span share") {
    val out = Dedup.dupSpanStats(docs(
        (1L, docA), (2L, docB), (3L, docC), (4L, unrelated)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("n_dup_tokens"), r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) === ((21L, 2L, 16L, 16.0 / 21.0)))
    assert(out(2L) === ((11L, 1L, 8L, 8.0 / 11.0)))
    assert(out(3L) === ((11L, 1L, 8L, 8.0 / 11.0)))
    assert(out(4L)._2 === 0L)
    assert(out(4L)._4 === 0.0)
  }

  test("dupSpanScrub golden: spans removed, gaps kept, NULL text stays NULL") {
    val withNull = docs((1L, docA), (2L, docB), (3L, docC))
      .union(Seq((4L, Option.empty[String], "en")).toDF("doc_id", "text", "lang"))
    val out = Dedup.dupSpanScrub(withNull).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed_tokens"),
          r.getAs[String]("clean_text")))).toMap
    assert(out(1L) === ((21L, 16L, "x1 x2 x3 x4 x5")))
    assert(out(2L) === ((11L, 8L, "y1 y2 y3")))
    assert(out(3L) === ((11L, 8L, "z1 z2 z3")))
    assert(out(4L) === ((0L, 0L, null)))
  }

  test("dup-span cross-operator identity: stats' span tokens = scrub's removed tokens") {
    val d = docs((1L, docA), (2L, docB), (3L, docC), (4L, unrelated), (5L, base))
    val stats = Dedup.dupSpanStats(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_tokens")).toMap
    val scrub = Dedup.dupSpanScrub(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed_tokens")).toMap
    assert(stats === scrub)
  }

  test("dupSpanScrub: removed + kept tokens tile the doc") {
    val out = Dedup.dupSpanScrub(docs((1L, docA), (2L, docB), (3L, docC),
        (4L, unrelated), (5L, base))).collect()
    out.foreach { r =>
      val kept = Option(r.getAs[String]("clean_text"))
        .map(t => if (t.isEmpty) 0 else t.split(" ").length).getOrElse(0)
      assert(kept.toLong ===
        r.getAs[Long]("n_tokens") - r.getAs[Long]("n_removed_tokens"),
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }
}
