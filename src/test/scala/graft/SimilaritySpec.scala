package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def embeds(rows: (Long, Seq[Float])*) =
    rows.toSeq.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")

  /** Scala twin of the engine's quantized cosine — used as the oracle in
    * property tests (same floor(x·1e6) int64 arithmetic). */
  def cos(a: Seq[Float], b: Seq[Float]): Double = {
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    val (qa, qb) = (q(a), q(b))
    val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
    dot.toDouble / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
      math.sqrt(qb.map(x => x * x).sum.toDouble))
  }

  /** Scala twin of the SRP bucket id for hash table t. */
  def bucket(v: Seq[Float], t: Int): Long = {
    val qv = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    (0 until Similarity.PlanesPerTable).map { j =>
      val (a, b) = Similarity.planeParams(t * Similarity.PlanesPerTable + j)
      val proj = qv.zipWithIndex.map { case (x, i0) =>
        x * ((a * (i0 + 1) + b) % 997 - 498)
      }.sum
      if (proj >= 0) 1L << j else 0L
    }.sum
  }

  /** True iff the pair collides in at least one of the L hash tables. */
  def collides(va: Seq[Float], vb: Seq[Float]): Boolean =
    (0 until Similarity.NumTables).exists(t => bucket(va, t) == bucket(vb, t))

  test("golden: kNN ranks by cosine with deterministic tie-break") {
    val out = Similarity.embedKnn(embeds(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(-1f, 0f, 0f)),
      (4L, Seq(1f, 0.01f, 0f))), nQueries = 1L, k = 2)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(4L, 1L))
    assert(out.map(_.getAs[Long]("query_id")).distinct.toSeq === Seq(0L))
    assert(out.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("property: bounded top-k aggregate equals brute-force ranking") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val k = 4
    val nQ = 3L
    val expected = (for {
      (qid, qv) <- vecs.take(nQ.toInt)
    } yield qid -> vecs.filter(_._1 != qid)
      .map { case (nid, nv) => (nid, cos(qv, nv)) }
      .sortBy { case (nid, c) => (-c, nid) }.take(k).map(_._1).toList).toMap
    val got = Similarity.embedKnn(embeds(vecs: _*), nQueries = nQ, k = k)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toList
      }
    assert(got === expected)
  }

  test("golden: identical vectors share a bucket and pair at cos 1.0") {
    val v = Seq(0.3f, -0.2f, 0.5f, 0.1f)
    val out = Similarity.embedAnnPairs(embeds((1L, v), (2L, v)), simThreshold = 0.1)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("vec_a") === 1L)
    assert(out.head.getAs[Long]("vec_b") === 2L)
    // dot/(sqrt(n)·sqrt(n)) lands within one ulp of 1.0 — and lands on the
    // SAME double in DuckDB (identical expression shape), which is what the
    // oracle compare needs
    assert(math.abs(out.head.getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("property: ANN pairs = exactly the union-over-tables bucket collisions above threshold") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val thr = 0.1
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && collides(va, vb) && cos(va, vb) >= thr
    } yield (ia, ib)).toSet
    val got = Similarity.embedAnnPairs(embeds(vecs: _*), simThreshold = thr)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(got === expected)
    assert(expected.nonEmpty) // the property must actually exercise pairs
  }

  test("native sign_buckets_of_quantized equals the declarative twin, incl. edge cases") {
    import org.apache.spark.sql.functions.{call_function, col}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    // normal vectors: the expression path (annBands) vs the Scala twin
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 25L).map(i => i -> Seq.fill(10)(rnd.nextFloat() - 0.5f))
    val bands = Similarity.annBands(Similarity.vectors(embeds(vecs: _*)))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("tbl"))
        -> r.getAs[Long]("bucket")).toMap
    for ((id, v) <- vecs; t <- 0 until Similarity.NumTables)
      assert(bands((id, t.toLong)) === bucket(v, t))
    // raw-array edge semantics (unreachable through vectors(), but the
    // expression must not diverge from the reference formulation): a NULL
    // element nullifies every projection → when(null >= 0) → 0 buckets;
    // an empty array leaves every projection at the fold seed 0 → proj
    // >= 0 holds → every bit set
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("qv", ArrayType(LongType, containsNull = true))))
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Seq[Any](3L, null, 5L)), Row(2L, Seq.empty[Any])),
      schema)
    val got = raw.select(col("vec_id"),
        call_function("sign_buckets_of_quantized", col("qv")).as("b"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1).toList).toMap
    assert(got(1L) === List.fill(Similarity.NumTables)(0L))
    assert(got(2L) ===
      List.fill(Similarity.NumTables)((1L << Similarity.PlanesPerTable) - 1L))
  }

  test("property: ANN kNN = top-k by cosine over exactly the bucket-collision candidates") {
    val rnd = new scala.util.Random(41)
    val base = (0L until 50L).map(i => i -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    // make the first queries actually have near neighbors in the index
    val dups = (0L until 6L).map { i =>
      (200L + i) -> base(i.toInt)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    }
    val vecs = base ++ dups
    val (nQ, k) = (6L, 3)
    val expected = (for {
      (qid, qv) <- vecs.take(nQ.toInt)
    } yield qid -> vecs
      .filter { case (nid, nv) => nid != qid && collides(qv, nv) }
      .map { case (nid, nv) => (nid, cos(qv, nv)) }
      .sortBy { case (nid, c) => (-c, nid) }.take(k).map(_._1).toList)
      .filter(_._2.nonEmpty).toMap
    val got = Similarity.embedAnnKnn(embeds(vecs: _*), nQueries = nQ, k = k)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toList
      }
    assert(got === expected)
    // the planted near-duplicates must be found as top-1
    for (i <- 0L until 6L) assert(expected(i).headOption === Some(200L + i))
  }

  test("property: IVF kNN = top-k over exactly the probed inverted lists") {
    // kmeansIters = 0 pins the RAW prefix quantizer — the Scala twin below
    // models centroids = the first nc vectors verbatim; the refined path
    // is covered by the recall property two tests down
    val rnd = new scala.util.Random(61)
    val vecs = (0L until 60L).map(i => i -> Seq.fill(10)(rnd.nextFloat() - 0.5f))
    val (nQ, k, nc, np) = (5L, 3, 8, 2)
    val byId = vecs.toMap
    val cents = (0L until nc.toLong)
    // Scala twin: assignment = argmax cosine (ties → smaller cid)
    def assign(v: Seq[Float]): Long =
      cents.map(c => c -> cos(v, byId(c))).minBy { case (c, s) => (-s, c) }._1
    val asg = vecs.map { case (id, v) => id -> assign(v) }.toMap
    val expected = (for {
      (qid, qv) <- vecs.take(nQ.toInt)
      probed = cents.map(c => c -> cos(qv, byId(c)))
        .sortBy { case (c, s) => (-s, c) }.take(np).map(_._1).toSet
    } yield qid -> vecs
      .filter { case (nid, _) => nid != qid && probed.contains(asg(nid)) }
      .map { case (nid, nv) => (nid, cos(qv, nv)) }
      .sortBy { case (nid, c) => (-c, nid) }.take(k).map(_._1).toList).toMap
    val got = Similarity.embedIvfKnn(embeds(vecs: _*), nQueries = nQ, k = k,
        numCentroids = nc, nProbe = np, kmeansIters = 0)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toList
      }
    assert(got === expected)
    assert(expected.values.exists(_.nonEmpty))
  }

  /** `query_id -> top-k neighbor set` of a search-operator result. */
  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }

  /** Mean per-query recall of `got` against the exact top-k `truth`. */
  private def meanRecall(truth: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    truth.keys.toSeq.map { q =>
      (truth(q) & got.getOrElse(q, Set.empty[Long])).size.toDouble / truth(q).size
    }.sum / truth.size

  test("property: ANN kNN recall vs exact kNN ground truth; planted near-dups always found") {
    // Ground truth is the engine's OWN exact operator (embedKnn), per the
    // round-4 verdict: the pairs operator had a brute-force recall
    // property but the search paths only asserted candidate-set identity.
    // Deterministic fixture (fixed seed + fixed hyperplanes) ⇒ the bound
    // is a regression pin, not a flaky sample.
    val rnd = new scala.util.Random(71)
    val base = (0L until 60L).map(i => i -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    val dups = (0L until 8L).map { i =>
      (300L + i) -> base(i.toInt)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    }
    val vecs = base ++ dups
    val nQ = 8L
    // recall@1 — the near-duplicate regime the index exists for: each
    // query's exact top-1 is its planted cos≈0.995 copy, and the banded
    // S-curve puts such pairs at ~96% per-pair collision probability, so
    // the deterministic fixture must recall ALL of them
    val exact1 = topkSets(Similarity.embedKnn(embeds(vecs: _*), nQueries = nQ, k = 1))
    val ann1 = topkSets(Similarity.embedAnnKnn(embeds(vecs: _*), nQueries = nQ, k = 1))
    assert(meanRecall(exact1, ann1) === 1.0, "ANN kNN must recall every planted near-dup top-1")
    for (i <- 0L until 8L) assert(exact1(i) === Set(300L + i))
    // recall@5 — the far tail: ranks 2..5 of a random query sit near
    // cos ≈ 0.5, which the S-curve is DESIGNED to prune (per-table
    // collision (1-θ/π)^12 ≈ 0.8%); the mean recall pin documents that
    // falloff honestly rather than pretending the index is exact
    val exact5 = topkSets(Similarity.embedKnn(embeds(vecs: _*), nQueries = nQ, k = 5))
    val ann5 = topkSets(Similarity.embedAnnKnn(embeds(vecs: _*), nQueries = nQ, k = 5))
    val recall5 = meanRecall(exact5, ann5)
    assert(recall5 >= 0.2 && recall5 < 1.0,
      s"ANN kNN recall@5 $recall5 outside the expected S-curve band")
  }

  test("annRecall report agrees with the spec's own recall measurement") {
    // same planted fixture as the recall property above; the REPORT must
    // say what direct set comparison says, per query, in millionths
    val rnd = new scala.util.Random(71)
    val base = (0L until 60L).map(i => i -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    val dups = (0L until 8L).map { i =>
      (300L + i) -> base(i.toInt)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    }
    val vecs = base ++ dups
    val report = Similarity.annRecall(embeds(vecs: _*), nQueries = 8L, k = 5)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("recall_millionths")))).toMap
    val exact5 = topkSets(Similarity.embedKnn(embeds(vecs: _*), nQueries = 8L, k = 5))
    val ann5 = topkSets(Similarity.embedAnnKnn(embeds(vecs: _*), nQueries = 8L, k = 5))
    assert(report.keySet === (0L until 8L).toSet)
    report.foreach { case (q, (nExact, nHits, mills)) =>
      assert(nExact === exact5(q).size.toLong)
      assert(nHits === (exact5(q) & ann5.getOrElse(q, Set())).size.toLong, s"q=$q")
      assert(mills === nHits * 1000000L / nExact)
      assert(nHits <= nExact)
    }
    // the planted top-1 near-dup is always recalled → every query ≥ 1 hit
    assert(report.values.forall(_._2 >= 1L))
  }

  test("property: k-means IVF recall ≥ raw prefix-seed recall vs exact kNN ground truth") {
    // 16 clusters quantized through 6 centroids, single-probe — the
    // regime where coarse-quantizer QUALITY is the whole game: with more
    // clusters than lists, recall hinges on boundaries aligning with
    // cluster structure, which Lloyd iterations optimize and a raw
    // prefix sample cannot. Measured on this fixture: prefix 0.88,
    // 5-iteration k-means 1.0. Deterministic (fixed seed, fixed
    // iteration count), so the strict > is a regression pin.
    val rnd = new scala.util.Random(17)
    val dim = 12; val nClusters = 16
    val centers = (0 until nClusters).map(_ => Seq.fill(dim)(rnd.nextFloat() - 0.5f))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % nClusters).toInt)
      i -> c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.4f)
    }
    val (nQ, k, nc, np) = (10L, 5, 6, 1)
    val e = embeds(vecs: _*)
    val exact = topkSets(Similarity.embedKnn(e, nQueries = nQ, k = k))
    def recallAt(iters: Int): Double = meanRecall(exact,
      topkSets(Similarity.embedIvfKnn(e, nQueries = nQ, k = k,
        numCentroids = nc, nProbe = np, kmeansIters = iters)))
    val (prefix, kmeans) = (recallAt(0), recallAt(5))
    assert(kmeans >= 0.95, s"k-means IVF recall $kmeans")
    assert(kmeans > prefix,
      s"k-means refinement must beat the raw prefix seed here: $kmeans vs $prefix")
  }

  test("incremental ANN = exactly the bucket collisions touching the shard") {
    val rnd = new scala.util.Random(53)
    val base = (0L until 30L).map(i => i -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    // shard: a near-copy of corpus vector 0 plus two fresh vectors
    val shard = Seq(
      100L -> base(0)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f),
      101L -> Seq.fill(12)(rnd.nextFloat() - 0.5f),
      102L -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    val all = base ++ shard
    val thr = -1.0 // keep every collision: the property is the candidate set
    val expected = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && collides(va, vb) && (ia >= 100L || ib >= 100L)
    } yield (ia, ib)).toSet
    val corpusV = Similarity.vectors(embeds(base: _*))
    val got = Similarity.incrementalAnnPairs(embeds(shard: _*),
        corpusV, Similarity.annBands(corpusV), simThreshold = thr)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(got === expected)
    assert(got.contains((0L, 100L))) // the planted near-copy is found
    assert(!got.exists { case (a, b) => a < 100L && b < 100L })
  }

  test("golden: one Lloyd round computes the quantized per-dimension floor-means") {
    // two obvious axis clusters seeded by their first members; after one
    // round each centroid must be exactly the per-dimension
    // floor(sum/count) of its members' quantized coordinates — computed
    // here by an independent Scala twin, not by trusting the operator
    val vecs = Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(0.9f, 0.1f), 3L -> Seq(0.8f, 0.2f),
      4L -> Seq(0.1f, 0.9f), 5L -> Seq(0.2f, 0.8f))
    val byId = vecs.toMap
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    val seeds = Seq(0L, 1L)
    val asg = vecs.map { case (id, v) =>
      id -> seeds.minBy(s => (-cos(v, byId(s)), s)) }.toMap
    val expected = seeds.map { s =>
      val members = vecs.collect { case (id, v) if asg(id) == s => q(v) }
      s -> (0 until 2).map(d =>
        math.floor(members.map(_(d)).sum.toDouble / members.size).toLong).toList
    }.toMap
    val got = Similarity.kmeansCentroids(
        Similarity.vectors(embeds(vecs: _*)), numCentroids = 2, iters = 1)
      .collect().map(r => r.getAs[Long]("cid") ->
        r.getSeq[Long](r.fieldIndex("cqv")).toList).toMap
    assert(got === expected)
  }

  test("IVF assignment persists as a cid-partitioned index whose probe reads prune") {
    // the production index story embedIvfKnn's scaladoc documents: the
    // (vec_id, cid) assignment relation is written partitioned by cid;
    // probing a list is a partition-pruned read that round-trips the
    // derived assignment exactly
    val rnd = new scala.util.Random(89)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val v = Similarity.vectors(embeds(vecs: _*)).localCheckpoint()
    val cent = Similarity.kmeansCentroids(v, numCentroids = 4, iters = 2)
    val asg = Similarity.ivfAssign(v, cent)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
    try {
      val path = dir.toString
      asg.write.mode("overwrite").partitionBy("cid").parquet(path)
      val probedCid = asg.collect().map(_.getAs[Long]("cid")).groupBy(identity)
        .maxBy(_._2.length)._1 // the fullest list
      val read = spark.read.parquet(path)
        .filter(org.apache.spark.sql.functions.col("cid") === probedCid)
      val plan = read.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r.findFirstIn(plan).isDefined,
        s"cid probe not applied as a partition filter:\n$plan")
      val expected = asg.filter(org.apache.spark.sql.functions.col("cid") === probedCid)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(read.collect().map(_.getAs[Long]("vec_id")).toSet === expected)
      assert(expected.size > 1, "fixture's probed list must be non-trivial")
    } finally { // deleteOnExit can't remove non-empty dirs
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("native dot_of_quantized equals the declarative fold, incl. null/ragged/empty edges") {
    import org.apache.spark.sql.functions.{aggregate, call_function, col, lit, zip_with}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(LongType, containsNull = true)),
      StructField("b", ArrayType(LongType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(1L, Seq[Any](2L, -3L, 5L), Seq[Any](7L, 11L, -13L)), // plain
      Row(2L, Seq[Any](2L, 3L), Seq[Any](4L, 5L, 6L)),         // ragged → NULL
      Row(3L, Seq[Any](2L, null, 5L), Seq[Any](1L, 1L, 1L)),   // null elem → NULL
      Row(4L, Seq.empty[Any], Seq.empty[Any]),                  // empty → seed 0
      Row(5L, null, Seq[Any](1L)),                              // null array → NULL
      Row(6L, Seq[Any](1000000L, -2000000L), Seq[Any](2000000L, 1000000L))) // big
    val df = spark.createDataFrame(rows, schema)
    val declarative = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0L), (acc, t) => acc + t)
    val out = df.select(col("id"),
        call_function("dot_of_quantized", col("a"), col("b")).as("native"),
        declarative.as("decl"))
      .collect().map(r => r.getAs[Long]("id") ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    for ((id, (n, d)) <- out) assert(n === d, s"row $id: native=$n declarative=$d")
    assert(out(1L)._1 === Some(2L * 7L - 3L * 11L - 5L * 13L))
    assert(out(2L)._1 === None)
    assert(out(3L)._1 === None)
    assert(out(4L)._1 === Some(0L))
    assert(out(5L)._1 === None)
    assert(out(6L)._1 === Some(0L)) // 2e12 - 2e12: exact int64, no overflow
  }

  test("persisted-artifact round-trip: incremental ANN over parquet-bucketed sketch relations") {
    // Same production-story proof as the dedup twin: the corpus sketches
    // (quantized vectors + (tbl, bucket) bands) are written as bucketed
    // parquet tables, re-read, and the incremental pairing over the
    // re-read relations must be row-identical (cos_sim doubles included)
    // to the derived-relation path.
    val rnd = new scala.util.Random(83)
    val base = (0L until 30L).map(i => i -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    val shard = Seq(
      100L -> base(0)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f),
      101L -> Seq.fill(12)(rnd.nextFloat() - 0.5f))
    val corpusV = Similarity.vectors(embeds(base: _*)).localCheckpoint()
    val corpusB = Similarity.annBands(corpusV)
    spark.sql("DROP TABLE IF EXISTS ann_vecs_rt")
    spark.sql("DROP TABLE IF EXISTS ann_bands_rt")
    corpusV.write.mode("overwrite").saveAsTable("ann_vecs_rt")
    corpusB.write.mode("overwrite")
      .bucketBy(4, "tbl", "bucket").sortBy("vec_id").saveAsTable("ann_bands_rt")
    def pairsOf(v: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Similarity.incrementalAnnPairs(embeds(shard: _*), v, b, simThreshold = -1.0)
        .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
          r.getAs[Double]("cos_sim"))).toSet
    val fromDerived = pairsOf(corpusV, corpusB)
    val fromReread = pairsOf(spark.table("ann_vecs_rt"), spark.table("ann_bands_rt"))
    assert(fromReread === fromDerived)
    assert(fromDerived.nonEmpty, "fixture must actually produce pairs")
    spark.sql("DROP TABLE ann_vecs_rt")
    spark.sql("DROP TABLE ann_bands_rt")
  }

  test("property: banded LSH recalls planted near-duplicate pairs vs brute-force ground truth") {
    // 60 random base vectors + a perturbed near-copy of each of the first
    // 20 (cosine ≈ 0.995): ground truth = ALL pairs with cos ≥ 0.95 by
    // brute force; recall = fraction the banded LSH surfaces. Everything
    // is deterministic (fixed seed, fixed hyperplanes), so the asserted
    // bound is a regression pin, not a flaky sample. A single 12-plane
    // table recalls ~54% of cos≈0.995 pairs ((1-θ/π)^12); the 4-table OR
    // lifts that to ~96% — the assertion leaves slack for the planted
    // geometry but must beat any single table by a wide margin.
    val rnd = new scala.util.Random(23)
    val base = (0L until 60L).map(i => i -> Seq.fill(16)(rnd.nextFloat() - 0.5f))
    val dups = (0L until 20L).map { i =>
      (100L + i) -> base(i.toInt)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    }
    val vecs = base ++ dups
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.95
    } yield (ia, ib)).toSet
    assert(truth.size >= 15, s"planting failed: only ${truth.size} ground-truth pairs")
    val got = Similarity.embedAnnPairs(embeds(vecs: _*), simThreshold = 0.95)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall over ${truth.size} planted pairs")
  }

  test("property: semantic dedup = connected components of the ANN pair graph") {
    // ground truth: union-find over exactly the pairs the LSH surfaces
    // (bucket collision in ≥1 table AND cos ≥ τ) — the documented
    // candidate-recall semantics, so the test derives the graph from the
    // same public geometry helpers, independently of the operator.
    val rnd = new scala.util.Random(31)
    val base = (0L until 25L).map(i => i -> Seq.fill(16)(rnd.nextFloat() - 0.5f))
    // two planted chains of FRESH vectors (not copies of a base vector —
    // an exact copy would merge its whole chain into that base id's
    // component and the survivor would be the base id, not 100/200)
    def jitter(v: Seq[Float], eps: Float) =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * eps)
    val f1 = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val f2 = Seq.fill(16)(rnd.nextFloat() - 0.5f)
    val c1 = Seq(100L -> f1, 101L -> jitter(f1, 0.02f), 102L -> jitter(f1, 0.04f))
    val c2 = Seq(200L -> f2, 201L -> jitter(f2, 0.02f))
    val vecs = base ++ c1 ++ c2
    val tau = 0.9
    val parent = scala.collection.mutable.Map(vecs.map(_._1 -> -1L): _*)
    def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
    for { (ia, va) <- vecs; (ib, vb) <- vecs
          if ia < ib && collides(va, vb) && cos(va, vb) >= tau } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = vecs.map { case (id, _) => id -> find(id) }.toMap
    val out = Similarity.semanticDedup(embeds(vecs: _*), simThreshold = tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_survivor"))).toMap
    assert(out.keySet === vecs.map(_._1).toSet) // one row per input vector
    for ((id, rep) <- expected) {
      assert(out(id)._1 === rep, s"vec $id")
      assert(out(id)._2 === (rep == id))
    }
    // the planted chains actually merged (the test isn't vacuous)
    assert(expected(101L) === 100L && expected(102L) === 100L)
    assert(expected(201L) === 200L)
  }

  def labeled(rows: (Long, Seq[Float], Int)*) =
    rows.toSeq.toDF("vec_id", "embedding", "label")

  test("golden: kNN classification takes the majority label; ties break low") {
    // queries 0,1; corpus: label 7 twice near +x, label 3 once near +x,
    // label 3 twice near +y, label 2 once near +y
    val out = Similarity.knnClassify(labeled(
      (0L, Seq(1f, 0f), 0),         // query pointing +x
      (1L, Seq(0f, 1f), 0),         // query pointing +y
      (10L, Seq(0.99f, 0.01f), 7),
      (11L, Seq(0.98f, 0.02f), 7),
      (12L, Seq(0.97f, 0.03f), 3),
      (20L, Seq(0.01f, 0.99f), 3),
      (21L, Seq(0.02f, 0.98f), 3),
      (22L, Seq(0.03f, 0.97f), 2)), nQueries = 2L, k = 3)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(out(0L) === (7L, 2L))
    assert(out(1L) === (3L, 2L))
    // tie case: k=2 near +x picks one of each in the top set? construct
    // explicitly — two neighbors with different labels, equal votes → the
    // smaller label wins
    val tie = Similarity.knnClassify(labeled(
      (0L, Seq(1f, 0f), 0),
      (10L, Seq(0.99f, 0.01f), 9),
      (11L, Seq(0.98f, 0.02f), 4)), nQueries = 1L, k = 2).first()
    assert(tie.getAs[Long]("pred_label") === 4L)
    assert(tie.getAs[Long]("votes") === 1L)
  }

  test("annOccupancy bounds the bucket self-join's pair count from counts alone") {
    // vectors 1 and 2 are near-identical (they co-bucket in every table),
    // 3 points the other way; the report's Σ n_pairs must equal the
    // brute-force per-(tbl, bucket) pair count from the Scala bucket twin
    val vs = Seq(
      1L -> Seq(1.0f, 0.2f, 0.1f, 0.4f),
      2L -> Seq(1.0f, 0.2f, 0.1f, 0.401f),
      3L -> Seq(-1.0f, -0.3f, 0.2f, -0.4f))
    val report = Similarity.annOccupancy(embeds(vs: _*)).collect()
      .map(r => (r.getAs[Long]("tbl"), r.getAs[Long]("size_band")) ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs")))
    assert(report.map(_._2._2).sum === Similarity.NumTables.toLong * vs.size)
    val expectPairs = (0 until Similarity.NumTables).map { t =>
      vs.map { case (_, v) => bucket(v, t) }.groupBy(identity).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    assert(report.map(_._2._3).sum === expectPairs)
    assert(expectPairs > 0L, "fixture must co-bucket somewhere")
  }

  test("ivfOccupancy: list sizes partition the corpus and shares floor-sum to ≤ 1e6") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nVecs = Similarity.vectors(e).count()
    val rows = Similarity.ivfOccupancy(e).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("share_millionths")))
    // every non-degenerate vector sits in exactly one inverted list
    assert(rows.map(_._2).sum === nVecs)
    assert(rows.nonEmpty && rows.forall(_._2 > 0L))
    // integer floor shares: each in (0, 1e6], total within one floor
    // per list of the full million
    assert(rows.forall(r => r._3 >= 0L && r._3 <= 1000000L))
    val total = rows.map(_._3).sum
    assert(total <= 1000000L && total > 1000000L - rows.length,
      s"shares sum $total outside the floor band")
    // the report's lists are the IVF assignment's lists, size for size
    val asg = Similarity.ivfAssign(
      Similarity.vectors(e).localCheckpoint(),
      Similarity.kmeansCentroids(Similarity.vectors(e).localCheckpoint(), 16, 5))
      .groupBy("cid").count().collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Long]("count")).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === asg)
  }

  test("incremental IVF: frozen-centroid shard assignment = the full assignment's shard slice") {
    import org.apache.spark.sql.functions.col
    // assignment is per-vector under a fixed quantizer, so scoring ONLY
    // the shard must give exactly what a full re-assignment would give
    // those vectors — the property that makes the incremental spelling
    // sound (only the shard pays)
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cent = Similarity.kmeansCentroids(
      Similarity.vectors(e.filter(col("vec_id") % 10 =!= 9)).localCheckpoint(),
      16, 5)
    val incr = Similarity.incrementalIvfAssign(
        e.filter(col("vec_id") % 10 === 9), cent)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    val full = Similarity.ivfAssign(Similarity.vectors(e).localCheckpoint(), cent)
      .filter(col("vec_id") % 10 === 9)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    assert(incr.nonEmpty)
    assert(incr === full)
  }

  test("property: kNN classification equals brute-force vote over exact top-k") {
    val rnd = new scala.util.Random(41)
    val nQ = 4L
    val k = 5
    val vecs = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat() - 0.5f),
      rnd.nextInt(3)))
    val expected = vecs.take(nQ.toInt).map { case (qid, qv, _) =>
      val top = vecs.filter(_._1 >= nQ)
        .map { case (id, v, lab) => (id, cos(qv, v), lab) }
        .sortBy { case (id, c, _) => (-c, id) }.take(k)
      val votes = top.groupBy(_._3).view.mapValues(_.size)
      val (lab, n) = votes.toSeq.minBy { case (l, n) => (-n, l) }
      qid -> (lab.toLong, n.toLong)
    }.toMap
    val got = Similarity.knnClassify(labeled(vecs: _*), nQueries = nQ, k = k)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(got === expected)
  }

  test("embedSimHist golden: orthogonal, 0.6 and 0.8 cosines band exactly") {
    // pairs: (1,2) cos 0 → band 0; (1,3) cos 0.6 → 12; (2,3) cos 0.8 → 16
    val out = Similarity.embedSimHist(embeds(
        (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.6f, 0.8f))))
      .collect().map(r => r.getAs[Long]("cos_band") -> r.getAs[Long]("n_pairs")).toMap
    assert(out === Map(0L -> 1L, 12L -> 1L, 16L -> 1L))
  }

  test("embedSimHist: pair totals are the sample's n·(n−1)/2") {
    import org.apache.spark.sql.functions.sum
    val vecs = (1L to 20L).map(i =>
      (i, Seq((i % 7).toFloat / 7f + 0.1f, (i % 5).toFloat / 5f + 0.1f, 0.3f)))
    val total = Similarity.embedSimHist(embeds(vecs: _*))
      .agg(sum("n_pairs")).first().getLong(0)
    assert(total === 20L * 19L / 2L)
  }

  test("embedNormStats: healthy band plus the -1/0 pathology sentinels") {
    // (0.6, 0.8) quantizes to (600000, 800000): nrm² = 10¹² exactly,
    // whose band floor is 2³⁹; the zero vector lands in band 0; a NULL
    // coordinate and a NULL vector both land in band -1 (with n_dims
    // kept for the former — the ragged-ingest signal — and NULL for the
    // latter)
    val rows = Seq(
      (1L, Some(Seq(Some(0.6f), Some(0.8f))), 0),
      (2L, Some(Seq(Some(0.0f), Some(0.0f))), 0),
      (3L, Some(Seq(Some(0.5f), None)), 0),
      (4L, (None: Option[Seq[Option[Float]]]), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.embedNormStats(df).collect()
      .map(r => (if (r.isNullAt(0)) -99L else r.getLong(0),
        r.getAs[Long]("norm2_band")) -> r.getAs[Long]("n_vecs")).toMap
    assert(out === Map(
      (2L, 1L << 39) -> 1L,
      (2L, 0L) -> 1L,
      (2L, -1L) -> 1L,
      (-99L, -1L) -> 1L))
  }

  /** Scala twin of the whole PQ train+encode chain (quantize → slice →
    * joint Lloyd with floor-mean updates and (sqd, cid) argmin ties →
    * final encode) — the property tests' ground truth. */
  private def pqScalaCodes(vecs: Seq[(Long, Seq[Float])],
      ksub: Int = Similarity.PqCodebookSize,
      iters: Int = Similarity.PqIters): Map[(Long, Long), (Long, Long)] = {
    val M = Similarity.PqSubspaces
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    val subv: Seq[(Long, Int, Seq[Long])] = vecs
      .filter { case (_, v) => q(v).map(x => x * x).sum > 0L }
      .flatMap { case (id, v) =>
        val qv = q(v); val ds = qv.length / M
        (0 until M).map(m => (id, m, qv.slice(m * ds, (m + 1) * ds)))
          .filter(_._3.nonEmpty)
      }
    def sqd(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cb: Map[(Int, Long), Seq[Long]]) = subv.flatMap { case (id, m, s) =>
      val cands = cb.toSeq.collect {
        case ((mm, cid), c) if mm == m && c.length == s.length => (cid, c)
      }
      if (cands.isEmpty) None
      else {
        val (cid, c) = cands.minBy { case (cid, c) => (sqd(s, c), cid) }
        Some((id, m, cid, sqd(s, c), s))
      }
    }
    var cb: Map[(Int, Long), Seq[Long]] = subv.filter(_._1 < ksub)
      .map { case (id, m, s) => ((m, id), s) }.toMap
    for (_ <- 0 until iters) {
      cb = assign(cb).groupBy(t => (t._2, t._3)).map { case (k, members) =>
        val dims = members.map(_._5.length).max
        k -> (0 until dims).map { d =>
          val vals = members.map(_._5).filter(_.length > d).map(_(d))
          math.floor(vals.sum.toDouble / vals.size).toLong
        }
      }
    }
    assign(cb).map { case (id, m, cid, e, _) => (id, m.toLong) -> (cid, e) }.toMap
  }

  test("property: pqCodes equals the Scala twin of the joint Lloyd chain") {
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 50L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val got = Similarity.pqCodes(embeds(vecs: _*)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("qerr")))).toMap
    assert(got === pqScalaCodes(vecs))
    // every surviving vector carries exactly M codes, all from the seed range
    assert(got.keySet.map(_._1).forall(id =>
      got.keySet.count(_._1 == id) === Similarity.PqSubspaces))
    assert(got.values.forall { case (c, e) =>
      c >= 0L && c < Similarity.PqCodebookSize && e >= 0L })
  }

  test("pqCodes: exact duplicates share the full code word") {
    val rnd = new scala.util.Random(43)
    val base = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val vecs = base ++ Seq(200L -> base(13)._2, 201L -> base(29)._2)
    val got = Similarity.pqCodes(embeds(vecs: _*)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("qerr")))).toMap
    for (m <- 0L until Similarity.PqSubspaces.toLong) {
      assert(got((200L, m)) === got((13L, m)))
      assert(got((201L, m)) === got((29L, m)))
    }
  }

  test("pqOccupancy: per-subspace partition of the corpus; avg_qerr cross-checks pqCodes") {
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 60L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val codes = Similarity.pqCodes(embeds(vecs: _*)).collect()
      .map(r => (r.getAs[Long]("m"), r.getAs[Long]("code"), r.getAs[Long]("qerr")))
    val occ = Similarity.pqOccupancy(embeds(vecs: _*)).collect()
      .map(r => (r.getAs[Long]("m"), r.getAs[Long]("code")) ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("share_millionths"),
          r.getAs[Long]("avg_qerr")))).toMap
    for (m <- 0L until Similarity.PqSubspaces.toLong) {
      val cells = occ.filter(_._1._1 == m)
      assert(cells.values.map(_._1).sum === 60L)        // counts partition
      val shareSum = cells.values.map(_._2).sum
      assert(shareSum <= 1000000L && shareSum > 1000000L - cells.size)
    }
    occ.foreach { case ((m, c), (n, _, avg)) =>
      val errs = codes.filter(t => t._1 == m && t._2 == c).map(_._3)
      assert(errs.size.toLong === n)
      assert(avg === errs.sum / n)                       // floor div
    }
  }

  test("embedPqKnn: planted exact duplicates are recalled at rank 1") {
    val rnd = new scala.util.Random(53)
    val base = (0L until 60L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val dups = (0L until 6L).map(i => (300L + i) -> base(i.toInt)._2)
    val out = Similarity.embedPqKnn(embeds(base ++ dups: _*), nQueries = 6L, k = 3)
      .collect()
    val rank1 = out.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))).toMap
    for (qid <- 0L until 6L) {
      // the exact duplicate codes identically, so its ADC distance is the
      // query's own quantization error — always in the shortlist; the
      // exact rerank then puts cos ≈ 1 on top
      assert(rank1(qid)._1 === 300L + qid)
      assert(rank1(qid)._2 > 0.999)
    }
  }

  test("incremental PQ: frozen-codebook shard encode = the full encode's shard slice") {
    val rnd = new scala.util.Random(67)
    val corpus = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val shard = (100L until 110L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val cb = Similarity.pqCodebooksOf(embeds(corpus: _*)).localCheckpoint()
    val incr = Similarity.pqEncode(embeds(shard: _*), cb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("qerr")))).toMap
    val full = Similarity.pqEncode(embeds(corpus ++ shard: _*), cb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("qerr")))).toMap
    assert(incr === full.filter(_._1._1 >= 100L))
    assert(incr.keySet.map(_._1) === (100L until 110L).toSet)
  }

  test("pqRecall report agrees with direct set comparison") {
    val rnd = new scala.util.Random(59)
    val base = (0L until 50L).map(i => i -> Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val dups = (0L until 6L).map(i => (300L + i) -> base(i.toInt)._2)
    val vecs = base ++ dups
    val report = Similarity.pqRecall(embeds(vecs: _*), nQueries = 6L, k = 4)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("recall_millionths")))).toMap
    val exact4 = topkSets(Similarity.embedKnn(embeds(vecs: _*), nQueries = 6L, k = 4))
    val pq4 = topkSets(Similarity.embedPqKnn(embeds(vecs: _*), nQueries = 6L, k = 4))
    assert(report.keySet === (0L until 6L).toSet)
    report.foreach { case (q, (nExact, nHits, mills)) =>
      assert(nExact === exact4(q).size.toLong)
      assert(nHits === (exact4(q) & pq4.getOrElse(q, Set())).size.toLong, s"q=$q")
      assert(mills === nHits * 1000000L / nExact)
    }
    assert(report.values.forall(_._2 >= 1L)) // the exact dup is always recalled
  }
}
