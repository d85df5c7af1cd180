package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.DocVectors
import graft.functions.PortableHash

class DocVectorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Scala twin of the hashed-TF vector. */
  def vec(text: String): Seq[Float] = {
    val toks = raw"[^\s]+".r.findAllIn(text.toLowerCase).toSeq
    val hs = toks.map { t =>
      val padded = (t + "........").take(8)
      val poly = padded.zipWithIndex.map { case (c, i) =>
        c.toLong * math.pow(31, i).toLong }.sum
      (math.min(t.length.toLong, 1000000L) * math.pow(31, 8).toLong + poly) %
        DocVectors.Dim
    }
    (0 until DocVectors.Dim).map(d =>
      (hs.count(_ == d).toDouble / hs.size).toFloat)
  }

  test("golden: vectors are per-dim token shares; empty and NULL docs drop") {
    val out = DocVectors.docVectors(docs(
        (1L, "alpha beta alpha"),
        (2L, "Alpha  ALPHA alpha"), // case-folds + multi-space ⇒ one dim = 1.0
        (3L, ""),
        (4L, null.asInstanceOf[String])))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L).toSeq === vec("alpha beta alpha"))
    assert(out(1L).sum === 1.0f)
    assert(out(1L).count(_ > 0f) === 2) // alpha and beta hash apart
    assert(out(2L).toSeq.count(_ == 1.0f) === 1) // single-token direction
    assert(out(2L).size === DocVectors.Dim)
  }

  test("docKnn: duplicate and near-duplicate text rank first, cosine 1.0 for exact") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val out = DocVectors.docKnn(docs(
        (0L, base),
        (1L, "completely different words about spark catalyst plans"),
        (100L, base),                       // exact duplicate of 0
        (101L, base + " postscript"),       // near duplicate
        (102L, "unrelated third text body entirely")),
      nQueries = 1L, k = 2).collect().sortBy(_.getAs[Long]("rank"))
    assert(out.head.getAs[Long]("neighbor_id") === 100L)
    assert(out.head.getAs[Double]("cos_sim") === 1.0)
    assert(out(1).getAs[Long]("neighbor_id") === 101L)
    assert(out(1).getAs[Double]("cos_sim") > 0.9)
  }

  test("docDedup: exact copies and paraphrases cluster; distinct texts survive alone") {
    val a = "measure twice cut once said the carpenter to the apprentice"
    val out = DocVectors.docDedup(docs(
        (0L, a),
        (1L, a),                                                // exact copy
        (2L, "the apprentice said to the carpenter cut once measure twice"), // reorder ⇒ same TF vector
        (3L, "entirely unrelated prose about catalyst optimizer internals"),
        (4L, "entirely unrelated prose about catalyst optimizer internals")))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_survivor")))).toMap
    assert(out(0L) === ((0L, true)))
    assert(out(1L) === ((0L, false)))
    assert(out(2L) === ((0L, false))) // bag-of-words: word order invisible
    assert(out(3L) === ((3L, true)))
    assert(out(4L) === ((3L, false)))
  }

  test("docAnnKnn: the bucket-probe path finds planted duplicates at rank 1") {
    val rnd = new scala.util.Random(101)
    val words = Vector("kappa", "lambda", "sigma", "omega", "delta", "theta",
      "epsilon", "zeta", "gamma", "iota")
    val base = (0L until 40L).map(i =>
      i -> Seq.fill(8 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    val dups = (0L until 4L).map(i => (300L + i) -> base(i.toInt)._2)
    val out = DocVectors.docAnnKnn(docs(base ++ dups: _*), nQueries = 4L, k = 3)
      .collect().filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))).toMap
    for (q <- 0L until 4L) {
      // exact text copy ⇒ identical vector ⇒ identical buckets in every
      // table ⇒ guaranteed candidate; exact rescore puts it on top
      assert(out(q)._1 === 300L + q)
      assert(out(q)._2 === 1.0)
    }
  }

  test("docAnnRecall report agrees with direct set comparison on the text fixture") {
    val rnd = new scala.util.Random(103)
    val words = Vector("mu", "nu", "xi", "rho", "tau", "phi", "chi", "psi")
    val base = (0L until 30L).map(i =>
      i -> Seq.fill(6 + rnd.nextInt(15))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    val dups = (0L until 3L).map(i => (300L + i) -> base(i.toInt)._2)
    val d = docs(base ++ dups: _*)
    val report = DocVectors.docAnnRecall(d, nQueries = 3L, k = 4)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hits")))).toMap
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = sets(DocVectors.docKnn(d, nQueries = 3L, k = 4))
    val ann = sets(DocVectors.docAnnKnn(d, nQueries = 3L, k = 4))
    assert(report.keySet === (0L until 3L).toSet)
    report.foreach { case (q, (nExact, nHits)) =>
      assert(nExact === exact(q).size.toLong)
      assert(nHits === (exact(q) & ann.getOrElse(q, Set())).size.toLong)
    }
    assert(report.values.forall(_._2 >= 1L)) // the exact dup is always recalled
  }

  test("native dim_shares expression is bit-identical to the declarative reference formulation") {
    val rnd = new scala.util.Random(97)
    val words = Vector("one", "two", "longerword", "x", "mixedCASE", "ünïcode")
    val rows = (0L until 40L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toMap
    import org.apache.spark.sql.functions._
    // the per-dimension share as interpreted HOFs: Dim × n lambda calls
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    val reference = docs(rows: _*).select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(DocVectors.Dim - 1)), d =>
          (size(filter(transform(col("toks"),
              t => PortableHash.tokHash(t) % DocVectors.Dim), x => x === d)) /
            size(col("toks"))).cast("float")).as("embedding"))
    val native = m(DocVectors.docVectors(docs(rows: _*)))
    assert(native === m(reference))
    assert(native.nonEmpty)
  }

  test("property: engine vectors equal the Scala twin on random token soup") {
    val rnd = new scala.util.Random(89)
    val words = Vector("ara", "bel", "cor", "dun", "eld", "fin", "gor", "hul")
    val rows = (0L until 30L).map(i =>
      i -> Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    val got = DocVectors.docVectors(docs(rows: _*)).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toMap
    assert(got === rows.map { case (id, t) => id -> vec(t) }.toMap)
  }
}
