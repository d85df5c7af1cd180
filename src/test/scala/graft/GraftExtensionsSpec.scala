package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions have one registration table
  * ([[GraftExtensions.functions]]): the session extension injects it, and
  * [[GraftExtensions.call]] registers it into a session on first use, so
  * a session without the extension plans and answers the same. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val names = Seq(
    "simhash_of_hashes", "minhash_of_hashes", "sign_buckets_of_quantized",
    "dot_of_quantized", "agree_count_of_hashes", "byte_stats_of_binary",
    "container_walks_of_binary", "tok_hashes_of_text", "tok_hashes_of_tokens", "shingles_of_hashes",
    "win_shingles_of_hashes", "blocks_of_hashes", "luhn_valid", "fold_marks",
    "dim_shares_of_hashes")

  private def registry(s: SparkSession) =
    s.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  private def builder(name: String): Seq[Expression] => Expression =
    GraftExtensions.functions.find(_._1.funcName == name).get._3

  /** A seeded `documents` relation: exact and near copies (dedup pairs,
    * shared boilerplate blocks), accented words, card numbers, a NULL
    * text and random token soup of 0-59 tokens. */
  private def docs(s: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(7)
    val words = Vector("the", "café", "naïve", "data", "spark", "résumé",
      "token", "graph", "edge", "alpha", "beta", "ünïcode", "x")
    def soup(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = soup(40)
    val rows = (0L until 60L).map { i =>
      val text = i % 10 match {
        case 0 => base
        case 1 => base.replaceFirst("data", "datum")
        case 2 => s"pay 4111 1111 1111 1111 or 4111 1111 1111 1112, mail a$i@example.org"
        case 3 => null
        case _ => soup(rnd.nextInt(60))
      }
      (i, text, "en", s"src${i % 4}", Option(text).fold(0L)(_.length.toLong))
    }
    s.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** A seeded `embeddings` relation of 40 eight-dimensional vectors. */
  private def embeds(s: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(11)
    s.createDataFrame((0L until 40L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() - 0.5f), (i % 3).toInt)))
      .toDF("vec_id", "embedding", "label")
  }

  test("the extension injects exactly the table's 15 names") {
    val injected = Seq.newBuilder[String]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        injected += f._1.funcName
    })
    assert(injected.result() === GraftExtensions.functions.map(_._1.funcName))
    assert(injected.result().sorted === names.sorted)
    names.foreach(n => assert(registry(spark).functionExists(FunctionIdentifier(n)), n))
  }

  test("a wrong arity or a non-literal window raises the table's messages") {
    val th = AttributeReference("th", ArrayType(LongType))()
    val e1 = intercept[IllegalArgumentException](builder("dot_of_quantized")(Seq(th)))
    assert(e1.getMessage.contains("dot_of_quantized takes exactly 2 arguments, got 1"))
    val e2 = intercept[IllegalArgumentException](builder("fold_marks")(Seq(th, th)))
    assert(e2.getMessage.contains("fold_marks takes exactly 1 argument, got 2"))
    val w = AttributeReference("w", IntegerType)()
    for (n <- Seq("shingles_of_hashes", "win_shingles_of_hashes", "blocks_of_hashes")) {
      val arity = intercept[IllegalArgumentException](builder(n)(Seq(th, th, th)))
      assert(arity.getMessage.contains(s"$n takes 1 or 2 arguments, got 3"))
      val window = intercept[IllegalArgumentException](builder(n)(Seq(th, w)))
      assert(window.getMessage.contains(s"$n window must be an integer literal"))
      // a literal window builds
      builder(n)(Seq(th, Literal(5)))
    }
  }

  test("a session without the extension registers on first use and gives the same rows") {
    // a fresh session per face, so each face must register by itself
    def bare(): SparkSession = {
      val s = spark.newSession()
      names.foreach(n => registry(s).dropFunction(FunctionIdentifier(n)))
      names.foreach(n =>
        assert(!registry(s).functionExists(FunctionIdentifier(n)), s"$n still registered"))
      s
    }
    val ops: Seq[(String, SparkSession => DataFrame)] = {
      import graft.text.{Dedup, Pii, TextAnalysis, TextSql}
      import graft.ml.{DocVectors, Similarity}
      Seq(
        "docSimhash" -> (s => Dedup.docSimhash(docs(s))),
        "minhashSignatures" -> (s => Dedup.minhashSignatures(docs(s))),
        "signatureBands" -> (s => Dedup.signatureBands(docs(s))),
        "nearDupPairs" -> (s => Dedup.nearDupPairs(docs(s))),
        "piiScrub" -> (s => Pii.piiScrub(docs(s))),
        "textNormalize" -> (s => TextAnalysis.textNormalize(docs(s))),
        "normFoldedMd5" -> (s => {
          val d = docs(s)
          d.select(col("doc_id"), TextAnalysis.normFoldedMd5(d, col("text")))
        }),
        "docRepetition" -> (s => TextAnalysis.docRepetition(docs(s))),
        "boilerplateBlocks" -> (s => TextAnalysis.boilerplateBlocks(docs(s))),
        "docVectors" -> (s => DocVectors.docVectors(docs(s))),
        "annBands" -> (s => Similarity.annBands(Similarity.vectors(embeds(s)))),
        "mediaFeatures" -> (s => graft.multimodal.Media.mediaFeatures(docs(s))),
        "mediaDuration" -> (s => graft.multimodal.Media.mediaDuration(docs(s))),
        "textNormalizeSparkSql" -> (s => {
          val d = docs(s)
          TextSql.registerDocuments(d)
          s.sql(TextSql.textNormalizeSparkSql(Tables.widenFactor(d)))
        }),
        "embedNormStatsSparkSql" -> (s => {
          val e = embeds(s)
          Similarity.registerEmbeddings(e)
          s.sql(Similarity.embedNormStatsSparkSql(Tables.widenFactor(e)))
        }))
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    for ((name, op) <- ops) {
      val expected = rows(op(spark))
      assert(expected.nonEmpty, name)
      val s = bare()
      assert(rows(op(s)) === expected, name)
      names.foreach(n =>
        assert(registry(s).functionExists(FunctionIdentifier(n)), s"$name: $n not registered"))
    }
  }
}
