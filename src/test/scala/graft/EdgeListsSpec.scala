package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{EdgeLists, GraphPatterns}

/** Covers the reference's native ingestion path: a CSV edge list
  * `src,dst` one pair per line (reference README.md:145-157 sample;
  * parse loop at exact/Exact2HopCount.java:53-59). Golden values from
  * FIXTURES.md §A must hold end-to-end through fromCsv, and malformed
  * rows must be a hard error exactly like the reference's
  * Integer.parseInt crash (countedges/CountEdgesAfterMax.java:52-53).
  */
class EdgeListsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def writeCsv(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-csv").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "edges.csv")
    val w = new java.io.PrintWriter(f)
    try lines.foreach(w.println) finally w.close()
    f.getAbsolutePath
  }

  val sampleLines: Seq[String] = Seq(
    "1,2", "2,3", "3,1", "1,4", "4,5", "5,6", "6,4", "3,6", "2,5", "5,3")

  test("golden 10/16/6 through the CSV ingestion path") {
    val edges = EdgeLists.fromCsv(spark, writeCsv(sampleLines))
    assert(GraphPatterns.edgeCount(edges, Some(11316812L)).first().getLong(0) === 10L)
    assert(GraphPatterns.twoHopCountDegrees(edges).first().getLong(0) === 16L)
    assert(GraphPatterns.triangleCounter(edges, Some(12500L)).first().getLong(0) === 6L)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("malformed row with missing id is a hard error (reference strictness)") {
    val edges = EdgeLists.fromCsv(spark, writeCsv(sampleLines :+ "1,"))
    val e = intercept[Exception] { edges.collect() }
    assert(messages(e).exists(_.contains("malformed edge row")))
    // the check is a filter, so a bare count() — which reads no id —
    // fails too
    val c = intercept[Exception] { edges.count() }
    assert(messages(c).exists(_.contains("malformed edge row")))
  }

  /** The strict reader's earlier spelling, kept as the reference: Spark's
    * CSV source in FAILFAST mode, plus a projection that fails on a null
    * id (file sources force the read schema nullable, so `1,` parses to
    * a null `dst` without tripping FAILFAST). */
  private def failfastReference(path: String): DataFrame =
    spark.read.schema(StructType(Seq(
        StructField("src", LongType, nullable = false),
        StructField("dst", LongType, nullable = false))))
      .option("mode", "FAILFAST").csv(path)
      .select(Seq("src", "dst").map { c =>
        coalesce(col(c), raise_error(lit(s"malformed edge row: null $c"))).as(c)
      }: _*)

  test("malformed corpus: fromCsv fails exactly where the FAILFAST reference fails") {
    def outcome(df: => DataFrame): Either[Seq[String], Seq[(Long, Long)]] =
      try Right(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
      catch { case e: Exception => Left(messages(e)) }
    val corpus = Seq("1,", "a,b", " 1,2", "\"1\",2", "1,2,3", "1,2,", "-5,7",
      "9223372036854775808,1", "")
    val failing = Seq.newBuilder[String]
    for (line <- corpus) {
      val path = writeCsv(sampleLines :+ line)
      val ref = outcome(failfastReference(path))
      val got = outcome(EdgeLists.fromCsv(spark, path))
      assert(got.isLeft === ref.isLeft, s"line [$line]: reference=$ref fromCsv=$got")
      got match {
        case Left(ms) =>
          failing += line
          assert(ms.exists(_.contains("malformed edge row")), s"line [$line]: $ms")
        case Right(rows) => assert(rows === ref.toOption.get, s"line [$line]")
      }
    }
    assert(failing.result() === Seq("1,", "a,b", " 1,2", "1,2,3", "1,2,",
      "9223372036854775808,1"))
  }

  test("non-numeric row is a hard error (FAILFAST)") {
    val edges = EdgeLists.fromCsv(spark, writeCsv(sampleLines :+ "a,b"))
    intercept[Exception] { edges.collect() }
  }
}
