package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CsvEdges

/** Golden fixtures for the PERMISSIVE + quarantine CSV edge source:
  * every failure shape a real crawl line exhibits must land in exactly
  * one of the two streams — nothing fatal, nothing silently dropped. */
class CsvEdgesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withLines(lines: Seq[String])(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("csv_edges_spec").toFile
    try {
      val p = new java.io.PrintWriter(new java.io.File(dir, "part.csv"))
      try lines.foreach(p.println) finally p.close()
      f(dir.getAbsolutePath)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("each malformed shape routes to quarantine; clean rows survive; blanks skip") {
    val lines = Seq(
      "1,2",        // clean
      "3,4",        // clean
      "abc,9",      // non-numeric src → unparsable
      "5,",         // empty dst token → silent null, claimed by null-id test
      "",           // blank → skipped entirely (neither stream)
      "7,8,9",      // extra token → unparsable
      "10,11")      // clean
    withLines(lines) { path =>
      val df = CsvEdges.readEdges(spark, path)
      val good = CsvEdges.good(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(good === Set((1L, 2L), (3L, 4L), (10L, 11L)))
      val quarantined = CsvEdges.quarantine(df).collect()
        .map(_.getString(0)).toSet
      // the raw line survives verbatim in the quarantine stream —
      // including the silent-null line the corrupt column never saw
      assert(quarantined === Set("abc,9", "5,", "7,8,9"))
      val rep = CsvEdges.censusReport(df, max = 10L).collect().head
      assert(rep.getLong(0) === 3L)   // n_clean
      assert(rep.getLong(1) === 3L)   // n_quarantine
      assert(rep.getLong(2) === 2L)   // census: (1,2) and (3,4); (10,11) ≥ max
    }
  }

  test("the parse runs unchanged on a stream: per-line verdicts equal the batch's") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lines = Seq("1,2", "abc,9", "5,", "7,8,9", "10,11")
    val src = MemoryStream[String]
    src.addData(lines: _*)
    val name = s"csv_gate_out_${System.nanoTime()}"
    val q = CsvEdges.parseLines(src.toDF().toDF("value"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name)
    val good = CsvEdges.good(streamed).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bad = CsvEdges.quarantine(streamed).collect().map(_.getString(0)).toSet
    // identical verdicts to the batch parse of the same lines
    val batch = CsvEdges.parseLines(lines.toDF("value"))
    assert(good === CsvEdges.good(batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(bad === CsvEdges.quarantine(batch).collect()
      .map(_.getString(0)).toSet)
    assert(good === Set((1L, 2L), (10L, 11L)) && bad === Set("abc,9", "5,", "7,8,9"))
  }

  test("every edge-list plan parses each line once: one from_csv under the split and MAX filters") {
    // a filter on the parsed columns must not be pushed below the parse
    // with the parse re-inlined into it: each predicate would re-run it
    withLines(Seq("1,2", "abc,9", "5,", "3,4")) { path =>
      val df = CsvEdges.readEdges(spark, path)
      val clean = graft.graph.GraphPatterns.maxFilter(CsvEdges.good(df), Some(4L))
      val bad = CsvEdges.quarantine(df)
      for ((what, q) <- Seq("maxFilter(good)" -> clean, "quarantine" -> bad)) {
        val p = q.queryExecution.optimizedPlan.toString
        assert("from_csv\\(".r.findAllIn(p).size === 1,
          s"$what: the parse is not evaluated exactly once:\n$p")
      }
      assert(clean.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
      assert(bad.collect().map(_.getString(0)).toSet === Set("abc,9", "5,"))
    }
  }

  test("a fully clean file quarantines nothing and the census equals FAILFAST's") {
    val lines = Seq("0,1", "2,3", "89,89", "90,1", "1,90")
    withLines(lines) { path =>
      val df = CsvEdges.readEdges(spark, path)
      assert(CsvEdges.quarantine(df).count() === 0L)
      val rep = CsvEdges.censusReport(df, max = 90L).collect().head
      assert((rep.getLong(0), rep.getLong(1), rep.getLong(2)) === (5L, 0L, 3L))
      // the strict twin agrees on the same bytes when they are clean
      val strict = graft.graph.GraphPatterns.edgeCount(
        graft.graph.EdgeLists.fromCsv(spark, path), Some(90L))
        .collect().head.getLong(0)
      assert(strict === rep.getLong(2))
    }
  }
}
