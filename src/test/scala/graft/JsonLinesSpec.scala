package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.JsonLines

class JsonLinesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("JSONL round-trip preserves the documents relation exactly") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    JsonLines.writeDocuments(docs, path)
    val back = JsonLines.good(JsonLines.readDocuments(spark, path))
    assert(back.columns.sorted.toSeq === docs.columns.sorted.toSeq)
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("doc_id")
    val orig = docs.collect().map(r => key(r) -> r.toSeq).toMap
    val rt = back.select(docs.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(r => key(r) -> r.toSeq).toMap
    assert(rt === orig)
    // nothing quarantined on a clean write
    assert(JsonLines.quarantine(JsonLines.readDocuments(spark, path)).count() === 0L)
  }

  test("gzip-compressed JSONL round-trips transparently (the shipped-corpus format)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl_gz").toString
    JsonLines.writeDocuments(docs, path, compression = Some("gzip"))
    val files = new java.io.File(path).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), files.mkString(","))
    // read side needs no flag — the text source decodes by extension
    val back = JsonLines.good(JsonLines.readDocuments(spark, path))
    assert(back.count() === docs.count())
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("doc_id")
    val orig = docs.collect().map(r => key(r) -> r.toSeq).toMap
    val rt = back.select(docs.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(r => key(r) -> r.toSeq).toMap
    assert(rt === orig)
  }

  test("malformed and mistyped lines quarantine with their raw text; blanks skip") {
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "part-000.json"),
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}
        |not json at all
        |
        |{"doc_id": "oops", "text": 5}
        |{"doc_id": 2, "text": "fine", "lang": "en", "source": "web", "n_chars": 4}
        |""".stripMargin)
    val df = JsonLines.readDocuments(spark, path)
    val good = JsonLines.good(df)
    // the count() path is the one the json source's internal corrupt
    // column cannot serve (QUERY_ONLY_CORRUPT_RECORD_COLUMN after
    // pruning) — it must work here
    assert(good.count() === 2L)
    assert(good.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 2L))
    val quarantined = JsonLines.quarantine(df)
      .collect().map(_.getAs[String]("raw_line")).sorted.toSeq
    assert(quarantined.size === 2)
    assert(quarantined.contains("not json at all"))
    assert(quarantined.exists(_.contains("\"oops\""))) // mistyped doc_id line
  }

  test("a filtered read parses each line once: one from_json under the split and a predicate") {
    // the good() split and a caller's predicate must not be pushed below
    // the parse with from_json re-inlined into each of them
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl_once").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "part-000.json"),
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}
        |not json at all
        |{"doc_id": 0, "text": "zero", "lang": "en", "source": "web", "n_chars": 4}
        |""".stripMargin)
    val q = JsonLines.good(JsonLines.readDocuments(spark, path))
      .filter(org.apache.spark.sql.functions.col("doc_id") > 0)
    val p = q.queryExecution.optimizedPlan.toString
    assert("from_json\\(".r.findAllIn(p).size === 1,
      s"the parse is not evaluated exactly once:\n$p")
    assert(q.collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
  }

  test("corpus_stats over the JSONL round-trip equals the parquet-path query") {
    val dir = "/root/testdata/sf0.001"
    val viaJsonl = SparkEntry.queries("corpus_stats_jsonl")(spark, dir)
      .collect().map(_.toSeq).toSet
    val viaParquet = SparkEntry.queries("corpus_stats")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(viaJsonl === viaParquet)
    assert(viaJsonl.nonEmpty)
  }
}
