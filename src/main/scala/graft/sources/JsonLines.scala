package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-Lines source/sink for the documents relation — the interchange
  * format LLM corpora actually arrive in (one JSON object per line,
  * newline-delimited, splittable when uncompressed or zstd-framed).
  *
  * Two scale disciplines, both the opposite of `spark.read.json`'s
  * defaults:
  *
  *  - EXPLICIT schema, never inference: schema inference is a full
  *    extra pass over the data before the first real job — at 100 TB
  *    that is a second 100 TB scan, and a silent one (it also widens
  *    types by whatever the dirtiest row suggests).
  *  - PERMISSIVE parse with a QUARANTINE stream, never FAILFAST or
  *    silent DROPMALFORMED: real crawls contain malformed lines; one
  *    bad row must neither kill a 1000-executor job (FAILFAST) nor
  *    vanish unaccounted (DROPMALFORMED). Malformed lines surface in
  *    a corrupt-line column, and [[good]]/[[quarantine]] split the
  *    stream so bad raw lines can be written aside and re-ingested
  *    after repair.
  *
  * Mechanics: the file is scanned as TEXT and parsed with `from_json`,
  * not with `spark.read.json`. The json source's internal
  * `_corrupt_record` column cannot be referenced once the optimizer
  * prunes every parsed column ([UNSUPPORTED_FEATURE.QUERY_ONLY_
  * CORRUPT_RECORD_COLUMN] — which a plain `good(df).count()` triggers),
  * so the quarantine contract would be un-queryable exactly when it
  * matters. The text+from_json plan has no such seam: one scan, one
  * parse, both streams first-class. The parse result is a generator
  * output ([[ParseOnce]]), so no filter above it — the [[good]] split,
  * a caller's predicate — re-inlines `from_json`: the optimized plan
  * holds exactly one per scan (JsonLinesSpec pins it). Blank lines are
  * skipped (the JSONL convention — `read.json` does the same).
  */
object JsonLines {

  /** The raw-line column malformed input surfaces in ([[quarantine]]). */
  val CorruptCol = "_corrupt_record"

  /** documents(doc_id, text, lang, source, n_chars) + the corrupt-line
    * column `from_json` populates for unparsable/mistyped lines. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField(CorruptCol, StringType)))

  private def parsed(line: Column): Column =
    from_json(line, documentsSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol))

  /** Read documents JSONL: explicit schema, PERMISSIVE, corrupt lines
    * captured. The result carries parsed columns + [[CorruptCol]] (NULL
    * for clean rows); split with [[good]] / [[quarantine]]. */
  def readDocuments(spark: SparkSession, path: String): DataFrame =
    ParseOnce(spark.read.text(path), parsed, "j").select(col("j.*"))

  /** Parsed rows only, corrupt column dropped — the relation operators
    * consume. */
  def good(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull).drop(CorruptCol)

  /** The raw text of lines that failed to parse — written aside for
    * repair/re-ingest, and COUNTED (a pipeline that can't say how many
    * rows it dropped can't be audited). */
  def quarantine(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))

  /** Write a documents relation as JSONL. `compression` accepts the
    * text-source codecs ("gzip", "bzip2", "none", …). Splittability
    * caveat for the 100 TB case: a gzip member is ONE split — a single
    * giant .jsonl.gz file serializes its scan on one task, so compressed
    * corpora must be written as many files (this writer already emits
    * one per partition, which is why the read path stays parallel).
    * [[readDocuments]] needs no flag — the text source decompresses by
    * extension transparently. */
  def writeDocuments(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite,
      compression: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }
}
