package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERMISSIVE + quarantine CSV source for the edge relation — the
  * [[JsonLines]] discipline applied to the reference engine's own
  * arrival format (text lines `src,dst` — reference README.md:145-157).
  *
  * It is the one edge-line parse. [[graft.graph.EdgeLists.fromCsv]]
  * reads through it in its strict mode — the parity contract, where any
  * line [[quarantine]] would claim fails the task (the reference
  * hard-crashes on a malformed line — `Integer.parseInt` at
  * `countedges/CountEdgesAfterMax.java:52-53`). The split below is the
  * PRODUCTION contract for the same bytes: at 100 TB one bad line must
  * neither kill a 1000-executor census nor vanish uncounted. Same
  * mechanics as JSONL: the file scans as TEXT and parses with
  * `from_csv` — one scan, one parse, the clean and quarantine streams
  * both first-class (the csv SOURCE's own
  * `_corrupt_record` has the same query-only-corrupt-column seam
  * `spark.read.json` has; text+from_csv does not). The parse result is
  * a generator output ([[ParseOnce]]), so the [[good]]/[[quarantine]]
  * split and a MAX filter above it cannot re-inline `from_csv`: the
  * optimized plan holds exactly one per scan (CsvEdgesSpec pins it).
  *
  * Quarantine semantics — two distinct failure shapes, both captured:
  *  - UNPARSABLE lines (non-numeric token, wrong token count) populate
  *    [[CorruptCol]] with the raw line.
  *  - SILENT-NULL lines (`"5,"` — an empty token is a valid CSV null,
  *    so the parse "succeeds" with a null id) never reach
  *    [[CorruptCol]]; [[quarantine]] claims them by the null-id test
  *    instead (the strict reader fails on them the same way).
  */
object CsvEdges {

  /** The raw-line column malformed input surfaces in. */
  val CorruptCol = "_corrupt_record"

  /** edges(src, dst) + the corrupt-line column `from_csv` populates. */
  val schema: StructType = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType),
    StructField(CorruptCol, StringType)))

  private def parsed(line: Column): Column =
    from_csv(line, schema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol))

  /** The parse transform over a `value` line column — STATELESS, so it
    * runs identically on a batch text scan ([[readEdges]]) and on an
    * unbounded `readStream` of arriving lines (no watermark, no state
    * store — the mixGate/orphanGate discipline; spec-pinned batch ≡
    * stream). Blank lines skipped, corrupt lines captured. */
  def parseLines(lines: DataFrame): DataFrame =
    ParseOnce(lines, parsed, "c")
      .select(col("c.src"), col("c.dst"),
        // silent-null lines carry no corrupt record; surface THEIR raw
        // line too, so the quarantine stream is re-ingestable as one
        when(col(s"c.$CorruptCol").isNotNull, col(s"c.$CorruptCol"))
          .when(col("c.src").isNull || col("c.dst").isNull, col("value"))
          .as(CorruptCol))

  /** Read an edge CSV: explicit schema, PERMISSIVE, corrupt lines
    * captured, blank lines skipped. The result carries (src, dst) +
    * [[CorruptCol]]; split with [[good]] / [[quarantine]]. */
  def readEdges(spark: SparkSession, path: String): DataFrame =
    parseLines(spark.read.text(path))

  /** Fully-parsed rows only — the relation the graph operators consume
    * (both ids present, corrupt column dropped). */
  def good(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull).select(col("src"), col("dst"))

  /** The raw text of lines that failed (unparsable or null-id) — written
    * aside for repair, and COUNTED. */
  def quarantine(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))

  /** The ingest report, one row: clean rows, quarantined rows, and the
    * MAX-filtered census over the clean stream (the reference's
    * CountEdgesAfterMax semantics — `src < max AND dst < max`). ONE
    * scan, one parse, one partial aggregate: the split is a flag, not
    * two jobs, so the census and its audit always describe the same
    * bytes. */
  def censusReport(df: DataFrame, max: Long): DataFrame = {
    val clean = col(CorruptCol).isNull
    df.agg(
      sum(when(clean, 1L).otherwise(0L)).as("n_clean"),
      sum(when(!clean, 1L).otherwise(0L)).as("n_quarantine"),
      sum(when(clean && col("src") < max && col("dst") < max, 1L)
        .otherwise(0L)).as("census_count"))
  }
}
