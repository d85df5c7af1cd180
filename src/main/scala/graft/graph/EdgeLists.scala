package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.CsvEdges

/** Constructors for the canonical directed-edge relation
  * `edges(src BIGINT, dst BIGINT)` — the reference engine's single data
  * model (a Twitter follower graph as a CSV edge list; see
  * reference `exact/Exact2HopCount.java:53-59` for the parse loop).
  *
  * Design notes for scale:
  *  - IDs are `LongType`, not int: the reference's real dataset has node
  *    IDs up to ~11.3M (`countedges/CountEdgesAfterMax.java:34`) and
  *    degree products overflow 32 bits (the reference's own counter bug at
  *    `approx/Approx2HopCount.java:119` — we do NOT reproduce it).
  *  - The CSV path mirrors the reference's strictness: malformed rows are
  *    a hard error (`Integer.parseInt` throws —
  *    `countedges/CountEdgesAfterMax.java:52-53`).
  *  - Edge lists are multigraphs: no dedup is performed anywhere in the
  *    reference, and path multiplicity matters (SURVEY §2.3 J3).
  */
object EdgeLists {

  /** Canonical edge view over the fixture tables (FIXTURES.md §C):
    * a directed multigraph on node IDs 0..99 derived with integer-only
    * arithmetic so Spark and the DuckDB oracle agree bit-for-bit.
    */
  def fromLineitem(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.lineitem(spark, sfDir).select(
      (col("l_partkey") % 100).as("src"),
      ((col("l_orderkey") + col("l_suppkey")) % 100).as("dst"))

  /** SQL text of the same view, for DuckDB oracle CTEs. Kept adjacent to
    * [[fromLineitem]] so the two definitions cannot drift.
    */
  val lineitemEdgeSql: String =
    "SELECT l_partkey % 100 AS src, (l_orderkey + l_suppkey) % 100 AS dst FROM lineitem"

  /** Reference input format: text lines `src,dst` (README.md:145-157).
    *
    * Strictness: the reference hard-crashes on malformed input
    * (`Integer.parseInt` — `countedges/CountEdgesAfterMax.java:52-53`).
    * The lines go through the one edge parse, [[graft.sources.CsvEdges
    * .readEdges]], and any line its [[graft.sources.CsvEdges.quarantine]]
    * would claim (unparsable, wrong token count, or a null id such as
    * `1,`) fails the task with a `malformed edge row` error. The check is
    * a filter, which column pruning cannot drop, so a bare `count()`
    * fails on a malformed line too. Blank lines are skipped.
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val corrupt = col(CsvEdges.CorruptCol)
    CsvEdges.readEdges(spark, path)
      .filter(when(corrupt.isNotNull,
          raise_error(concat(lit("malformed edge row: "), corrupt)))
        .otherwise(lit(true)))
      .select(col("src"), col("dst"))
  }

  /** In-memory edges for unit tests / golden fixtures. */
  def fromSeq(spark: SparkSession, edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }
}
