package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Iterate

/** The reference engine's five graph capabilities (SURVEY.md §2.6),
  * re-expressed as declarative Spark plans. Every function is a pure
  * `DataFrame => DataFrame` over `edges(src LONG, dst LONG)` so Catalyst
  * gets the whole plan (pushdown, partial aggregation, join selection,
  * AQE skew handling all apply).
  *
  * Scale design (100 TB / celebrity-node skew):
  *
  * The naive 2-hop self-join `edges ⋈ edges ON e1.dst = e2.src`
  * (reference `approx/Approx2HopCount.java:94-120`, an in-reducer
  * nested loop) is quadratic per hot key — the reference dodges this
  * with a compiled-in MAX node-id filter. We instead rewrite through the
  * *weighted distinct-edge* relation `w(src,dst) = multiplicity`:
  * path multiplicities become products of weights, so every downstream
  * join runs on |distinct edges| rows instead of |edges| rows, and all
  * counts stay exact. For counting (not materialization) the degree
  * identity Σ_y indeg(y)·outdeg(y) (reference
  * `exact/Exact2HopCount.java:102-105`) avoids the join entirely — one
  * shuffle, partial-aggregated map-side.
  *
  * Counter-exact semantics preserved from the reference:
  *  - 2-hop counts INCLUDE degenerate X→Y→X paths (EX/AP do not filter
  *    them; no check at `exact/Exact2HopCount.java:83-106`).
  *  - Triangle paths EXCLUDE X=Z (`rsjoin/RSJoinTriangleCount.java:102`).
  *  - The closing edge of a triangle is existence-only (the reducer's
  *    boolean `hasEdge`, `rsjoin/RSJoinTriangleCount.java:170-185`) →
  *    LEFT SEMI join.
  *  - The triangle counter is the RAW ×3 rotation count (the reference
  *    never divides by 3 — `rsjoin/RSJoinTriangleCount.java:228-230`);
  *    `triangles_distinct = floor(counter/3)` is a derived column.
  */
object GraphPatterns {

  /** `src < max AND dst < max` — the reference's MAX-threshold subgraph
    * filter (`approx/Approx2HopCount.java:41,68`). Applied before any
    * shuffle, exactly as the reference applies it in the map phase;
    * Catalyst additionally pushes it into the parquet scan.
    */
  def maxFilter(edges: DataFrame, max: Option[Long]): DataFrame =
    max.fold(edges)(m => edges.filter(col("src") < lit(m) && col("dst") < lit(m)))

  /** Distinct edges with multiplicities: `w(src,dst) = count(*)`.
    * One shuffle with map-side partial aggregation; output cardinality is
    * bounded by the distinct-pair count, which is what makes the
    * path/triangle joins below scale-safe.
    */
  def weightedEdges(edges: DataFrame): DataFrame =
    edges.groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** countedges.CountEdgesAfterMax (`countedges/CountEdgesAfterMax.java:56-59`):
    * `COUNT(*) WHERE src < max AND dst < max`. Map-only in the reference;
    * here a partial-aggregated count with the filter pushed to the scan.
    */
  def edgeCount(edges: DataFrame, max: Option[Long]): DataFrame =
    maxFilter(edges, max).agg(count(lit(1)).as("edge_count"))

  /** exact.Exact2HopCount (`exact/Exact2HopCount.java:83-105`): number of
    * 2-hop paths X→Y→Z (X=Z included) via the degree identity
    * Σ_y indeg(y)·outdeg(y). ONE scan and ONE partial-aggregated shuffle
    * on the node id: each edge contributes an in-endpoint `(dst, 1, 0)`
    * and an out-endpoint `(src, 0, 1)`, one groupBy sums both degrees,
    * and a node with only in- or only out-edges adds 0 to the sum —
    * never materializes paths, never joins.
    */
  def twoHopCountDegrees(edges: DataFrame, max: Option[Long] = None): DataFrame =
    maxFilter(edges, max)
      .select(inline(array(
        struct(col("dst").as("y"), lit(1L).as("i"), lit(0L).as("o")),
        struct(col("src").as("y"), lit(0L).as("i"), lit(1L).as("o")))))
      .groupBy("y").agg(sum("i").as("indeg"), sum("o").as("outdeg"))
      .agg(coalesce(sum(col("indeg") * col("outdeg")), lit(0L)).as("two_hop_count"))

  /** Same count through the explicit self-join plan (reference J1,
    * `approx/Approx2HopCount.java:94-120`) on the weighted distinct-edge
    * relation: count = Σ w(x,y)·w(y,z). Exists so tests can assert the
    * two plans agree (SURVEY §5 property a); the degree plan is the one
    * to run at scale.
    */
  def twoHopCountJoin(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val w = weightedEdges(maxFilter(edges, max))
    val e1 = w.as("e1")
    val e2 = w.as("e2")
    e1.join(e2, col("e1.dst") === col("e2.src"))
      .agg(coalesce(sum(col("e1.w") * col("e2.w")), lit(0L)).as("two_hop_count"))
  }

  /** approx.Approx2HopCount's materialized output (SURVEY §2.1 S3): the
    * 2-hop path triples (x,y,z), X=Z included, grouped with their
    * multiplicity `path_count` (the reference emits one text line per
    * path instance; the grouped form carries identical information with
    * |distinct triples| rows instead of |paths| rows — the only
    * representation that survives a 100× scale-up).
    */
  def twoHopPaths(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val w = weightedEdges(maxFilter(edges, max))
    val e1 = w.as("e1")
    val e2 = w.as("e2")
    e1.join(e2, col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"),
        (col("e1.w") * col("e2.w")).as("path_count"))
  }

  /** rsjoin.RSJoinTriangleCount / repjoin (SURVEY §2.3 J2+J3+J4): the raw
    * ×3 directed-triangle counter. Plan:
    *   weighted self-join (x≠z) → group paths to (x,z,pathcnt)
    *   → LEFT SEMI join against distinct closing edges (z→x)
    *   → global sum.
    * `broadcastClosing=true` is the repjoin (replicated/map-side join)
    * variant (`README.md:81` — documented in the reference but never
    * implemented there): the closing-edge set is broadcast instead of
    * shuffled. At scale the distinct-edge relation of a filtered subgraph
    * is often small enough to broadcast even when the raw edge list is
    * not.
    */
  /** Fixed-point resolution for [[pageRank]] — ranks are exact int64
    * MILLIONTHS (the [[graft.text.Curation.MixResolution]] discipline):
    * every engine computes the identical integer, so the oracle compare
    * is a hash match, not an epsilon. */
  val RankResolution: Long = 1000000L

  /** Damping factor 0.85 in millionths. */
  val RankDamping: Long = 850000L

  /** Iteration count for the query entry — fixed and deterministic (no
    * convergence test; the oracle unrolls exactly this many rounds). */
  val RankIters: Int = 5

  /** PageRank over the directed multigraph — the canonical "who matters
    * in the follower graph" extension of the reference's 2-hop/triangle
    * counters, and the shape every iterative graph algorithm takes on
    * Spark. Per node, the unnormalized rank after [[RankIters]] rounds of
    *
    *   r'(v) = (1-d) + d · Σ_{u→v} r(u)·w(u,v) / outdeg(u)
    *
    * in EXACT int64 millionths: rank mass moves by integer `div` (SQL
    * IntegralDivide — a double `/`+floor would round differently at the
    * boundary and break the cross-engine hash), parallel edges carry
    * mass in proportion to multiplicity (the multigraph semantics every
    * operator here shares), and dangling-node mass is dropped (the
    * simplest published variant; the teleport term keeps every node ≥
    * (1-d); [[pageRankConserving]] is the mass-conserving spelling).
    * Overflow headroom: the two mass multiplies (r·w and d·contrib) run
    * in decimal(38,0) — int64 would wrap once a node's inbound mass
    * passes 2⁶³/d ≈ 1.08e13 millionths (~1e7 rank units), which a star
    * hub with ~1e8 followers reaches after ONE round at the 100 TB
    * design point. Decimal headroom is ~1e38 millionths, more rank mass
    * than a graph of every atom on earth could hold; the oracle widens
    * the same two multiplies to int128 (HUGEINT), and the `div` result
    * re-enters int64 where the per-node bound (total mass / 1) keeps it
    * exact.
    *
    * Widening cost AUDITED (round-10 directive #8): 5 rounds at sf0.1
    * local[32], decimal vs a bare-int64 spelling of the same loop,
    * 3 timed repetitions — gaps 0.17 s / 0.33 s / −0.04 s, i.e. ~0.2 s
    * median inside ambient spread. An int64 fast path gated on a
    * per-round max-mass precheck would add one scalar aggregate per
    * round AND a per-round branch to the oracle's unrolled CTE chain —
    * complexity priced well above the ~0.2 s it could recover, so the
    * unconditional decimal spelling stays.
    *
    * Scale shape: the per-round work is ONE equi-join of the rank
    * relation against the checkpointed (src, dst, w, od) contribution
    * edges on `src` plus ONE partial-aggregated shuffle on `dst` —
    * identical to the canonical Pregel-on-dataframes round. The edge
    * relation is weighted-distinct (|distinct pairs| rows, not |edges|)
    * and checkpointed ONCE; at cluster scale it would be bucketed by
    * `src` so every round's join is co-located and only the (small)
    * rank relation moves — proven in GraphSkewSpec's bucketed-edge
    * test: zero shuffles on the edge side of a round's join. Rounds run
    * under [[graft.Iterate.rounds]], which checkpoints each round's rank
    * relation so plans stay round-deep, never iters-deep. */
  def pageRank(edges: DataFrame, iters: Int = RankIters,
      max: Option[Long] = None): DataFrame =
    pageRankImpl(edges, iters, max, conserve = false)

  /** Mass-conserving PageRank — the variant most PageRank consumers
    * expect: each round, the rank mass sitting on DANGLING nodes (no
    * outgoing edge — in [[pageRank]] it simply vanishes) is
    * redistributed uniformly to every node before damping:
    *
    *   r'(v) = (1-d) + d · (Σ_{u→v} r(u)·w(u,v)/outdeg(u) + D/N)
    *
    * with D = Σ_{dangling u} r(u) and N = |nodes|, all in the same exact
    * int64 millionths (`div` floors, so a few millionths per round can
    * still leak to rounding — conservation is exact up to the floor
    * remainders, and total mass stays ≤ N·10⁶ + N, keeping the dangling
    * sum inside int64 for any graph under ~9e12 nodes). On a
    * dangling-free graph D = 0 every round, so this equals [[pageRank]]
    * exactly (spec property).
    *
    * Cost over the drop variant: per round, ONE extra scalar aggregate
    * (the left-semi rank∩dangling sum — partial-aggregated, one row
    * out) attached back via the constant-key BROADCAST hash join the
    * BPE merge loop uses (a 1-row build side; never a nested-loop —
    * the plan audit forbids those engine-wide). The dangling node set
    * and node count are computed once and checkpointed. */
  def pageRankConserving(edges: DataFrame, iters: Int = RankIters,
      max: Option[Long] = None): DataFrame =
    pageRankImpl(edges, iters, max, conserve = true)

  /** Personalized PageRank — rank restricted to a SEED set's
    * perspective ("who matters to these accounts"): the teleport term
    * lands ONLY on seed nodes, so rank mass radiates from the seeds
    * through the follow edges instead of being endowed uniformly.
    * Initial rank is [[RankResolution]] on seeds and 0 elsewhere; per
    * round
    *
    *   r'(v) = [v ∈ S]·(1-d) + d · Σ_{u→v} r(u)·w(u,v) / outdeg(u)
    *
    * in the same exact int64 millionths (damping multiply widened to
    * decimal(38,0) — see [[pageRank]]'s headroom note); dangling mass
    * drops as in the base variant. `seeds` is any relation with a
    * `node` column; it is restricted to the graph's node domain, so
    * off-graph seeds are ignored. With S = all nodes this IS
    * [[pageRank]] (spec property).
    *
    * Scale shape: [[pageRank]]'s round plus one node-keyed LEFT join
    * against the checkpointed seed flag per round — the seed relation
    * is seed-sized, and at cluster scale broadcastable. */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
      iters: Int = RankIters, max: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"pageRankPersonalized needs iters >= 1 (got $iters)")
    pageRankImpl(edges, iters, max, conserve = false, seeds = Some(seeds))
  }

  /** Oracle twin of [[pageRankPersonalized]] with the query entry's
    * modular seed set (`node % seedMod = 0`) — the same unrolled CTE
    * chain as [[pageRankSql]] with the teleport term gated on seed
    * membership. */
  def pageRankPersonalizedSql(edgeSql: String, seedMod: Long,
      iters: Int = RankIters, max: Option[Long] = None): String = {
    require(iters >= 1, s"pageRankPersonalizedSql needs iters >= 1 (got $iters)")
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    val d = RankDamping
    val mres = RankResolution
    val rounds = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT n.node AS node,
         |    CAST(CASE WHEN n.node % $seedMod = 0 THEN ${mres - d} ELSE 0 END
         |      + ($d * CAST(coalesce(c.contrib, 0) AS HUGEINT)) // $mres AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ce.dst AS node, CAST(sum((CAST(p.r AS HUGEINT) * ce.w) // ce.od) AS BIGINT) AS contrib
         |    FROM pr${k - 1} p JOIN ce ON ce.src = p.node
         |    GROUP BY ce.dst
         |  ) c ON c.node = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |w AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM edges$pred GROUP BY src, dst),
       |outd AS (SELECT src, CAST(sum(w) AS BIGINT) AS od FROM w GROUP BY src),
       |ce AS (SELECT w.src AS src, w.dst AS dst, w.w AS w, o.od AS od
       |       FROM w JOIN outd o ON o.src = w.src),
       |nodes AS (SELECT src AS node FROM w UNION SELECT dst FROM w),
       |pr0 AS (SELECT node,
       |  CAST(CASE WHEN node % $seedMod = 0 THEN $mres ELSE 0 END AS BIGINT) AS r
       |  FROM nodes),
       |$rounds
       |SELECT node, r AS rank_millionths FROM pr$iters
       |ORDER BY node, rank_millionths""".stripMargin
  }

  /** The one PageRank round all three faces share: contributions
    * along the checkpointed (src, dst, w, od) edges, teleport, damping.
    * `conserve` adds the round's dangling mass; `seeds` lands the
    * teleport term on the seed set only (one node-keyed left join per
    * round, in the personalized face alone). */
  private def pageRankImpl(edges: DataFrame, iters: Int, max: Option[Long],
      conserve: Boolean, seeds: Option[DataFrame] = None): DataFrame = {
    // iters = 0 would silently return the uniform init while the SQL twin
    // generates invalid SQL — fail both the same way (the bpeMerges rule)
    require(iters >= 1, s"pageRank needs iters >= 1 (got $iters)")
    val w = weightedEdges(maxFilter(edges, max))
    val ce = w.join(w.groupBy(col("src")).agg(sum("w").as("od")), "src")
      .localCheckpoint()
    val nodes = ce.select(col("src").as("node"))
      .union(ce.select(col("dst").as("node"))).distinct().localCheckpoint()
    // personalized only: the seed set restricted to the node domain
    val seedFlag = seeds.map(s => nodes.join(s.select(col("node")).distinct(),
        Seq("node"), "left_semi")
      .select(col("node"), lit(true).as("is_seed")).localCheckpoint())
    def withSeed(df: DataFrame): DataFrame =
      seedFlag.fold(df)(f => df.join(f, Seq("node"), "left"))
    def onSeeds(v: Long): Column =
      if (seedFlag.isEmpty) lit(v) else when(col("is_seed"), lit(v)).otherwise(lit(0L))
    // conserving only: nodes with no out-edge, and the node count as a
    // 1-row keyed relation (k=1 is the constant broadcast-attach key)
    lazy val dangling = nodes.join(ce.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti").localCheckpoint()
    lazy val nCnt = nodes.agg(count(lit(1)).as("n"))
      .withColumn("k", lit(1)).localCheckpoint()
    val init = withSeed(nodes).select(col("node"), onSeeds(RankResolution).as("r"))
    Iterate.rounds(init, iters) { ranks =>
      val contrib = ranks.join(ce, ranks("node") === ce("src"))
        .select(col("dst").as("node"),
          expr("(cast(r as decimal(38,0)) * w) div od").as("c"))
        .groupBy("node").agg(sum("c").as("contrib"))
      val base = withSeed(nodes.join(contrib, Seq("node"), "left"))
      val (next, mass) =
        if (!conserve) (base, "coalesce(contrib, 0L)")
        else {
          // this round's dangling mass, split per node (floor); greatest(n,1)
          // only guards the empty graph, where the output is empty anyway
          // (ANSI mode makes 0 div 0 an error, not a NULL)
          val dsh = ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum("r"), lit(0L)).as("dmass"))
            .withColumn("k", lit(1))
            .join(broadcast(nCnt), Seq("k"))
            .select(col("k"), expr("dmass div greatest(n, 1L)").as("dshare"))
            .localCheckpoint()
          (base.withColumn("k", lit(1)).join(broadcast(dsh), Seq("k")),
            "coalesce(contrib, 0L) + dshare")
        }
      next.select(col("node"),
        (onSeeds(RankResolution - RankDamping) +
          expr(s"($RankDamping * cast($mass as decimal(38,0))) div $RankResolution"))
          .as("r"))
    }.select(col("node"), col("r").as("rank_millionths"))
  }

  /** Weakly connected components of the follower graph — the
    * [[graft.text.Dedup.dedupClustersFromPairsStar]] star-contraction
    * machinery (Kiveris et al.) applied to the graph's own edge
    * relation: O(log² n) rounds on ANY topology, per-round cost on the
    * edge set. Per node: its component's minimum node id as
    * `component_id`, and `is_root` for the minimum itself. Direction is
    * ignored (weak connectivity), self-loops drop out in the canonical
    * edge form, exactly as in the dedup CC. */
  def connectedComponents(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    val nodes = f.select(col("src").as("doc_id"))
      .union(f.select(col("dst").as("doc_id"))).distinct()
    graft.text.Dedup.dedupClustersFromPairsStar(nodes,
        f.select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("doc_id").as("node"), col("rep_id").as("component_id"),
        col("is_survivor").as("is_root"))
  }

  /** Strongly connected components — the DIRECTED completion of
    * [[connectedComponents]] (which symmetrizes): mutual-reachability
    * classes of the follow graph, `scc_id` = the smallest member. The
    * forward-backward coloring algorithm (Fleischer, Hendrickson &
    * Pınar, "On Identifying Strongly Connected Components in Parallel",
    * IPDPS 2000 — the standard distributed SCC shape; Tarjan's stack is
    * inherently sequential), scheduled by [[graft.Iterate]] like every
    * iterative operator here, with BOTH inner loops running to their
    * deterministic fixpoints (unique regardless of evaluation order, so
    * the oracle's closed-form mutual-reachability spelling must agree):
    *
    *  1. COLOR: propagate the min node id forward to fixpoint over the
    *     remaining subgraph — c(v) = min remaining ancestor (incl. v).
    *     Each round is one equi-join rank-against-edges + a min partial
    *     agg, the Pregel round shape.
    *  2. EXTRACT: a color class's pivot is its color node; members that
    *     reach their pivot BACKWARD through same-color edges are exactly
    *     the pivot's SCC (the class contains the SCC; strong
    *     connectivity keeps the whole SCC same-colored, so extraction is
    *     atomic — and the pivot, being an in-class ancestor of every
    *     member, is the SCC's minimum, which is what makes `scc_id`
    *     match the oracle's global min-mutual-reach).
    *  3. Remove extracted nodes, restrict edges, repeat.
    *
    * Every class extracts its pivot each outer round, so rounds ≤ the
    * longest pivot-chain (worst case a path — the algorithm's published
    * bound; real follower graphs with their giant SCC finish in a few).
    * Inner rounds ≤ the remaining diameter. Both inner fixpoints run
    * under [[graft.Iterate.untilStable]]: each round's checkpoint carries
    * its own `changed` witness (color: the new label is smaller;
    * extract: the row is newly reached, found by one anti-join), probed
    * by one `limit(1)` scan, capped at the node count. Self-loops are
    * dropped from propagation (they never change membership) but their
    * nodes stay in the domain as singletons. */
  def stronglyConnectedComponents(edges: DataFrame,
      max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    val nodes0 = f.select(col("src").as("node"))
      .union(f.select(col("dst").as("node"))).distinct().localCheckpoint()
    val e0 = f.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst")).localCheckpoint()
    // a min-label fixpoint over n nodes settles within n rounds
    val bound = (nodes0.count() min Int.MaxValue).toInt
    // the peel carries three relations (remaining nodes, their edges, the
    // extracted result), so it stays a driver loop around the two
    // single-relation fixpoints
    var remaining = nodes0
    var e = e0
    var result = nodes0.limit(0)
      .select(col("node"), col("node").as("scc_id")).localCheckpoint()
    while (!remaining.isEmpty) {
      // 1. forward min-label fixpoint over the remaining subgraph
      val c = Iterate.untilStable("stronglyConnectedComponents (color)",
          remaining.select(col("node"), col("node").as("c")), bound) { c =>
        val pushed = c.join(e, c("node") === e("src"))
          .select(col("dst").as("node"), col("c"))
          .groupBy("node").agg(min("c").as("nc"))
        c.join(pushed, Seq("node"), "left")
          .select(col("node"), least(col("c"), coalesce(col("nc"), col("c"))).as("c"),
            (col("nc") < col("c")).as(Iterate.Changed))
      }
      // 2. backward reachability to the pivot through same-color edges
      val ec = e
        .join(c.select(col("node").as("src"), col("c").as("cs")), Seq("src"))
        .join(c.select(col("node").as("dst"), col("c").as("cd")), Seq("dst"))
        .filter(col("cs") === col("cd"))
        .select(col("src"), col("dst"), col("cs").as("c")).localCheckpoint()
      val b = Iterate.untilStable("stronglyConnectedComponents (extract)",
          c.filter(col("node") === col("c")), bound) { b =>
        // a node's color is fixed, so `node` alone keys the reached set
        val fresh = ec.join(b, ec("dst") === b("node") && ec("c") === b("c"))
          .select(ec("src").as("node"), ec("c").as("c")).distinct()
          .join(b.select("node"), Seq("node"), "left_anti")
        b.withColumn(Iterate.Changed, lit(false))
          .union(fresh.withColumn(Iterate.Changed, lit(true)))
      }
      // 3. extract, shrink, repeat
      result = result.union(b.select(col("node"), col("c").as("scc_id")))
        .localCheckpoint()
      remaining = remaining.join(b, Seq("node"), "left_anti").localCheckpoint()
      e = e.join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    result.select(col("node"), col("scc_id"),
      (col("scc_id") === col("node")).as("is_root"))
  }

  /** Oracle twin of [[stronglyConnectedComponents]] — the closed-form
    * spelling: scc_id(v) = min over {v} ∪ {u : v →* u ∧ u →* v} via the
    * recursive reachability closure. */
  def stronglyConnectedComponentsSql(edgeSql: String,
      max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH RECURSIVE edges AS ($edgeSql),
       |raw AS (SELECT src, dst FROM edges$pred),
       |nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
       |f AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM f
       |  UNION
       |  SELECT r.src, f.dst FROM reach r JOIN f ON f.src = r.dst
       |),
       |mut AS (
       |  SELECT a.src AS node, a.dst AS u
       |  FROM reach a JOIN reach b ON a.dst = b.src AND b.dst = a.src
       |)
       |SELECT n.node AS node,
       |  least(n.node, coalesce(min(m.u), n.node)) AS scc_id,
       |  least(n.node, coalesce(min(m.u), n.node)) = n.node AS is_root
       |FROM nodes n LEFT JOIN mut m ON m.node = n.node
       |GROUP BY n.node
       |ORDER BY node, scc_id, is_root""".stripMargin
  }

  /** Per-node degree report — in/out multiplicities and distinct
    * neighbor counts in ONE pass each side (two partial-aggregated
    * shuffles joined on the node domain; a node missing from a side
    * reports 0). The degree histogram every graph-shape audit starts
    * from, and the identity Σ in·out = two_hop_count ties it to
    * [[twoHopCountDegrees]]. */
  def degreeReport(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    val outd = f.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), countDistinct("dst").as("out_nbrs"))
    val ind = f.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), countDistinct("src").as("in_nbrs"))
    outd.join(ind, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_nbrs"), lit(0L)).as("in_nbrs"),
        coalesce(col("out_nbrs"), lit(0L)).as("out_nbrs"))
  }

  /** Mutual-follow census — the reciprocity count every follower-graph
    * report leads with: unordered node pairs {a, b} with BOTH directed
    * edges a→b and b→a present. Computed on the DISTINCT edge relation
    * (multiplicity cannot make a pair "more mutual"), as a LEFT SEMI
    * self-join against the reversed relation + the `src < dst`
    * canonicalization (each pair counted once, self-loops excluded).
    * One distinct-collapse shuffle + one equi-join on the pair key. */
  def mutualFollows(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val e = maxFilter(edges, max).select(col("src"), col("dst")).distinct()
    e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("mutual_pairs"))
  }

  def mutualFollowsSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT DISTINCT src, dst FROM edges$pred)
       |SELECT CAST(count(*) AS BIGINT) AS mutual_pairs
       |FROM f WHERE src < dst
       |  AND EXISTS (SELECT 1 FROM f r WHERE r.src = f.dst AND r.dst = f.src)""".stripMargin
  }

  /** Triangle-closure follow suggestions — "people you may know" over
    * the reference's own graph: ordered pairs (x, z), x ≠ z, connected
    * by at least `minCommon` DISTINCT middlemen (x→y and y→z both
    * present) but with NO direct x→z edge. This is the reference's
    * 2-hop path relation minus its triangle-closing edges — the LEFT
    * ANTI complement of the semi-join the triangle counter applies
    * (SURVEY §2.5 lists anti joins as absent from the reference; this
    * is where the category earns its place). Common counts are over
    * the DISTINCT edge relation: parallel follows cannot inflate a
    * friend count.
    *
    * Scale shape: identical to [[triangleCounter]] — the self-join runs
    * on |distinct pairs| rows, the path grouping partial-aggregates on
    * (x, z), and the anti join is the same pair-keyed equi-join shape
    * as the semi closure (broadcastable exactly when the closing
    * relation is). The `minCommon` filter sits on the aggregated
    * relation, pruning the suggestion set before the anti join's probe. */
  def followSuggestions(edges: DataFrame, max: Option[Long] = None,
      minCommon: Long = 2L): DataFrame = {
    val e = maxFilter(edges, max).select(col("src"), col("dst")).distinct()
    val e1 = e.as("e1")
    val e2 = e.as("e2")
    val pairs = e1
      .join(e2, col("e1.dst") === col("e2.src") && col("e1.src") =!= col("e2.dst"))
      .groupBy(col("e1.src").as("x"), col("e2.dst").as("z"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs.join(e.select(col("src").as("x"), col("dst").as("z")),
      Seq("x", "z"), "left_anti")
  }

  def followSuggestionsSql(edgeSql: String, max: Option[Long] = None,
      minCommon: Long = 2L): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT DISTINCT src, dst FROM edges$pred),
       |p AS (
       |  SELECT e1.src AS x, e2.dst AS z, CAST(count(*) AS BIGINT) AS common
       |  FROM f e1 JOIN f e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |  GROUP BY e1.src, e2.dst
       |)
       |SELECT x, z, common FROM p
       |WHERE common >= $minCommon
       |  AND NOT EXISTS (SELECT 1 FROM f WHERE f.src = p.x AND f.dst = p.z)
       |ORDER BY x, z, common""".stripMargin
  }

  /** Per-node triangle participation — the reference's raw triangle
    * counter ([[triangleCounter]]) resolved to WHERE the triangles sit:
    * per node y, the number of closed paths x→y→z (z→x present, x ≠ z,
    * weighted by edge multiplicities exactly as the counter counts
    * them) with y in the MIDDLE. Every closed path has exactly one
    * middle, so Σ participation = the raw ×3 `triangle_counter`
    * (spec-pinned identity) — this is the counter's per-node histogram,
    * the "which accounts sit inside cliques" report. Nodes on no
    * triangle are absent (the report is triangle-supported by
    * construction; LEFT-join against a node domain to zero-fill).
    *
    * Plan: [[triangleCounter]]'s weighted self-join and LEFT SEMI
    * closure with the path grouping keyed (x, y, z)→(y) instead of
    * collapsing to (x, z) — same shuffles, same skew story. */
  def triangleParticipation(edges: DataFrame,
      max: Option[Long] = None): DataFrame = {
    val w = weightedEdges(maxFilter(edges, max))
    val e1 = w.as("e1")
    val e2 = w.as("e2")
    val paths = e1
      .join(e2, col("e1.dst") === col("e2.src") && col("e1.src") =!= col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"),
        (col("e1.w") * col("e2.w")).as("pc"))
    val f = maxFilter(edges, max)
    val closed = paths.join(
      f.select(col("dst").as("x"), col("src").as("z")).distinct(),
      Seq("x", "z"), "left_semi")
    closed.groupBy(col("y").as("node"))
      .agg(sum(col("pc")).as("triangle_count"))
  }

  def triangleParticipationSql(edgeSql: String,
      max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |w AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM f GROUP BY src, dst),
       |p AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z, e1.w * e2.w AS pc
       |  FROM w e1 JOIN w e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |)
       |SELECT y AS node, CAST(sum(pc) AS BIGINT) AS triangle_count
       |FROM p
       |WHERE EXISTS (SELECT 1 FROM f WHERE f.src = p.z AND f.dst = p.x)
       |GROUP BY y
       |ORDER BY node, triangle_count""".stripMargin
  }

  /** One-row graph-shape summary — the dashboard a graph audit leads
    * with, each scalar an exact aggregate the other operators' specs
    * tie back to: edge multiset and distinct-pair sizes, node count,
    * self-loops, reciprocated pairs, and the maximum in/out
    * multiplicity degrees. Two partial-agg shuffles (distinct collapse
    * + degree maxima) and the [[mutualFollows]] semi join — every
    * column zero-filled on an empty graph. */
  def graphSummary(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    val e = f.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nNodes = e.select(col("src").as("n")).union(e.select(col("dst").as("n")))
      .agg(countDistinct("n").as("n_nodes"))
    val nEdges = f.agg(count(lit(1)).as("n_edges"),
      coalesce(sum(when(col("src") === col("dst"), 1L).otherwise(0L)), lit(0L))
        .as("n_self_loops"))
    val nDistinct = e.agg(count(lit(1)).as("n_distinct_edges"))
    val mutual = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("mutual_pairs"))
    // functions.max spelled fully: the `max` param shadows the aggregate
    val maxOut = f.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(coalesce(org.apache.spark.sql.functions.max(col("d")), lit(0L))
        .as("max_out_deg"))
    val maxIn = f.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(coalesce(org.apache.spark.sql.functions.max(col("d")), lit(0L))
        .as("max_in_deg"))
    // five 1-row relations composed on a constant key: every side is
    // CHECKPOINTED so `k` is a materialized column, not a foldable
    // literal — Catalyst folding the key away would leave no equi-keys
    // and plan the BroadcastNestedLoopJoin the audit forbids (the
    // bpeMerges attach idiom)
    Seq(nEdges, nDistinct, mutual, maxOut, maxIn)
      .map(df => broadcast(df.withColumn("k", lit(1)).localCheckpoint()))
      .foldLeft(nNodes.withColumn("k", lit(1)).localCheckpoint()) {
        (acc, one) => acc.join(one, Seq("k"))
      }
      .select(col("n_nodes"), col("n_edges"), col("n_distinct_edges"),
        col("n_self_loops"), col("mutual_pairs"),
        col("max_in_deg"), col("max_out_deg"))
  }

  def graphSummarySql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |e AS (SELECT DISTINCT src, dst FROM f)
       |SELECT
       |  (SELECT CAST(count(DISTINCT n) AS BIGINT) FROM (
       |     SELECT src AS n FROM e UNION ALL SELECT dst FROM e)) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_distinct_edges,
       |  (SELECT CAST(coalesce(sum(CASE WHEN src = dst THEN 1 ELSE 0 END), 0) AS BIGINT)
       |     FROM f) AS n_self_loops,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e
       |     WHERE src < dst AND EXISTS (
       |       SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)) AS mutual_pairs,
       |  (SELECT CAST(coalesce(max(d), 0) AS BIGINT) FROM (
       |     SELECT count(*) AS d FROM f GROUP BY dst)) AS max_in_deg,
       |  (SELECT CAST(coalesce(max(d), 0) AS BIGINT) FROM (
       |     SELECT count(*) AS d FROM f GROUP BY src)) AS max_out_deg""".stripMargin
  }

  /** Oracle twin of [[pageRank]] — the rounds UNROLLED as chained CTEs
    * (the BPE-merge oracle discipline: a fixed iteration count is just a
    * fixed CTE chain; every round's arithmetic is the same integer `//`
    * as Spark's `div`, so the final ranks hash-match). `edgeSql` is the
    * shared edge-view body so the two engines read the same relation. */
  def pageRankSql(edgeSql: String, iters: Int = RankIters,
      max: Option[Long] = None, conserve: Boolean = false): String = {
    // iters = 0 would leave a dangling comma after pr0 — same guard as
    // the Spark spelling so the degenerate case fails identically
    require(iters >= 1, s"pageRankSql needs iters >= 1 (got $iters)")
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    val d = RankDamping
    val mres = RankResolution
    // HUGEINT (int128) on the same two multiplies the Spark plan widens
    // to decimal(38,0); `//` on non-negative operands is the same
    // truncation as Spark's `div`, and the result re-enters BIGINT
    val rounds = (1 to iters).map { k =>
      if (!conserve)
        s"""pr$k AS (
           |  SELECT n.node AS node,
           |    CAST(${mres - d} + ($d * CAST(coalesce(c.contrib, 0) AS HUGEINT)) // $mres AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT ce.dst AS node, CAST(sum((CAST(p.r AS HUGEINT) * ce.w) // ce.od) AS BIGINT) AS contrib
           |    FROM pr${k - 1} p JOIN ce ON ce.src = p.node
           |    GROUP BY ce.dst
           |  ) c ON c.node = n.node
           |)""".stripMargin
      else
        // dangling mass of the PREVIOUS round's ranks, floor-split per
        // node — the 1-row ds CTE mirrors the Spark broadcast attach
        s"""ds$k AS (
           |  SELECT CAST(coalesce(sum(p.r), 0) // greatest((SELECT n FROM ncnt), 1) AS BIGINT) AS dshare
           |  FROM pr${k - 1} p WHERE EXISTS (SELECT 1 FROM dang d WHERE d.node = p.node)
           |),
           |pr$k AS (
           |  SELECT n.node AS node,
           |    CAST(${mres - d} + ($d * CAST(coalesce(c.contrib, 0) + ds.dshare AS HUGEINT)) // $mres AS BIGINT) AS r
           |  FROM nodes n CROSS JOIN ds$k ds LEFT JOIN (
           |    SELECT ce.dst AS node, CAST(sum((CAST(p.r AS HUGEINT) * ce.w) // ce.od) AS BIGINT) AS contrib
           |    FROM pr${k - 1} p JOIN ce ON ce.src = p.node
           |    GROUP BY ce.dst
           |  ) c ON c.node = n.node
           |)""".stripMargin
    }.mkString(",\n")
    val conserveCtes = if (!conserve) "" else
      s"""dang AS (SELECT node FROM nodes WHERE NOT EXISTS (SELECT 1 FROM ce WHERE ce.src = node)),
         |ncnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |""".stripMargin
    s"""WITH edges AS ($edgeSql),
       |w AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM edges$pred GROUP BY src, dst),
       |outd AS (SELECT src, CAST(sum(w) AS BIGINT) AS od FROM w GROUP BY src),
       |ce AS (SELECT w.src AS src, w.dst AS dst, w.w AS w, o.od AS od
       |       FROM w JOIN outd o ON o.src = w.src),
       |nodes AS (SELECT src AS node FROM w UNION SELECT dst FROM w),
       |${conserveCtes}pr0 AS (SELECT node, CAST($mres AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT node, r AS rank_millionths FROM pr$iters
       |ORDER BY node, rank_millionths""".stripMargin
  }

  /** Oracle twin of [[connectedComponents]]: transitive closure over the
    * undirected edge relation as a recursive CTE (the dedup-CC oracle's
    * `reach` pattern on the graph's own edges), component id = min of
    * the closed reachable set. */
  def connectedComponentsSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH RECURSIVE edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |und AS (
       |  SELECT src, dst FROM f
       |  UNION
       |  SELECT dst, src FROM f
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst
       |),
       |nodes AS (SELECT src AS node FROM f UNION SELECT dst FROM f),
       |comp AS (
       |  SELECT n.node AS node,
       |    least(n.node, coalesce(min(r.dst), n.node)) AS component_id
       |  FROM nodes n LEFT JOIN reach r ON r.src = n.node
       |  GROUP BY n.node
       |)
       |SELECT node, component_id, node = component_id AS is_root FROM comp
       |ORDER BY node, component_id, is_root""".stripMargin
  }

  /** Oracle twin of [[degreeReport]]. */
  def degreeReportSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |outd AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg,
       |    CAST(count(DISTINCT dst) AS BIGINT) AS out_nbrs
       |  FROM f GROUP BY src
       |),
       |ind AS (
       |  SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg,
       |    CAST(count(DISTINCT src) AS BIGINT) AS in_nbrs
       |  FROM f GROUP BY dst
       |)
       |SELECT coalesce(o.node, i.node) AS node,
       |  coalesce(in_deg, 0) AS in_deg,
       |  coalesce(out_deg, 0) AS out_deg,
       |  coalesce(in_nbrs, 0) AS in_nbrs,
       |  coalesce(out_nbrs, 0) AS out_nbrs
       |FROM outd o FULL OUTER JOIN ind i ON o.node = i.node
       |ORDER BY node, in_deg, out_deg, in_nbrs, out_nbrs""".stripMargin
  }

  /** Iteration count for [[hitsScores]] — fixed and deterministic (the
    * [[RankIters]] discipline: the oracle unrolls exactly this many
    * rounds). Three rounds separate hubs from authorities decisively on
    * every fixture; more rounds only sharpen the ordering. */
  val HitsIters: Int = 3

  /** HITS hubs-and-authorities over the directed multigraph — the other
    * classic link-analysis scoring next to [[pageRank]], and the one
    * that separates the two ROLES a follower graph mixes: authorities
    * (followed by good hubs) vs hubs (following good authorities). Per
    * round, in exact int64 millionths:
    *
    *   a_raw(v) = Σ_{u→v} w(u,v)·h(u)      a(v) = a_raw(v)·10⁶ div max_a
    *   h_raw(u) = Σ_{u→v} w(u,v)·a(v)      h(u) = h_raw(u)·10⁶ div max_h
    *
    * i.e. the standard a = Aᵀh / h = Aa alternation with max-
    * normalization instead of the L2 norm — L2 needs a square root,
    * which no two engines floor identically; dividing by the round's
    * MAXIMUM keeps every value in [0, 10⁶], is scale-equivalent (HITS
    * is defined up to normalization), and stays in exact integer
    * arithmetic both engines compute bit-identically. Parallel edges
    * carry weight by multiplicity, the multigraph semantics every
    * operator here shares. Sums and the ·10⁶ widen through
    * decimal(38,0) (HUGEINT in the oracle) — the [[pageRank]] headroom
    * discipline: a 1e8-follower hub overflows int64 in one round.
    *
    * Scale shape: each half-round is ONE equi-join of the (node, score)
    * relation against the once-checkpointed weighted edges plus ONE
    * partial-aggregated shuffle — [[pageRank]]'s round run in both
    * directions — and the max attaches back as a 1-row broadcast on a
    * checkpointed constant key (the [[graphSummary]] idiom; a foldable
    * key would plan the nested-loop join the audit forbids). Scores are
    * checkpointed per half-round (authorities inside the round, the
    * round's (node, a, h) state by [[graft.Iterate.rounds]]) so plans
    * stay round-deep. */
  def hitsScores(edges: DataFrame, iters: Int = HitsIters,
      max: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"hitsScores needs iters >= 1 (got $iters)")
    val w = weightedEdges(maxFilter(edges, max)).localCheckpoint()
    // `k` rides the checkpointed node domain so the per-round max
    // attaches as a real-column equi-join on BOTH sides — a lit(1)
    // added post-hoc on the probe side folds away and leaves the
    // nested-loop join the plan audit forbids (the graphSummary
    // constant-key discipline)
    val nodes = w.select(col("src").as("node"))
      .union(w.select(col("dst").as("node"))).distinct()
      .withColumn("k", lit(1)).localCheckpoint()
    // raw → normalized half-round: sum score·w over `from` edges into
    // the opposite endpoint, divide by the round max (≥1 guards the
    // all-zero degenerate round; scores are non-negative so div = floor).
    // `base` is the node domain plus whatever columns ride along.
    def halfRound(base: DataFrame, scores: DataFrame, scoreCol: String,
        from: String, to: String, outCol: String): DataFrame = {
      val raw = base.join(
          scores.join(w, scores("node") === w(from))
            .select(col(to).as("node"),
              expr(s"cast($scoreCol as decimal(38,0)) * w").as("c"))
            .groupBy("node").agg(sum("c").as("raw")),
          Seq("node"), "left")
        .select(base.columns.map(col) :+
          expr("cast(coalesce(raw, 0) as decimal(38,0))").as("raw"): _*)
      // functions.max spelled fully: the `max` param shadows it
      val mx = raw.agg(org.apache.spark.sql.functions.max(col("raw")).as("m"))
        .select(greatest(col("m"), lit(1)).as("m"))
        .withColumn("k", lit(1)).localCheckpoint()
      raw.join(broadcast(mx), Seq("k"))
        .select(base.columns.map(col) :+
          expr(s"(raw * 1000000) div m").as(outCol): _*)
    }
    // state (node, k, a, h): the authority half-round is checkpointed
    // inside the round, the hub half-round carries it along
    Iterate.rounds(nodes.select(col("node"), col("k"),
        lit(RankResolution).as("h")), iters) { st =>
      val auths = halfRound(nodes, st, "h", "src", "dst", "a").localCheckpoint()
      halfRound(auths, auths, "a", "dst", "src", "h")
    }.select(col("node"), col("a").as("auth_millionths"),
      col("h").as("hub_millionths"))
  }

  /** Oracle twin of [[hitsScores]] — rounds unrolled as chained CTEs
    * (the [[pageRankSql]] discipline), HUGEINT on the sums Spark widens
    * to decimal(38,0), the per-round max attached by CROSS JOIN against
    * a 1-row CTE. */
  def hitsScoresSql(edgeSql: String, iters: Int = HitsIters,
      max: Option[Long] = None): String = {
    require(iters >= 1, s"hitsScoresSql needs iters >= 1 (got $iters)")
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    // MATERIALIZED: DuckDB inlines CTEs by default and each half-round
    // body is referenced twice (raw + its max) — inlined, the chain
    // re-evaluates ~4× per round (the kCoreSql / pipeline_manifest_bpe
    // lesson, milder here but free to avoid)
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT n.node AS node, CAST(coalesce(c.s, 0) AS HUGEINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT w.dst AS node, sum(CAST(h.h AS HUGEINT) * w.w) AS s
         |    FROM h${k - 1} h JOIN w ON w.src = h.node GROUP BY w.dst
         |  ) c ON c.node = n.node
         |),
         |am$k AS (SELECT greatest(max(raw), 1) AS m FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT node, CAST((raw * 1000000) // m AS BIGINT) AS a
         |  FROM ar$k CROSS JOIN am$k),
         |hr$k AS MATERIALIZED (
         |  SELECT n.node AS node, CAST(coalesce(c.s, 0) AS HUGEINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT w.src AS node, sum(CAST(a.a AS HUGEINT) * w.w) AS s
         |    FROM a$k a JOIN w ON w.dst = a.node GROUP BY w.src
         |  ) c ON c.node = n.node
         |),
         |hm$k AS (SELECT greatest(max(raw), 1) AS m FROM hr$k),
         |h$k AS MATERIALIZED (
         |  SELECT node, CAST((raw * 1000000) // m AS BIGINT) AS h
         |  FROM hr$k CROSS JOIN hm$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |w AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM edges$pred GROUP BY src, dst),
       |nodes AS (SELECT src AS node FROM w UNION SELECT dst FROM w),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT a.node AS node, a.a AS auth_millionths, h.h AS hub_millionths
       |FROM a$iters a JOIN h$iters h ON h.node = a.node
       |ORDER BY node, auth_millionths, hub_millionths""".stripMargin
  }

  /** Core threshold for the [[kCore]] query entry. */
  val KCoreK: Long = 3L

  /** Peel-round budget for [[kCore]] — each round strictly shrinks the
    * graph or is a fixpoint, so 8 rounds converge on every fixture
    * (spec-pinned: round 9 changes nothing); at cluster scale the
    * budget is the familiar fixed-round contract every iterative
    * operator here ships (BPE/Lloyd/PageRank). */
  val KCoreRounds: Int = 8

  /** k-core decomposition (fixed-round peel) — the standard "dense
    * cohesive subgraph" extraction: repeatedly delete every node with
    * fewer than k distinct neighbors until none remains, over the
    * UNDIRECTED simple graph (canonical distinct pairs, self-loops
    * out — "cohesion" is direction-blind and multiplicity cannot make
    * a node better-connected). Output: the surviving nodes with their
    * degree inside the surviving subgraph (`core_deg ≥ k` once
    * converged).
    *
    * Scale shape: per round, ONE partial-aggregated degree count over
    * the current edge relation + TWO left-semi joins filtering edges to
    * live endpoints (both on the 8-byte node key, AQE-splittable); the
    * edge relation is checkpointed per round ([[graft.Iterate.rounds]])
    * so plans stay round-deep, and it only ever SHRINKS — round cost is
    * monotonically non-increasing, the nice property peel algorithms
    * have at scale. */
  def kCore(edges: DataFrame, k: Long = KCoreK, rounds: Int = KCoreRounds,
      max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"kCore needs rounds >= 1 (got $rounds)")
    val und0 = maxFilter(edges, max)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    val und = Iterate.rounds(und0, rounds) { und =>
      val alive = degrees(und).filter(col("deg") >= k)
        .select("node").localCheckpoint()
      und
        .join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    degrees(und).select(col("node"), col("deg").as("core_deg"))
  }

  /** Oracle twin of [[kCore]] — peel rounds unrolled as chained CTEs. */
  def kCoreSql(edgeSql: String, k: Long = KCoreK, rounds: Int = KCoreRounds,
      max: Option[Long] = None): String = {
    require(rounds >= 1, s"kCoreSql needs rounds >= 1 (got $rounds)")
    val andPred = max.fold("")(m => s" AND src < $m AND dst < $m")
    def degSql(rel: String) =
      s"""SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM $rel UNION ALL SELECT b FROM $rel
         |  ) t GROUP BY node""".stripMargin
    // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
    // each round references the previous one FIVE times (twice in the
    // degree union, twice via the two degree joins, once directly) —
    // inlined, round 8 re-evaluates round 0 ~5⁸ times (the
    // pipeline_manifest_bpe `kept` lesson: probed minutes vs instant)
    val rs = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  ${degSql(s"u${r - 1}")}
         |),
         |u$r AS MATERIALIZED (
         |  SELECT u.a, u.b FROM u${r - 1} u
         |  JOIN d$r da ON da.node = u.a JOIN d$r db ON db.node = u.b
         |  WHERE da.deg >= $k AND db.deg >= $k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |u0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst$andPred
       |),
       |$rs
       |SELECT node, deg AS core_deg FROM (
       |  ${degSql(s"u$rounds")}
       |) ORDER BY node, core_deg""".stripMargin
  }

  /** Minimum shared-follower count for the [[followerJaccard]] query
    * entry — pairs below it are noise and would dominate the output. */
  val JaccardMinCommon: Long = 2L

  /** Audience-overlap similarity — "accounts with the same followers":
    * for every pair of accounts sharing ≥ `minCommon` DISTINCT
    * followers, the exact Jaccard of their follower sets in millionths
    * (|A∩B|·10⁶ div |A∪B|, the inclusion–exclusion denominator — no
    * set materialization). The classic common-neighbor self-join on the
    * DISTINCT edge relation (a double follow cannot make two accounts
    * more similar), `e1.dst < e2.dst` canonicalization so each unordered
    * pair appears once.
    *
    * Scale shape: the self-join runs keyed on the FOLLOWER id, so a
    * follower of F accounts contributes F·(F-1)/2 pair rows — the
    * common-neighbor quadratic every similarity engine meets. It is
    * per-follower quadratic, never corpus-quadratic (the LSH-bucket
    * economics of the dedup family, with follow-lists as buckets), the
    * pair stream partial-aggregates map-side into (a, b) counts, and
    * AQE skew-splits the celebrity followers; `minCommon` prunes before
    * the degree joins. Total pair work is Θ(Σ_f outdeg(f)²) over
    * follower out-degrees — per-follower quadratic with NO cap, so a
    * follower of 10⁷ accounts carries ~5·10¹³ pairs and near-zero
    * signal per pair. This exact spelling is for bounded-degree
    * domains; at the 100 TB design point use
    * [[followerJaccardCapped]], which prices the same query with
    * super-spreaders deterministically excluded. */
  def followerJaccard(edges: DataFrame, max: Option[Long] = None,
      minCommon: Long = JaccardMinCommon): DataFrame = {
    val e = maxFilter(edges, max).select(col("src"), col("dst"))
      .distinct().localCheckpoint()
    val indeg = e.groupBy(col("dst").as("x")).agg(count(lit(1)).as("deg"))
    val e1 = e.as("e1")
    val e2 = e.as("e2")
    e1.join(e2, col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(indeg.select(col("x").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(indeg.select(col("x").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        expr("(common * 1000000L) div (deg_a + deg_b - common)")
          .as("jaccard_millionths"))
  }

  /** Oracle twin of [[followerJaccard]]. */
  def followerJaccardSql(edgeSql: String, max: Option[Long] = None,
      minCommon: Long = JaccardMinCommon): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |e AS (SELECT DISTINCT src, dst FROM edges$pred),
       |d AS (SELECT dst AS x, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY dst),
       |c AS (
       |  SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  GROUP BY e1.dst, e2.dst HAVING count(*) >= $minCommon
       |)
       |SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
       |  CAST((common * 1000000) // (da.deg + db.deg - common) AS BIGINT)
       |    AS jaccard_millionths
       |FROM c JOIN d da ON da.x = c.a JOIN d db ON db.x = c.b
       |ORDER BY a, b, common, deg_a, deg_b, jaccard_millionths""".stripMargin
  }

  /** Out-degree cap for [[followerJaccardCapped]] — followers following
    * more accounts than this are excluded from pair generation. */
  val JaccardDegreeCap: Long = 32L

  /** Scale-safe [[followerJaccard]]: Jaccard over the CAPPED follower
    * sets — followers whose distinct out-degree exceeds `cap` are
    * deterministically excluded (exact integer threshold, identical in
    * the oracle) before any pairing, and both the pair counts AND the
    * per-account degrees are computed over the surviving relation, so
    * the result is the exact Jaccard of well-defined sets (each
    * account's sub-cap followers), not an inconsistent hybrid.
    *
    * Why this is the 100 TB spelling: the exact variant's pair work is
    * Θ(Σ_f outdeg(f)²); one 10⁷-out-degree spreader alone contributes
    * ~5·10¹³ pair rows that AQE can split but never shrink. The cap
    * bounds per-follower work at C²/2 pairs, making total work
    * Θ(|E|·C) — linear in the edge relation — while dropping only the
    * followers whose follows carry the least similarity signal (a
    * follower of everyone tells you nothing about any pair; the same
    * argument that drops stopword shingles from MinHash banding).
    * On any graph where no follower exceeds `cap` the output equals
    * [[followerJaccard]]'s plus the constant `cap_applied` column
    * (spec-pinned in GraphPatternsSpec).
    *
    * Plan: one extra out-degree aggregate + LEFT SEMI against the
    * sub-cap follower ids (broadcast-eligible: high-degree followers
    * are the minority, but the SEMI keeps the kept-set, which is the
    * big side at scale — hence keyed semi-join, AQE free to broadcast
    * when small); everything downstream is the exact variant's plan
    * on the filtered relation. */
  def followerJaccardCapped(edges: DataFrame, max: Option[Long] = None,
      minCommon: Long = JaccardMinCommon,
      cap: Long = JaccardDegreeCap): DataFrame = {
    val e0 = maxFilter(edges, max).select(col("src"), col("dst")).distinct()
    val kept = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .filter(col("od") <= cap).select(col("src"))
    val e = e0.join(kept, Seq("src"), "left_semi").localCheckpoint()
    val indeg = e.groupBy(col("dst").as("x")).agg(count(lit(1)).as("deg"))
    val e1 = e.as("e1")
    val e2 = e.as("e2")
    e1.join(e2, col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(indeg.select(col("x").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(indeg.select(col("x").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        expr("(common * 1000000L) div (deg_a + deg_b - common)")
          .as("jaccard_millionths"),
        lit(cap).as("cap_applied"))
  }

  /** Oracle twin of [[followerJaccardCapped]]. */
  def followerJaccardCappedSql(edgeSql: String, max: Option[Long] = None,
      minCommon: Long = JaccardMinCommon,
      cap: Long = JaccardDegreeCap): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |e0 AS (SELECT DISTINCT src, dst FROM edges$pred),
       |kept AS (SELECT src FROM e0 GROUP BY src HAVING count(*) <= $cap),
       |e AS (SELECT e0.src, e0.dst FROM e0 WHERE e0.src IN (SELECT src FROM kept)),
       |d AS (SELECT dst AS x, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY dst),
       |c AS (
       |  SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  GROUP BY e1.dst, e2.dst HAVING count(*) >= $minCommon
       |)
       |SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
       |  CAST((common * 1000000) // (da.deg + db.deg - common) AS BIGINT)
       |    AS jaccard_millionths,
       |  CAST($cap AS BIGINT) AS cap_applied
       |FROM c JOIN d da ON da.x = c.a JOIN d db ON db.x = c.b
       |ORDER BY a, b, common, deg_a, deg_b, jaccard_millionths, cap_applied""".stripMargin
  }

  /** Power-of-two band ladder for [[degreeHistogram]] — the same SQL
    * text compiles in both engines (the corpus_histogram discipline:
    * exact integer CASE, never quantiles — approx sketches aren't
    * oracle-matchable and exact percentiles need per-group sorts).
    * Bands [2^i, 2^(i+1)) for i ∈ 0..40; degrees are ≥ 1 by
    * construction (a node exists only via an incident edge) and the
    * else arm catches > 2^41 (no real graph's multiplicity degree). */
  private[graph] def degreeBandSql(c: String): String = {
    val whens = (0 to 40)
      .map(i => s"WHEN $c < ${1L << (i + 1)} THEN ${1L << i}")
      .mkString(" ")
    s"CAST(CASE $whens ELSE ${1L << 41} END AS BIGINT)"
  }

  /** Degree-distribution histogram — the one-glance skew audit (a
    * follower graph is power-law; THIS is the report that says how
    * hard): nodes bucketed by total multiplicity degree (in + out) into
    * power-of-two bands, `band_lo` = the band's inclusive lower edge.
    * One partial-aggregated degree shuffle + a ≤42-row rollup — the
    * [[degreeReport]] relation collapsed to the shape a human (or an
    * AQE-threshold decision) actually reads. */
  def degreeHistogram(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    f.select(col("src").as("node")).union(f.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .select(expr(degreeBandSql("deg")).as("band_lo"))
      .groupBy("band_lo").agg(count(lit(1)).as("n_nodes"))
  }

  /** Oracle twin of [[degreeHistogram]] — the identical CASE ladder. */
  def degreeHistogramSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT src AS node FROM f UNION ALL SELECT dst FROM f
       |  ) t GROUP BY node
       |)
       |SELECT ${degreeBandSql("deg")} AS band_lo,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM deg GROUP BY band_lo
       |ORDER BY band_lo, n_nodes""".stripMargin
  }

  /** Round budget for [[labelCommunities]] — LPA converges in a handful
    * of rounds on social graphs (the published behavior); fixed and
    * oracle-unrolled like every iterative operator here. */
  val LpaRounds: Int = 4

  /** Community detection via synchronous label propagation (LPA,
    * Raghavan et al. 2007) with DETERMINISTIC min-tie-break — the
    * "which accounts cluster together" operator connected components
    * cannot express (a social graph is usually ONE giant weak
    * component; communities are its dense interior regions). Labels
    * start as node ids; each round every node adopts the label with the
    * greatest total edge multiplicity among its undirected neighbors,
    * ties broken by the SMALLEST label — the published algorithm's
    * random tie-break replaced by an exact total order, because a
    * deterministic engine (and a hash-matching oracle) cannot flip
    * coins. Output after [[LpaRounds]] rounds: (node, community_id),
    * the label itself (a member's node id).
    *
    * Known artifact, inherited from SYNCHRONOUS updates (Raghavan et
    * al. §3 discuss it): on bipartite-symmetric regions labels can
    * OSCILLATE — an isolated edge {a, b} swaps labels every round and
    * an even round count hands each node its own label back
    * (spec-pinned). Real community structure (any triangle) breaks the
    * symmetry; the published fix is semi-synchronous coloring, which
    * would trade the fixed-round oracle contract for order dependence —
    * documented-not-taken. Dense cores converge in 2-3 rounds
    * regardless, which is what [[LpaRounds]] is sized for.
    *
    * Scale shape: the symmetric weighted adjacency is checkpointed
    * ONCE; per round, ONE equi-join of the label relation against it +
    * one (node, label) partial-agg vote count + the argmax resolved as
    * max-count join + min-label agg (two more node-keyed partial aggs)
    * — every shuffle on the 8-byte node key, AQE-splittable, plans
    * round-deep via [[graft.Iterate.rounds]]' per-round checkpoints.
    * The vote relation is bounded by the adjacency size, never
    * nodes × labels. */
  def labelCommunities(edges: DataFrame, rounds: Int = LpaRounds,
      max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"labelCommunities needs rounds >= 1 (got $rounds)")
    val w = weightedEdges(
      maxFilter(edges, max).filter(col("src") =!= col("dst")))
    // symmetric adjacency with multiplicity weights: a double follow
    // votes twice, direction doesn't (community is direction-blind)
    val adj = w.select(col("src").as("node"), col("dst").as("nbr"), col("w"))
      .union(w.select(col("dst").as("node"), col("src").as("nbr"), col("w")))
      .groupBy("node", "nbr").agg(sum("w").as("wt"))
      .localCheckpoint()
    val labels0 = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    Iterate.rounds(labels0, rounds) { labels =>
      val votes = adj.join(
          labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy("node", "label").agg(sum("wt").as("cnt"))
      val maxc = votes.groupBy("node")
        .agg(org.apache.spark.sql.functions.max(col("cnt")).as("m"))
      votes.join(maxc, Seq("node"))
        .filter(col("cnt") === col("m"))
        .groupBy("node").agg(min("label").as("label"))
    }.select(col("node"), col("label").as("community_id"))
  }

  /** Oracle twin of [[labelCommunities]] — vote/argmax rounds unrolled
    * as MATERIALIZED CTEs (each round's vote relation is referenced
    * twice: the count and its max — the kCoreSql inlining lesson). */
  def labelCommunitiesSql(edgeSql: String, rounds: Int = LpaRounds,
      max: Option[Long] = None): String = {
    require(rounds >= 1, s"labelCommunitiesSql needs rounds >= 1 (got $rounds)")
    val andPred = max.fold("")(m => s" AND src < $m AND dst < $m")
    val rs = (1 to rounds).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT a.node AS node, l.label AS label, CAST(sum(a.wt) AS BIGINT) AS cnt
         |  FROM adj a JOIN l${k - 1} l ON l.node = a.nbr
         |  GROUP BY a.node, l.label
         |),
         |l$k AS MATERIALIZED (
         |  SELECT v.node AS node, min(v.label) AS label
         |  FROM v$k v JOIN (
         |    SELECT node, max(cnt) AS m FROM v$k GROUP BY node
         |  ) mx ON mx.node = v.node AND v.cnt = mx.m
         |  GROUP BY v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |w AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM edges
       |  WHERE src <> dst$andPred GROUP BY src, dst
       |),
       |adj AS (
       |  SELECT node, nbr, CAST(sum(w) AS BIGINT) AS wt FROM (
       |    SELECT src AS node, dst AS nbr, w FROM w
       |    UNION ALL
       |    SELECT dst AS node, src AS nbr, w FROM w
       |  ) t GROUP BY node, nbr
       |),
       |l0 AS (SELECT DISTINCT node, node AS label FROM adj),
       |$rs
       |SELECT node, label AS community_id FROM l$rounds
       |ORDER BY node, community_id""".stripMargin
  }

  /** Hop budget for [[graphDistances]] — six degrees of separation; the
    * fixed-round contract every iterative operator here ships. */
  val BfsRounds: Int = 6

  /** Multi-source BFS hop distance — "how many follows away is every
    * account from THESE accounts": per node reachable from the seed set
    * within [[BfsRounds]] directed hops, the exact minimum hop count.
    * The frontier-expansion shape [[pageRank]]'s mass-flow rounds don't
    * cover (min-plus semiring instead of sum-times): per round
    * d(v) = min(d(v), min over u→v of d(u)+1), seeds start at 0,
    * unreached nodes are ABSENT (not ∞ — the report is
    * reachability-supported, left-join a node domain to flag the rest).
    * Distances travel edge DIRECTION (who you can reach by following),
    * over the distinct edge relation — multiplicity cannot shorten a
    * path. Off-graph seeds are ignored via the node-domain semi join
    * (the [[pageRankPersonalized]] discipline).
    *
    * Scale shape: TRUE frontier expansion — in unweighted BFS a node's
    * first-reached round IS its min hop, so only the nodes first
    * reached LAST round expand this round: one equi-join of the
    * (shrinking-then-empty) frontier against the once-checkpointed
    * distinct edges, then one partial-agg min over the settled rows
    * plus the candidates (on the 8-byte node key, AQE-splittable). The
    * state is ONE (node, dist, fresh) relation, `fresh` marking the
    * frontier, checkpointed once per round by [[graft.Iterate.rounds]]
    * so plans stay round-deep. Settled nodes are never re-expanded;
    * once the frontier empties the remaining rounds only re-aggregate
    * the settled set. */
  def graphDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int = BfsRounds, max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"graphDistances needs rounds >= 1 (got $rounds)")
    val e = maxFilter(edges, max).select(col("src"), col("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // state (node, dist, fresh): `fresh` marks last round's frontier
    val dist0 = nodes
      .join(seeds.select(col("node")).distinct(), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"), lit(true).as("fresh"))
      .localCheckpoint()
    Iterate.rounds(dist0, rounds) { dist =>
      val frontier = dist.filter(col("fresh"))
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"),
          lit(true).as("fresh"))
      // a settled node's dist is below any candidate's, and it stays
      // fresh only if no settled row exists (false < true)
      dist.select(col("node"), col("dist"), lit(false).as("fresh"))
        .union(reached)
        .groupBy("node").agg(min("dist").as("dist"), min("fresh").as("fresh"))
    }.select(col("node"), col("dist"))
  }

  /** Seed-capacity sentinel for [[widestPaths]] — a seed's "bottleneck
    * to itself" is unbounded; 10¹⁵ exceeds any reachable capacity (an
    * edge's multiplicity is bounded by the corpus row count) while
    * staying far inside int64 for the least/greatest arithmetic. The
    * sentinel never escapes: the output maps it to NULL. */
  val CapInf: Long = 1000000000000000L

  /** WIDEST-PATH (max-min bottleneck) distances — the third semiring
    * next to [[pageRank]]'s sum-times and [[graphDistances]]'s
    * min-plus: per node reachable from the seed set within `rounds`
    * directed hops, the strongest connection strength, where a path's
    * strength is the MINIMUM edge multiplicity along it and a node
    * takes the MAXIMUM over paths:
    *
    *   cap(v) = max(cap(v), max over u→v of min(cap(u), w(u,v)))
    *
    * "How many interactions does the weakest link of the best route
    * from these accounts carry" — the bottleneck/capacity question
    * (maximum-capacity routing, percolation-style influence) that
    * neither hop counts nor rank mass answer. Multiplicity IS the
    * signal here, the one graph family where the parallel-edge count
    * is a capacity rather than a mass weight. Seeds report NULL (no
    * bottleneck to yourself); unreached nodes are absent (the
    * [[graphDistances]] reachability-supported contract).
    *
    * Unlike BFS, settled values can IMPROVE in later rounds (a longer
    * path can carry a wider bottleneck), so every round re-relaxes the
    * full capacity relation — the textbook Bellman-Ford-style bound:
    * after r rounds every ≤ r-hop path is accounted for (the fixed-
    * round contract every iterative operator here ships).
    *
    * Scale shape: per round ONE equi-join of the capacity relation
    * against the once-checkpointed weighted-distinct edges on `src`
    * plus ONE partial-agg max shuffle on the node key — the
    * [[pageRank]] round, on greatest/least instead of sum/div;
    * checkpointed per round by [[graft.Iterate.rounds]] so plans stay
    * round-deep. */
  def widestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int = BfsRounds, max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"widestPaths needs rounds >= 1 (got $rounds)")
    val e = weightedEdges(maxFilter(edges, max)).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val cap0 = nodes
      .join(seeds.select(col("node")).distinct(), Seq("node"), "left_semi")
      .select(col("node"), lit(CapInf).as("cap")).localCheckpoint()
    Iterate.rounds(cap0, rounds) { cap =>
      val relaxed = cap.join(e, cap("node") === e("src"))
        .select(e("dst").as("node"), least(col("cap"), col("w")).as("cap"))
      cap.union(relaxed)
        // functions.max spelled fully: the `max` param shadows it
        .groupBy("node")
        .agg(org.apache.spark.sql.functions.max(col("cap")).as("cap"))
    }.select(col("node"),
      when(col("cap") === CapInf, lit(null).cast("long"))
        .otherwise(col("cap")).as("bottleneck"))
  }

  /** Oracle twin of [[widestPaths]] with the query entry's modular seed
    * set — the [[graphDistancesSql]] unrolled-CTE chain on the max-min
    * semiring. */
  def widestPathsSql(edgeSql: String, seedMod: Long,
      rounds: Int = BfsRounds, max: Option[Long] = None): String = {
    require(rounds >= 1, s"widestPathsSql needs rounds >= 1 (got $rounds)")
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    val rs = (1 to rounds).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT node, max(cap) AS cap FROM (
         |    SELECT node, cap FROM c${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, least(c.cap, e.w) AS cap
         |    FROM c${k - 1} c JOIN e ON e.src = c.node
         |  ) t GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |      FROM edges$pred GROUP BY src, dst),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |c0 AS (SELECT node, CAST($CapInf AS BIGINT) AS cap FROM nodes
       |       WHERE node % $seedMod = 0),
       |$rs
       |SELECT node, CASE WHEN cap = $CapInf THEN NULL ELSE cap END
       |  AS bottleneck
       |FROM c$rounds
       |ORDER BY node, bottleneck""".stripMargin
  }

  /** Oracle twin of [[graphDistances]] with the query entry's modular
    * seed set (`node % seedMod = 0`) — relaxation rounds unrolled as
    * MATERIALIZED CTEs (each round is referenced twice: carry + expand;
    * the kCoreSql inlining lesson). */
  def graphDistancesSql(edgeSql: String, seedMod: Long,
      rounds: Int = BfsRounds, max: Option[Long] = None): String = {
    require(rounds >= 1, s"graphDistancesSql needs rounds >= 1 (got $rounds)")
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    val rs = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${k - 1} d JOIN e ON e.src = d.node
         |  ) t GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgeSql),
       |e AS (SELECT DISTINCT src, dst FROM edges$pred),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       |       WHERE node % $seedMod = 0),
       |$rs
       |SELECT node, dist FROM d$rounds
       |ORDER BY node, dist""".stripMargin
  }

  /** Per-node reciprocity — [[mutualFollows]]' census resolved to WHO
    * reciprocates: per account with ≥1 outgoing follow, its distinct
    * followees, how many follow back, and the reciprocated fraction in
    * exact millionths. The per-node face of the graph-level
    * `mutual_pairs` scalar (Σ mutual_nbrs = 2·mutual_pairs + 2·mutual
    * self-loop-free identity — spec-pinned), and the standard
    * "community member vs broadcaster" account classifier. Self-loops
    * are excluded (following yourself reciprocates nothing).
    *
    * Scale shape: one distinct collapse + one LEFT SEMI self-join
    * against the reversed relation (the [[mutualFollows]] join
    * verbatim, kept per-src instead of collapsed) + two partial-agg
    * counts full-outer-merged on the node key. */
  /** lgConfigK of the reach sketches: 2¹² registers, ≈1.6 % rel. err —
    * the [[graft.events.Events.HllLgK]] setting, restated locally so the
    * graph family has no events-package dependency. */
  val ReachLgK: Int = 12

  /** Default hop horizon of the `graph_reach` query entry. */
  val ReachRounds: Int = 3

  /** Per-node r-hop reach ESTIMATES — the HyperBall/ANF algorithm
    * (Boldi & Vigna's HyperBall; Palmer et al.'s ANF before it) on
    * DataFrames: every node carries a Datasketches-HLL sketch of the
    * node set it can reach following edge direction in ≤ r hops, and
    * each round unions every node's sketch with its out-neighbors'
    * sketches — `sk_r(v) = sk_{r-1}(v) ∪ ⋃_{v→w} sk_{r-1}(w)`, a
    * max-fold on registers, so the iteration converges monotonically
    * and duplicate paths cost nothing.
    *
    * This is the operator that makes "how big is each account's 3-hop
    * audience" answerable at all at 100 TB: the EXACT per-node reach
    * set is worst-case quadratic to even write down (every node reaches
    * most of a connected graph within small r — the materialized
    * `twohop_paths` relation is already the r = 2 warning), while here
    * per-node state is one ≤1.6 KB sketch regardless of reach size, and
    * a round is ONE equi-join of the sketch relation against the
    * once-checkpointed distinct edges + ONE mergeable partial agg —
    * [[pageRank]]'s exact plan shape with sketches in place of ranks
    * (same [[graft.Iterate.rounds]] checkpoint keeping plans round-deep, same
    * src-bucketed zero-Exchange story at cluster scale).
    *
    * Returned `est_reach` INCLUDES the node itself (round-0 sketch =
    * {v}, the ANF convention: the neighborhood function N(v, 0) = 1).
    * Estimates are deterministic per graph (register max-folds are
    * order- and partitioning-independent) and EXACT below the sparse→
    * dense promotion (thousands of nodes) — the spec pins golden
    * path/cycle/star graphs and random-graph agreement against an
    * exact BFS closure. No DuckDB oracle BY DESIGN (the sketch-family
    * rationale: an estimate pins the implementation, not the data). */
  def reachEstimate(edges: DataFrame, rounds: Int = ReachRounds,
      max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"reachEstimate needs rounds >= 1 (got $rounds)")
    val (sk0, round) = reachSketches(edges, max)
    Iterate.rounds(sk0, rounds)(round)
      .select(col("node"), hll_sketch_estimate(col("sk")).as("est_reach"))
  }

  /** The round-0 (node, sk) relation and the sketch round shared by
    * [[reachEstimate]] and [[neighborhoodFunction]]: every node's sketch
    * unioned with its out-neighbors' sketches over the
    * once-checkpointed distinct edges. */
  private def reachSketches(edges: DataFrame,
      max: Option[Long]): (DataFrame, DataFrame => DataFrame) = {
    val e = maxFilter(edges, max).select(col("src"), col("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val sk0 = nodes.groupBy("node")
      .agg(hll_sketch_agg(col("node"), lit(ReachLgK)).as("sk"))
      .localCheckpoint()
    (sk0, sk => sk.union(e.join(sk, e("dst") === sk("node"))
        .select(e("src").as("node"), col("sk")))
      .groupBy("node").agg(hll_union_agg(col("sk"), lit(false)).as("sk")))
  }

  /** The NEIGHBORHOOD FUNCTION N(r) — the curve [[reachEstimate]]'s
    * per-node sketches exist to integrate (the original point of
    * ANF/HyperBall): for each hop count r ∈ [0, rounds], the estimated
    * total number of (source, reachable-node) pairs at distance ≤ r.
    * Where the curve flattens is the graph's effective diameter
    * ("within how many hops does a follow reach ~everyone it will ever
    * reach"); N(0) = |nodes| by construction, and N is nondecreasing
    * in r (register max-folds only grow — spec-pinned).
    *
    * The same sketch round as [[reachEstimate]] (one shared step), plus one tiny
    * estimate-and-sum aggregate of the sketch relation per round (a
    * one-row result each; the union of rounds+1 one-row frames is a
    * plan union of aggregates, not a driver-side collect). */
  def neighborhoodFunction(edges: DataFrame, rounds: Int = ReachRounds,
      max: Option[Long] = None): DataFrame = {
    require(rounds >= 1, s"neighborhoodFunction needs rounds >= 1 (got $rounds)")
    val (sk0, round) = reachSketches(edges, max)
    // Each per-node estimate FLOORS to long before the global sum:
    // summing the raw double estimates would make the total depend on
    // partition-wise addition order (IEEE addition is not associative),
    // breaking the "deterministic per graph" claim and the spec-pinned
    // nondecreasing property; integer addition is order-independent
    // (the engine's integer-aggregate discipline).
    def curvePoint(r: Int, sk: DataFrame) = sk
      .select(floor(hll_sketch_estimate(col("sk"))).cast("long").as("est"))
      .agg(coalesce(sum("est"), lit(0L)).as("est_pairs"))
      .select(lit(r.toLong).as("hops"), col("est_pairs"))
    // the curve is a per-round side output: each round reads the point
    // of the checkpointed sketches it was handed
    val curve = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Iterate.rounds(sk0, rounds) { sk =>
      curve += curvePoint(curve.size, sk)
      round(sk)
    }
    (curve :+ curvePoint(rounds, last)).reduce(_ union _)
  }

  def nodeReciprocity(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val e = maxFilter(edges, max).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct().localCheckpoint()
    val outn = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_nbrs"))
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("mutual_nbrs"))
    outn.join(mutual, Seq("node"), "left")
      .select(col("node"), col("out_nbrs"),
        coalesce(col("mutual_nbrs"), lit(0L)).as("mutual_nbrs"),
        expr("(coalesce(mutual_nbrs, 0L) * 1000000L) div out_nbrs")
          .as("reciprocity_millionths"))
  }

  /** Oracle twin of [[nodeReciprocity]]. */
  def nodeReciprocitySql(edgeSql: String, max: Option[Long] = None): String = {
    val andPred = max.fold("")(m => s" AND src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst$andPred),
       |outn AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS out_nbrs
       |  FROM e GROUP BY src
       |),
       |m AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS mutual_nbrs
       |  FROM e WHERE EXISTS (
       |    SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)
       |  GROUP BY src
       |)
       |SELECT o.node AS node, out_nbrs,
       |  coalesce(mutual_nbrs, 0) AS mutual_nbrs,
       |  CAST((coalesce(mutual_nbrs, 0) * 1000000) // out_nbrs AS BIGINT)
       |    AS reciprocity_millionths
       |FROM outn o LEFT JOIN m ON m.node = o.node
       |ORDER BY node, out_nbrs, mutual_nbrs, reciprocity_millionths""".stripMargin
  }

  /** Degree-mixing matrix — "who follows whom, by popularity band": per
    * directed edge (multiplicity counted — each follow is an
    * observation), the follower's OUT-degree band × the followed
    * account's IN-degree band, over the [[degreeBandSql]] power-of-two
    * ladder. The assortativity audit in exact-integer form: a
    * celebrity-heavy graph concentrates mass in the (low, high) cells,
    * a mutual-clique community on the diagonal — and unlike the
    * textbook assortativity coefficient (a correlation — needs a sqrt
    * no two engines floor identically) the matrix is oracle-exact and
    * carries MORE information.
    *
    * Scale shape: the [[graft.text.TextAnalysis]] token_rarity two-pass
    * skeleton on edges — two partial-aggregated degree relations derive
    * from the edge scan, join back on the 8-byte node keys (AQE covers
    * the celebrity dst key), and the band projection collapses to a
    * ≤42² row matrix in one more partial-agg shuffle. */
  def degreeMixing(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val f = maxFilter(edges, max)
    val outd = f.groupBy(col("src").as("node")).agg(count(lit(1)).as("od"))
    val ind = f.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind"))
    f.join(outd.withColumnRenamed("node", "src"), Seq("src"))
      .join(ind.withColumnRenamed("node", "dst"), Seq("dst"))
      .select(expr(degreeBandSql("od")).as("src_out_band"),
        expr(degreeBandSql("ind")).as("dst_in_band"))
      .groupBy("src_out_band", "dst_in_band")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** Oracle twin of [[degreeMixing]] — the identical CASE ladder on
    * both degree columns. */
  def degreeMixingSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" WHERE src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |f AS (SELECT src, dst FROM edges$pred),
       |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS od FROM f GROUP BY src),
       |ind AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS ind FROM f GROUP BY dst)
       |SELECT ${degreeBandSql("od.od")} AS src_out_band,
       |  ${degreeBandSql("ind.ind")} AS dst_in_band,
       |  CAST(count(*) AS BIGINT) AS n_edges
       |FROM f JOIN od ON od.node = f.src JOIN ind ON ind.node = f.dst
       |GROUP BY src_out_band, dst_in_band
       |ORDER BY src_out_band, dst_in_band, n_edges""".stripMargin
  }

  def triangleCounter(edges: DataFrame, max: Option[Long] = None,
      broadcastClosing: Boolean = false): DataFrame = {
    val f = maxFilter(edges, max)
    val w = weightedEdges(f)
    val e1 = w.as("e1")
    val e2 = w.as("e2")
    val pathsByXZ = e1
      .join(e2, col("e1.dst") === col("e2.src") && col("e1.src") =!= col("e2.dst"))
      .groupBy(col("e1.src").as("x"), col("e2.dst").as("z"))
      .agg(sum(col("e1.w") * col("e2.w")).as("pathcnt"))
    // closing edge z→x, existence-only (left_semi collapses multiplicity
    // exactly like the reference's hasEdge boolean). The broadcast variant
    // ships the DISTINCT pair set: only existence matters under left_semi,
    // and on a multigraph the distinct relation is the small one — the
    // whole point of the replicated-join variant at scale.
    val closing0 = f.select(col("dst").as("x"), col("src").as("z"))
    val closing = if (broadcastClosing) broadcast(closing0.distinct()) else closing0
    pathsByXZ.join(closing, Seq("x", "z"), "left_semi")
      .agg(coalesce(sum(col("pathcnt")), lit(0L)).as("triangle_counter"))
      .withColumn("triangles_distinct",
        floor(col("triangle_counter") / lit(3.0)).cast("long"))
  }

  /** Degree-ordered (ORIENTED) triangle enumeration — the O(m^1.5)
    * spelling of [[triangleCounter]]'s `triangles_distinct` for the
    * 100× graph. The classic counter's wedge join pairs every in-edge
    * of a middle node with every out-edge: Θ(Σ_y indeg(y)·outdeg(y))
    * pair rows, which a 10⁷-degree celebrity turns into ~10¹⁴ rows the
    * MAX filter exists to dodge. The standard fix (forward/compact-
    * forward; Latapy 2008; Suri & Vassilvitskii WWW'11 in MapReduce
    * form) totally orders nodes by (support-graph degree, id) and
    * enumerates each triangle ONCE from its minimum-rank corner, so
    * every wedge pairs only the HIGHER-rank neighbors of its corner —
    * Σ_a C(hideg(a), 2) pairs, provably O(m^1.5) overall because a
    * corner's higher-rank degree is at most √(2m).
    *
    * Direction handling: the support graph is the unordered distinct
    * pair relation with per-pair direction FLAGS (has lo→hi, has
    * hi→lo); a closed support triangle {a,v,w} then contributes the
    * number of directed 3-cycles its flags admit (0, 1, or 2:
    * a→v→w→a and/or a→w→v→a) — exactly `triangles_distinct` on a
    * self-loop-free distinct-edge graph (each directed cycle is the
    * counter's 3 rotations; GraphPatternsSpec pins the identity, and
    * GraphSkewSpec proves the oriented wedge count undercuts the
    * unoriented one on a celebrity fixture). Self-loops can't sit in
    * a 3-cycle and are dropped at the scan.
    *
    * Plan: two degree-attach broadcast-or-shuffle hash joins build the
    * oriented relation, one self-join keyed on the corner generates
    * wedges, one hash join on (v, w) closes them, then a partial-agg
    * scalar sum — no pair row survives past the map-side partial. */
  private[graft] def orientedSupport(edges: DataFrame,
      max: Option[Long] = None): DataFrame = {
    val d = maxFilter(edges, max).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    // unordered support pairs with direction flags
    val p = d.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"),
        when(col("src") < col("dst"), 1L).otherwise(0L).as("f_lh"),
        when(col("src") > col("dst"), 1L).otherwise(0L).as("f_hl"))
      .groupBy(col("lo"), col("hi"))
      // `max` the param shadows functions.max here — qualify the agg
      .agg(org.apache.spark.sql.functions.max(col("f_lh")).as("has_lh"),
        org.apache.spark.sql.functions.max(col("f_hl")).as("has_hl"))
      .localCheckpoint()
    val deg = p.select(col("lo").as("node"))
      .union(p.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low-rank → high-rank; rank = (support degree, id), and
    // lo < hi by construction so a degree tie resolves to lo
    p.join(deg.select(col("node").as("lo"), col("deg").as("deg_lo")), Seq("lo"))
      .join(deg.select(col("node").as("hi"), col("deg").as("deg_hi")), Seq("hi"))
      .select(
        when(col("deg_lo") <= col("deg_hi"), col("lo")).otherwise(col("hi")).as("a"),
        when(col("deg_lo") <= col("deg_hi"), col("hi")).otherwise(col("lo")).as("b"),
        when(col("deg_lo") <= col("deg_hi"), col("has_lh")).otherwise(col("has_hl")).as("has_ab"),
        when(col("deg_lo") <= col("deg_hi"), col("has_hl")).otherwise(col("has_lh")).as("has_ba"),
        when(col("deg_lo") <= col("deg_hi"), col("deg_hi")).otherwise(col("deg_lo")).as("deg_b"))
      .localCheckpoint()
  }

  /** The oriented wedge stream [[trianglesOriented]] closes — exposed
    * for GraphSkewSpec's pair-count audit against the unoriented
    * Θ(Σ indeg·outdeg) wedge stream. */
  private[graft] def orientedWedges(o: DataFrame): DataFrame = {
    val o1 = o.as("o1")
    val o2 = o.as("o2")
    o1.join(o2, col("o1.a") === col("o2.a") &&
      (col("o1.deg_b") < col("o2.deg_b") ||
        (col("o1.deg_b") === col("o2.deg_b") && col("o1.b") < col("o2.b"))))
  }

  def trianglesOriented(edges: DataFrame, max: Option[Long] = None): DataFrame = {
    val o = orientedSupport(edges, max)
    val o3 = o.as("o3")
    orientedWedges(o)
      .join(o3, col("o3.a") === col("o1.b") && col("o3.b") === col("o2.b"))
      .select((col("o1.has_ab") * col("o3.has_ab") * col("o2.has_ba") +
        col("o2.has_ab") * col("o3.has_ba") * col("o1.has_ba")).as("cyc"))
      .agg(coalesce(sum(col("cyc")), lit(0L)).as("triangles_distinct"))
  }

  /** Oracle twin of [[trianglesOriented]] — the same orientation and
    * flag arithmetic in portable SQL. */
  def trianglesOrientedSql(edgeSql: String, max: Option[Long] = None): String = {
    val pred = max.fold("")(m => s" AND src < $m AND dst < $m")
    s"""WITH edges AS ($edgeSql),
       |d AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst$pred),
       |p AS (
       |  SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
       |    CAST(max(CASE WHEN src < dst THEN 1 ELSE 0 END) AS BIGINT) AS has_lh,
       |    CAST(max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS BIGINT) AS has_hl
       |  FROM d GROUP BY 1, 2
       |),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT lo AS node FROM p UNION ALL SELECT hi AS node FROM p
       |  ) GROUP BY node
       |),
       |o AS (
       |  SELECT
       |    CASE WHEN dl.deg <= dh.deg THEN lo ELSE hi END AS a,
       |    CASE WHEN dl.deg <= dh.deg THEN hi ELSE lo END AS b,
       |    CASE WHEN dl.deg <= dh.deg THEN has_lh ELSE has_hl END AS has_ab,
       |    CASE WHEN dl.deg <= dh.deg THEN has_hl ELSE has_lh END AS has_ba,
       |    CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS deg_b
       |  FROM p JOIN deg dl ON dl.node = p.lo JOIN deg dh ON dh.node = p.hi
       |)
       |SELECT CAST(COALESCE(SUM(
       |    o1.has_ab * o3.has_ab * o2.has_ba
       |  + o2.has_ab * o3.has_ba * o1.has_ba), 0) AS BIGINT) AS triangles_distinct
       |FROM o o1
       |JOIN o o2 ON o1.a = o2.a
       |  AND (o1.deg_b < o2.deg_b OR (o1.deg_b = o2.deg_b AND o1.b < o2.b))
       |JOIN o o3 ON o3.a = o1.b AND o3.b = o2.b""".stripMargin
  }
}
