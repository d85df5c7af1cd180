package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SessionCache.{PlanKey, planKey}

/** The ONE banded-Hamming pairing body every 64-bit sketch family
  * rides — image aHash ([[ImageHash]]), audio amplitude hash
  * ([[AudioHash]]), video content hash ([[VideoHash]]), and the text
  * SimHash family ([[graft.text.Dedup.simhashPairs]], converged here
  * in r14 behind a column-rename seam) — 64-bit sketch, 4 × 16-bit
  * bands (complete for Hamming ≤ 3 by pigeonhole), candidates from a
  * (band, nibble) equi-join, exact `bit_count(xor)` rescore. Extracted
  * so a banding change (band count, tie normalization, rescore) can
  * never desynchronize the families.
  *
  * Scale shape (shared by every caller): the sketch relation
  * checkpoints ONCE (8 bytes/row), bands explode map-side (4 rows/row),
  * the self-equi-join expands in codegen with AQE skew-splitting —
  * never all-pairs. */
private[graft] object Hamming64 {

  val Bands = 4
  private val BandBits = 64 / Bands
  private val BandMask = (1L << BandBits) - 1

  /** `(media_id, ahash, band, nibble)` — the 4 band rows of a
    * `(media_id, ahash)` sketch (arithmetic shift + mask keeps the top
    * band non-negative when bit 63 is set). */
  def bands(sk: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val kc = keep.map(col)
    val bandStructs = array((0 until Bands).map(m =>
      struct(lit(m.toLong).as("band"),
        shiftright(col("ahash"), m * BandBits).bitwiseAND(lit(BandMask))
          .as("nibble"))): _*)
    // `keep` preserves caller passthrough columns (the stream gate needs
    // event_time riding along for its watermark — the Dedup
    // bandedFromKeeping discipline)
    sk.select(Seq(col("media_id"), col("ahash")) ++ kc :+
        explode(bandStructs).as("b"): _*)
      .select(Seq(col("media_id"), col("ahash")) ++ kc ++ Seq(
        col("b.band").as("band"), col("b.nibble").as("nibble")): _*)
  }

  /** The band equi-join condition between aliases `x` and `y`, plus
    * one equality per pairing key (`kind` for the per-format families:
    * a PNG sketch never band-joins a JPEG sketch). */
  private def bandMatch(keys: Seq[String]): org.apache.spark.sql.Column =
    keys.foldLeft(col("x.band") === col("y.band") &&
        col("x.nibble") === col("y.nibble"))((c, k) =>
      c && col(s"x.$k") === col(s"y.$k"))

  /** Within-corpus pairs of a `(media_id, keys..., ahash)` sketch
    * relation. */
  def pairsOfSketch(sk: DataFrame, aCol: String, bCol: String,
      maxHamming: Int, keys: Seq[String] = Nil): DataFrame = {
    val b = bands(sk.localCheckpoint(), keys)
    b.as("x").join(b.as("y"),
        bandMatch(keys) && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as(aCol), col("y.media_id").as(bCol),
        bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Shard-vs-corpus pairs: only the (already hashed) shard sketch is
    * fresh; the corpus side replays its persisted 8-byte sketch.
    * Disjoint-id precondition, pair direction normalized by
    * least/greatest (the incremental sketch-family shape). */
  def pairsIncremental(newSk: DataFrame, corpusSk: DataFrame,
      aCol: String, bCol: String, maxHamming: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val newB = bands(newSk.localCheckpoint(), keys)
    val allB = bands(corpusSk.select(("media_id" +: keys :+ "ahash")
      .map(col): _*), keys).union(newB)
    newB.as("x").join(allB.as("y"),
        bandMatch(keys) && col("x.media_id") =!= col("y.media_id"))
      .select(least(col("x.media_id"), col("y.media_id")).as(aCol),
        greatest(col("x.media_id"), col("y.media_id")).as(bCol),
        bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Re-mark the canonical copy on a `(doc_id, rep_id)` cluster
    * relation so the kept member MAXIMIZES `metrics.metric` (media_id
    * asc tie-break) — the [[graft.text.Dedup]] bestSurvivor discipline
    * for the media families: components and cluster ids are identical
    * to the keep-first face (rep_id stays the component minimum — the
    * stable cluster identifier), only `is_canonical` moves to the BEST
    * copy (highest resolution / longest duration / most content), which
    * is what production dedup actually keeps. One ≤16-byte-row agg +
    * equi-join on the labeled relation — nothing re-touches payloads. */
  private[graft] def bestCanonical(clusters: DataFrame,
      metrics: DataFrame): DataFrame = {
    val best = clusters.join(metrics, col("doc_id") === col("media_id"))
      .groupBy("rep_id")
      .agg(min(struct((-col("metric")).as("o"), col("doc_id").as("d")))
        .getField("d").as("best_id"))
    clusters.select("doc_id", "rep_id").join(best, "rep_id")
      .select(col("doc_id").as("media_id"), col("rep_id").as("cluster_id"),
        (col("doc_id") === col("best_id")).as("is_canonical"))
  }

  /** The ONE probe-and-vote body every 64-bit content sketch rides
    * (r15 verdict directive #7 — the four families spelled the
    * transform + aggregate vote each; a vote change must never
    * desynchronize them): `probeSqlOf(k)` is the family's integer
    * probe read (grid gray value / amplitude byte / stride byte) over
    * its own layout columns, and the vote sets bit k iff
    * `probes · p_k > Σp` — strictly above the mean, ties → 0, never
    * divides. One bounded `transform` + two bounded `aggregate` HOFs
    * (the [[ImageHash]] codegen rationale: unrolled columns blow
    * janino's method limit and drop the WHOLE stage to interpreted;
    * the HOFs are interpreted but constant-size per row).
    * `shiftleft(1L, 63)` is Long.MinValue — the same signed bit-63
    * spelling as the unrolled oracle. */
  private[graft] def probeVote(df: DataFrame, probes: Int,
      probeSqlOf: String => String,
      out: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("ps_",
        expr(s"transform(sequence(0, ${probes - 1})," +
          s" k -> CAST(${probeSqlOf("k")} AS BIGINT))"))
      .withColumn("ptot",
        expr("aggregate(ps_, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .select(out :+
        expr(s"aggregate(sequence(0, ${probes - 1})," +
          " CAST(0 AS BIGINT)," +
          s" (a, k) -> a + CASE WHEN $probes * element_at(ps_, k + 1) > ptot" +
          " THEN shiftleft(CAST(1 AS BIGINT), k)" +
          " ELSE CAST(0 AS BIGINT) END)").as("ahash"): _*)

  /** DuckDB twin of [[probeVote]]: the probe → total → vote stages as
    * prefixed CTEs over `src` (which exposes the family's layout
    * columns), ending in `${pfx}hashed(media_id, <carry...>, ahash)`.
    * Probes unrolled per column — DuckDB has no janino limit and the
    * unrolled spelling is its fast path; bit 63's weight interpolates
    * as Long.MinValue, which ADDS the two's complement sign bit
    * exactly. */
  private[graft] def voteCtesSql(src: String, pfx: String, probes: Int,
      probeSqlOf: Int => String, carry: Seq[String]): String = {
    val ps = (0 until probes).map(k =>
      s"CAST(${probeSqlOf(k)} AS BIGINT) AS p$k").mkString(",\n    ")
    val tot = (0 until probes).map("p" + _).mkString(" + ")
    val bits = (0 until probes).map { k =>
      s"CAST(CASE WHEN $probes * p$k > ptot THEN ${1L << k} ELSE 0 END AS BIGINT)"
    }.mkString("(", "\n   + ", ")")
    val cs = carry.map(c => s", $c").mkString
    s"""${pfx}pv AS MATERIALIZED (
       |  SELECT media_id$cs,
       |    $ps
       |  FROM $src
       |), ${pfx}ptv AS MATERIALIZED (
       |  SELECT *, ($tot) AS ptot FROM ${pfx}pv
       |), ${pfx}hashed AS (
       |  SELECT media_id$cs,
       |    $bits AS ahash
       |  FROM ${pfx}ptv
       |)""".stripMargin
  }

  /** Session-scoped reuse of the LABELED star-contraction relation
    * `(doc_id, rep_id, is_survivor)` over a sketch's pairing graph (the
    * [[graft.SessionCache]] discipline): cluster labels are exactly the
    * relation the corpus state persists
    * ([[MediaKeep.MediaCorpusState]]'s `comp`), and the keep-first and
    * best-copy faces are BOTH projections of one contraction — the
    * sequential spelling ran the iterative loop once per face. Keyed on
    * the (session-cached, so plan-stable) sketch relation + maxHamming
    * + the caller's PAIRING DISCRIMINATOR (`pairsTag` — r16 advice: two
    * callers passing the same sketch and radius with different pair
    * graphs, e.g. whole-sketch vs per-kind banding, must never be
    * served each other's clusters; `pairs` itself is by-name, so a HIT
    * never even builds the pairing join and cannot key on its plan).
    * Capacity 4: one slot per family's live sketch. */
  private val clusterCache =
    new graft.SessionCache[(PlanKey, Int, String), DataFrame](capacity = 4)
  private[graft] def clusterBuilds = clusterCache.builds

  private def labeledClusters(sk: DataFrame, maxHamming: Int,
      pairsTag: String, pairs: => DataFrame): DataFrame =
    clusterCache.getOrBuild(sk.sparkSession,
        (planKey(sk), maxHamming, pairsTag)) {
      graft.text.Dedup.dedupClustersFromPairsStar(
        sk.select(col("media_id").as("doc_id")), pairs).localCheckpoint()
    }

  /** Star-contraction clusters of a sketch relation over its pairing
    * graph, renamed to the media-family shape — the Spark body every
    * `*_dup_clusters` face shares (domain = every hashed member, a
    * pair-less member is its own canonical singleton, cluster id = the
    * component minimum). */
  private[graft] def clustersOfPairs(sk: DataFrame, maxHamming: Int,
      pairs: => DataFrame, pairsTag: String = "banded"): DataFrame =
    labeledClusters(sk, maxHamming, pairsTag, pairs)
      .select(col("doc_id").as("media_id"), col("rep_id").as("cluster_id"),
        col("is_survivor").as("is_canonical"))

  /** [[clustersOfPairs]] re-marked by [[bestCanonical]] — the Spark
    * body every `*_dup_clusters_best` face shares: `metric` is the
    * family's quality column expression over its sketch relation.
    * Rides the SAME cached contraction as the keep-first face. */
  private[graft] def bestOfPairs(sk: DataFrame, maxHamming: Int,
      pairs: => DataFrame,
      metric: org.apache.spark.sql.Column,
      pairsTag: String = "banded"): DataFrame =
    bestCanonical(labeledClusters(sk, maxHamming, pairsTag, pairs),
      sk.select(col("media_id"), metric.as("metric")))

  /** DuckDB side of the cluster closure — the recursive
    * prs → und → reach → comp chain every `*_dup_clusters*` oracle
    * shares (requires CTEs `bands` and `hashed` in scope; `pairExtra`
    * prepends extra equi-conditions to the band join — the per-format
    * `a.kind = b.kind AND `). `cluster_id` is the component
    * minimum, singletons self-labeled by the LEFT JOIN coalesce. */
  private[graft] def closureCtesSql(maxHamming: Int,
      pairExtra: String = ""): String =
    s"""prs AS (
       |  SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON ${pairExtra}a.band = b.band AND a.nibble = b.nibble
       |    AND a.media_id < b.media_id
       |  WHERE bit_count(xor(a.ahash, b.ahash)) <= $maxHamming
       |),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION
       |  SELECT doc_b, doc_a FROM prs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst
       |),
       |comp AS (
       |  SELECT h.media_id AS media_id,
       |    least(h.media_id, coalesce(min(r.dst), h.media_id)) AS cluster_id
       |  FROM hashed h LEFT JOIN reach r ON r.src = h.media_id
       |  GROUP BY h.media_id
       |)""".stripMargin

  /** Final SELECT of the keep-first cluster oracle (canonical = the
    * component minimum). */
  private[graft] val clustersFinalSql: String =
    """SELECT media_id, cluster_id, media_id = cluster_id AS is_canonical
      |FROM comp
      |ORDER BY media_id, cluster_id, is_canonical""".stripMargin

  /** Final CTE + SELECT of the best-copy cluster oracle: `metricSql`
    * ranks over the `hashed` alias `h`. */
  private[graft] def bestFinalSql(metricSql: String): String =
    s"""rb AS (
       |  SELECT comp.media_id AS media_id, cluster_id,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY $metricSql DESC, comp.media_id ASC) AS rn
       |  FROM comp JOIN hashed h ON h.media_id = comp.media_id
       |)
       |SELECT media_id, cluster_id, rn = 1 AS is_canonical FROM rb
       |ORDER BY media_id, cluster_id, is_canonical""".stripMargin

  /** The 4-way band explosion of a `(media_id, keys..., ahash)` CTE —
    * the DuckDB side every pairing/occupancy oracle shares, standalone
    * (`hashed`) or composed ([[MediaKeep]] bands several modality
    * sketches in one query). */
  def nibbleSelectsSqlFrom(table: String, keys: Seq[String] = Nil): String =
    (0 until Bands).map(m =>
      s"SELECT media_id, ${keys.map(_ + ", ").mkString}ahash, " +
        s"CAST($m AS BIGINT) AS band, " +
        s"(ahash >> ${m * BandBits}) & $BandMask AS nibble FROM $table")
      .mkString("\n  UNION ALL\n  ")
}
