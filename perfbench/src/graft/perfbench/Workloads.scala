package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphPatterns
import graft.ml.DocVectors
import graft.multimodal.Media
import graft.sources.CsvEdges
import graft.text.{Dedup, Unigram}

/** Generated inputs: `rows` counts edges or documents; `expect` holds
  * values the generator knows independently of the program. */
final case class Inputs(rows: Long, bytes: Long, paths: Map[String, String],
    expect: Map[String, Long], info: String)

/** What one call sees: its session, the inputs and a state directory
  * that persists across the passes of a run. */
final case class Ctx(spark: SparkSession, in: Inputs, state: File)

/** One public library call, attributed to the module that owns it. */
final case class Call(name: String, module: String, run: Ctx => DataFrame)

sealed trait Workload {
  def name: String
  def generate(spark: SparkSession, seed: Long, dir: File): Inputs
  def calls: Seq[Call]
  /** The input scan alone (layer `sources.scan`). */
  def scan(c: Ctx): DataFrame
  /** Output checks over one pass's result summaries; each message is a
    * failed check. */
  def check(in: Inputs, s: Map[String, Stats.Summary]): Seq[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(FollowerPatterns, NightlyIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Checks that each named pair of values is equal. */
  def equal(pairs: (String, BigDecimal, BigDecimal)*): Seq[String] =
    pairs.collect { case (what, a, b) if a != b => s"$what: $a != $b" }
}

/** The reference's jobs on a generated follower graph, each reading the
  * headerless `src,dst` CSV itself as each MapReduce job reads its
  * input. Bound by execution, shuffle and the CSV scan, with hub skew in
  * the self-joins. */
object FollowerPatterns extends Workload {
  val name = "follower_patterns"
  val Nodes = 8000
  val AvgOut = 6

  def generate(spark: SparkSession, seed: Long, dir: File): Inputs = {
    val g = Gen.followerGraph(seed, Nodes, AvgOut, followBack = 0.14)
    val path = new File(dir, "edges")
    val bytes = Gen.writeCsv(g, path, parts = 4)
    val max = Nodes / 2L
    Inputs(g.edges, bytes, Map("edges" -> path.getPath),
      Map("max" -> max, "census" -> g.census(max)),
      f"nodes=$Nodes%d edges=${g.edges}%d bytes=$bytes%d reciprocal=${g.reciprocalShare}%.3f " +
        f"max_in_degree=${g.codes.groupBy(_ % Nodes).values.map(_.length).max}%d")
  }

  private def edges(c: Ctx) = CsvEdges.good(CsvEdges.readEdges(c.spark, c.in.paths("edges")))
  private def m(c: Ctx) = Some(c.in.expect("max"))

  def scan(c: Ctx): DataFrame = edges(c)

  val calls: Seq[Call] = Seq(
    Call("edge_census", "graph", c => GraphPatterns.edgeCount(edges(c), m(c))),
    Call("two_hop_degrees", "graph", c => GraphPatterns.twoHopCountDegrees(edges(c), m(c))),
    Call("two_hop_join", "graph", c => GraphPatterns.twoHopCountJoin(edges(c), m(c))),
    Call("two_hop_paths", "graph", c => GraphPatterns.twoHopPaths(edges(c), m(c))),
    Call("triangles_rsjoin", "graph", c => GraphPatterns.triangleCounter(edges(c), m(c))),
    Call("triangles_repjoin", "graph",
      c => GraphPatterns.triangleCounter(edges(c), m(c), broadcastClosing = true)),
    Call("triangles_oriented", "graph", c => GraphPatterns.trianglesOriented(edges(c), m(c))))

  def check(in: Inputs, s: Map[String, Stats.Summary]): Seq[String] =
    Workloads.equal(
      ("census vs generator", s("edge_census").sum("edge_count"), BigDecimal(in.expect("census"))),
      ("2-hop degrees vs self-join", s("two_hop_degrees").sum("two_hop_count"),
        s("two_hop_join").sum("two_hop_count")),
      ("2-hop self-join vs sum(path_count)", s("two_hop_join").sum("two_hop_count"),
        s("two_hop_paths").sum("path_count")),
      ("rsjoin vs repjoin counter", s("triangles_rsjoin").sum("triangle_counter"),
        s("triangles_repjoin").sum("triangle_counter")),
      ("triangles_distinct vs oriented", s("triangles_rsjoin").sum("triangles_distinct"),
        s("triangles_oriented").sum("triangles_distinct")))
}

/** ROADMAP's nightly scenario as one unit: a seeded shard arrives
  * against a persisted corpus; it is admitted and deduplicated
  * (text), tokenized under a persisted vocabulary (text, a sink write),
  * turned into the media lake (multimodal fixture synthesis) and the
  * whole lake is deduplicated by document vectors (ml). */
object NightlyIngest extends Workload {
  val name = "nightly_ingest"

  def generate(spark: SparkSession, seed: Long, dir: File): Inputs = {
    val docs = Gen.documents(seed, 400)
    val (shard, corpus) = docs.partition(r => Gen.isShard(seed, r.getLong(0)))
    val cPath = new File(dir, "corpus")
    val sPath = new File(dir, "shard")
    val bytes = Gen.writeParquet(spark, corpus, cPath, 4) + Gen.writeParquet(spark, shard, sPath, 1)
    Inputs(docs.length, bytes, Map("corpus" -> cPath.getPath, "shard" -> sPath.getPath),
      Map("shard" -> shard.length.toLong),
      s"documents=${docs.length} shard=${shard.length} corpus=${corpus.length} bytes=$bytes")
  }

  private def corpus(c: Ctx) = c.spark.read.parquet(c.in.paths("corpus"))
  private def shard(c: Ctx) = c.spark.read.parquet(c.in.paths("shard"))
  private def vocabPath(c: Ctx) = new File(c.state, "unigram_vocab").getPath

  def scan(c: Ctx): DataFrame = corpus(c).unionByName(shard(c))

  /** The call that synthesizes the media lake from documents. */
  val SynthCall = "media_container_table"

  val calls: Seq[Call] = Seq(
    Call("ingest_manifest", "text", c =>
      Dedup.ingestManifest(shard(c), Dedup.contentFingerprints(corpus(c)),
        Dedup.signatureBands(corpus(c)))),
    Call("unigram_vocab_persisted", "text", { c =>
      Unigram.unigramVocab(corpus(c)).write.mode("overwrite").parquet(vocabPath(c))
      c.spark.read.parquet(vocabPath(c))
    }),
    Call("unigram_encode_with", "text", c =>
      Unigram.unigramEncodeWith(shard(c), c.spark.read.parquet(vocabPath(c)))),
    Call(SynthCall, "multimodal", c => Media.asContainerTable(shard(c))),
    Call("doc_dedup", "ml", c => DocVectors.docDedup(scan(c))))

  def check(in: Inputs, s: Map[String, Stats.Summary]): Seq[String] =
    Workloads.equal(
      ("media rows vs shard documents", BigDecimal(s(SynthCall).rows), BigDecimal(in.expect("shard"))),
      ("encoded documents vs shard documents", BigDecimal(s("unigram_encode_with").rows),
        BigDecimal(in.expect("shard"))))
}
