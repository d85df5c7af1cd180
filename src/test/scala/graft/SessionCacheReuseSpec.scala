package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Build-once evidence for the r16 optimization round's session caches
  * (the `token_rarity` / media-verdict discipline extended to the
  * other build-once artifacts): each family's expensive artifact —
  * curation keep verdicts, the kept corpus, BPE merge rounds, the
  * unigram induction, k-means centroids, PQ codebooks + codes, the
  * per-family media sketches, the shared cluster contraction — builds
  * ONCE per (session, corpus plan, params) and every face reuses it.
  * Counters are asserted as DELTAS (the shared test session may have
  * warmed a cache already), and reuse is additionally pinned by result
  * equality across the reusing faces where the faces differ. */
class SessionCacheReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Long = {
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    0L
  }

  test("plan keys: two spellings of one scan are equal, another filter is not") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val a = docs.filter(col("doc_id") > 5L).select("doc_id", "text")
    // the same scan spelled again: a re-read, a SQL-string predicate
    val b = Tables.documents(spark, dir).where("doc_id > 5L")
      .select(col("doc_id"), col("text"))
    val c = docs.filter(col("doc_id") > 6L).select("doc_id", "text")
    assert(SessionCache.planKey(a) === SessionCache.planKey(b))
    assert(SessionCache.planKey(a).hashCode === SessionCache.planKey(b).hashCode)
    assert(SessionCache.planKey(a).hashCode ===
      a.queryExecution.analyzed.semanticHash())
    assert(SessionCache.planKey(a) !== SessionCache.planKey(c))
    // the key is what a cache entry matches on
    val cache = new SessionCache[SessionCache.PlanKey, String]
    assert(cache.getOrBuild(spark, SessionCache.planKey(a))("a") === "a")
    assert(cache.getOrBuild(spark, SessionCache.planKey(b))("b") === "a")
    assert(cache.getOrBuild(spark, SessionCache.planKey(c))("c") === "c")
    assert(cache.builds.get() === 2L)
  }

  test("curation keep verdicts and the kept corpus build once per corpus") {
    run("corpus_keep") // seed
    val k0 = graft.text.Curation.keepBuilds.get()
    val f0 = graft.text.Curation.fullKeepBuilds.get()
    val t0 = graft.text.Curation.keptBuilds.get()
    run("corpus_keep") // same corpus plan: no rebuild
    assert(graft.text.Curation.keepBuilds.get() === k0,
      "second corpus_keep rebuilt the three-gate verdict")
    run("corpus_keep_full"); run("corpus_keep_stats")
    // stats rolls up the SAME cached seven-gate relation — at most the
    // one build corpus_keep_full itself triggered
    assert(graft.text.Curation.fullKeepBuilds.get() <= f0 + 1,
      "corpus_keep_stats rebuilt the seven-gate verdict")
    run("pipeline_manifest"); run("pipeline_manifest_chunked")
    assert(graft.text.Curation.keptBuilds.get() <= t0 + 1,
      "the two manifests built the kept corpus twice")
  }

  test("BPE merge rounds learn once per word relation and nMerges") {
    run("bpe_merges") // seed the full-corpus learn
    val b0 = graft.text.TextAnalysis.bpeBuilds.get()
    run("bpe_encode"); run("bpe_tokenize")
    assert(graft.text.TextAnalysis.bpeBuilds.get() === b0,
      "encode/tokenize re-learned the merges the merge face already built")
  }

  test("unigram induction runs once per word relation") {
    run("unigram_vocab") // seed
    val u0 = graft.text.Unigram.induceBuilds.get()
    run("unigram_encode"); run("unigram_tokenize"); run("unigram_fertility")
    assert(graft.text.Unigram.induceBuilds.get() === u0,
      "a unigram face re-ran the induction the vocab face already built")
  }

  test("ANN quantizers train once per corpus; PQ artifacts encode once") {
    run("ivf_occupancy") // seed the full-corpus centroids
    val c0 = graft.ml.Similarity.centBuilds.get()
    run("embed_ivf_knn")
    assert(graft.ml.Similarity.centBuilds.get() === c0,
      "embed_ivf_knn re-trained the quantizer ivf_occupancy already built")
    run("pq_codes") // seed codebooks + coded corpus
    val p0 = graft.ml.Similarity.pqBuilds.get()
    run("pq_occupancy"); run("embed_pq_knn"); run("pq_recall")
    assert(graft.ml.Similarity.pqBuilds.get() === p0,
      "a PQ face re-trained the codebooks pq_codes already built")
    // the incremental corpus is a DIFFERENT plan: its own single build
    run("incremental_pq")
    val p1 = graft.ml.Similarity.pqBuilds.get()
    run("incremental_pq")
    assert(graft.ml.Similarity.pqBuilds.get() === p1,
      "the second incremental_pq re-trained the shard codebooks")
  }

  test("dedup_clusters and dedup_clusters_star share one cluster build") {
    // one component algorithm: the star face is the plain face's key
    val b0 = graft.text.Dedup.dedupClusterBuilds.get()
    run("dedup_clusters")
    val b1 = graft.text.Dedup.dedupClusterBuilds.get()
    assert(b1 <= b0 + 1)
    run("dedup_clusters_star")
    assert(graft.text.Dedup.dedupClusterBuilds.get() === b1,
      "dedup_clusters_star rebuilt the clustering dedup_clusters built")
  }

  test("media sketches decode once; both survivor faces share one contraction") {
    run("audio_ahash") // seed the decoded sketch
    val s0 = graft.multimodal.AudioHash.sketchBuilds.get()
    run("audio_dup_pairs"); run("audio_dup_clusters")
    assert(graft.multimodal.AudioHash.sketchBuilds.get() === s0,
      "an audio face re-decoded the sketch audio_ahash already built")
    run("audio_dup_clusters") // seed the contraction
    val h0 = graft.multimodal.Hamming64.clusterBuilds.get()
    run("audio_dup_clusters_best")
    assert(graft.multimodal.Hamming64.clusterBuilds.get() === h0,
      "the best face re-ran the star contraction the keep-first face built")
    // shared contraction = identical components: the two faces may only
    // disagree on which member is crowned, never on cluster_id
    val keepFirst = graft.multimodal.AudioHash
      .dupClusters(Tables.documents(spark, dir))
      .select("media_id", "cluster_id")
    val best = graft.multimodal.AudioHash
      .dupClustersBest(Tables.documents(spark, dir))
      .select("media_id", "cluster_id")
    assert(keepFirst.exceptAll(best).isEmpty && best.exceptAll(keepFirst).isEmpty,
      "keep-first and best-copy faces disagree on cluster membership")
  }

  test("the FULL face set of every media family in bench order holds its sketch cache steady") {
    // r16 verdict wrong #1: the incremental face routed the SHARD
    // sketch (doc_id % 10 = 9) through the capacity-2 corpus-plan LRU
    // as a third live key, so every full-bench pass evicted and rebuilt
    // a corpus sketch (and each rebuild minted a fresh checkpoint plan
    // hash that cascaded into clusterCache misses). The shard now
    // bypasses the cache: after one seeding pass over EVERY face of a
    // family, a second pass in the same order must not build anything —
    // checked for each family's own sketch cache.
    for (f <- graft.multimodal.MediaFamily.all) {
      val n = f.name
      val faces = Seq(s"${n}_ahash", s"${n}_dup_clusters",
        s"${n}_dup_clusters_best", s"${n}_dup_pairs", s"${n}_occupancy",
        s"incremental_${n}_dup")
      faces.foreach(run) // seed: the full-lake and `% 10 <> 9` corpus plans
      val s0 = f.sketchBuilds.get()
      val h0 = graft.multimodal.Hamming64.clusterBuilds.get()
      faces.foreach(run) // steady state: builds == live keys, zero evictions
      assert(f.sketchBuilds.get() === s0,
        s"$n: a second full-face pass rebuilt a corpus sketch (cache thrash)")
      assert(graft.multimodal.Hamming64.clusterBuilds.get() === h0,
        s"$n: a second full-face pass re-ran the star contraction (cache thrash)")
    }
  }

  test("the media family loop registers exactly the 24 graded query names") {
    // pinned literally: a rename inside the registration loop must fail
    // here, not silently drop a graded query and add an ungraded one
    val expected = Set(
      "image_ahash", "image_dup_pairs", "image_dup_clusters",
      "image_dup_clusters_best", "image_occupancy", "incremental_image_dup",
      "audio_ahash", "audio_dup_pairs", "audio_dup_clusters",
      "audio_dup_clusters_best", "audio_occupancy", "incremental_audio_dup",
      "video_ahash", "video_dup_pairs", "video_dup_clusters",
      "video_dup_clusters_best", "video_occupancy", "incremental_video_dup",
      "cimage_ahash", "cimage_dup_pairs", "cimage_dup_clusters",
      "cimage_dup_clusters_best", "cimage_occupancy",
      "incremental_cimage_dup")
    val stems = graft.multimodal.MediaFamily.all.map(_.name)
    def isFamilyQuery(q: String) = stems.exists(n =>
      q.startsWith(s"${n}_") || q == s"incremental_${n}_dup")
    assert(SparkEntry.queries.keySet.filter(isFamilyQuery) === expected)
    assert(SparkEntry.oracleSql.keySet.filter(isFamilyQuery) === expected)
  }
}
