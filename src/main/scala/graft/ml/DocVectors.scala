package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Hashed-TF document vectors — feature hashing (the "hashing trick",
  * Weinberger et al., ICML 2009) bridging the text and vector families:
  * every document becomes a [[Dim]]-dimensional term-frequency vector
  * with NO vocabulary, NO model, and NO training — token → portable
  * hash → dimension, value = that dimension's share of the doc's
  * tokens. The derived relation has exactly the `embeddings` shape
  * `(vec_id, embedding array<float>)`, so the ENTIRE similarity stack —
  * exact kNN, LSH/IVF/PQ ANN, semantic dedup, the recall audits — runs
  * over raw text unchanged ([[docKnn]] is literally
  * [[Similarity.embedKnn]] over this relation). The production
  * bootstrap: hashed-TF similarity TODAY, swap in model embeddings
  * later without touching a single downstream operator.
  *
  * Determinism: the hash is [[PortableHash.tokHash]] (exact int64,
  * identical in DuckDB); the only floating step is ONE IEEE divide
  * (dim count / token count) and a float cast, identical expression
  * shape both engines ⇒ bit-identical vectors. Token dims are hashed
  * ONCE per token (the `hs` projection), then counted per dimension —
  * O(Dim·n_tokens) map work per row, no shuffle, no state.
  *
  * Empty/NULL-text docs drop (no tokens ⇒ no direction — the same rule
  * [[Similarity.vectors]] applies to zero-norm embeddings). */
object DocVectors {

  /** 64 dims keeps hash collisions per doc visible but rare at fixture
    * vocabulary sizes; a production run picks 2¹⁸+ the same way LSH
    * picks band width — same operator, different constant. */
  val Dim = 64

  /** `(vec_id, embedding)` — the derived hashed-TF vector relation.
    * The whole row is TWO native codegen passes
    * (`tok_hashes_of_tokens` → `dim_shares_of_hashes` — round-9 bench
    * measured the declarative spelling's Dim×n interpreted HOF lambdas
    * at ~92 s/query on sf0.1; the native pass is O(n + Dim));
    * DocVectorsSpec pins it bit-identical to that declarative spelling. */
  def docVectors(docs: DataFrame): DataFrame = {
    val toks = graft.text.TextAnalysis.tokens(col("text"))
    val shares = graft.GraftExtensions.call(docs, "dim_shares_of_hashes",
      PortableHash.tokHashes(docs, col("toks")))
    // widen the RAW scan, not the derived relation: downstream callers
    // ([[Similarity.vectors]]) widen their input, which for this derived
    // relation would plant the exchange ABOVE the tokenize+hash+share
    // chain — the whole per-row compute then runs in the exchange's map
    // stage at the SCAN's parallelism (one task for a one-file fixture;
    // r17 JobProbe measured that single task at 1.44 s of doc_dedup's
    // 2.6 s). Widening here moves only (doc_id, text) rows and lets the
    // heavy projections run at session parallelism.
    graft.Tables.widen(docs).select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id").as("vec_id"), shares.as("embedding"))
  }

  /** The derived-vector subquery, shaped for
    * [[Similarity.embedKnnSqlOver]] / [[vectorsCteOver]] composition. */
  private def docVectorsSubSql: String =
    s"""(SELECT doc_id AS vec_id,
       |  list_transform(range(0, $Dim), d ->
       |    CAST(len(list_filter(hs, x -> x = d)) / len(hs) AS FLOAT)) AS embedding
       |FROM (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(lower(text), '${graft.text.TextAnalysis.TokenRe}'),
       |      t -> ${PortableHash.tokHashSql("t")} % $Dim) AS hs
       |  FROM documents
       |)
       |WHERE len(hs) > 0)""".stripMargin

  /** [[docVectors]] exploded to `(vec_id, dim, share)` — the QUERY
    * surface (the driver's hash-compare contract is scalar columns;
    * every other query here is scalar-columned, and the array form
    * stays the composition surface). Zero dims are kept: the row count
    * is exactly |docs|·Dim, an invariant the spec leans on. */
  def docVectorsExploded(docs: DataFrame): DataFrame =
    docVectors(docs).select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "share")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("share"))

  /** Oracle twin of [[docVectorsExploded]]. */
  def docVectorsSql: String =
    s"""SELECT vec_id, CAST(d - 1 AS BIGINT) AS dim, embedding[d] AS share
       |FROM (
       |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS d
       |  FROM $docVectorsSubSql
       |)
       |ORDER BY vec_id, dim, share""".stripMargin

  /** Top-k most similar documents per query doc — the exact cosine
    * search over the derived vectors; one line because the composition
    * IS the operator. */
  def docKnn(docs: DataFrame, nQueries: Long = 10L, k: Int = 5): DataFrame =
    Similarity.embedKnn(docVectors(docs), nQueries, k)

  /** Oracle twin of [[docKnn]] — [[Similarity.embedKnnSqlOver]] over the
    * derived-vector subquery. */
  def docKnnSql(nQueries: Long = 10L, k: Int = 5): String =
    Similarity.embedKnnSqlOver(docVectorsSubSql, nQueries, k)

  /** The bucket-probe ANN search over the derived vectors — the SCALE
    * path next to [[docKnn]]'s exact scan (one corpus, all three tiers:
    * exact, sign-LSH, and — via the shared `embeddings` shape — IVF/PQ
    * if a caller wants them). Recall against [[docKnn]] is auditable
    * with [[Similarity.recallReport]] exactly as `ann_recall` does for
    * real embeddings. */
  def docAnnKnn(docs: DataFrame, nQueries: Long = 10L, k: Int = 5): DataFrame =
    Similarity.embedAnnKnn(docVectors(docs), nQueries, k)

  /** Oracle twin of [[docAnnKnn]]. */
  def docAnnKnnSql(nQueries: Long = 10L, k: Int = 5): String =
    Similarity.embedAnnKnnSqlOver(docVectorsSubSql, nQueries, k)

  /** The acceptance audit for the doc-ANN path — per query doc, recall
    * of [[docAnnKnn]] against [[docKnn]]'s exact ground truth in exact
    * millionths: the `ann_recall` discipline applied to the derived
    * vectors, closing the loop on the text tier (one corpus, exact +
    * approximate search + the number that says the approximation is
    * trustworthy). */
  def docAnnRecall(docs: DataFrame, nQueries: Long = 10L,
      k: Int = 5): DataFrame =
    Similarity.recallReport(
      docKnn(docs, nQueries, k).select(col("query_id"), col("neighbor_id")),
      docAnnKnn(docs, nQueries, k).select(col("query_id"), col("neighbor_id")))

  /** Oracle twin of [[docAnnRecall]]. */
  def docAnnRecallSql(nQueries: Long = 10L, k: Int = 5): String =
    Similarity.annRecallSqlOver(docVectorsSubSql, nQueries, k)

  /** SemDeDup over RAW TEXT — [[Similarity.semanticDedup]] composed over
    * the hashed-TF vectors: connected components of the ≥threshold
    * cosine pair graph, min-id survivor. The model-free counterpart of
    * the MinHash near-dup chain, catching paraphrase-level duplication
    * that shingle Jaccard underweights (shared vocabulary at different
    * ordering). 0.97 sits above the fixture's unrelated-pair ceiling
    * (~0.94 measured corpus-wide) and below its planted near-dups
    * (≥0.99); production tunes it from the `embed_sim_hist`-style
    * histogram the same way. */
  def docDedup(docs: DataFrame, simThreshold: Double = 0.97): DataFrame =
    Similarity.semanticDedup(docVectors(docs), simThreshold)

  /** Oracle twin of [[docDedup]]. */
  def docDedupSql(simThreshold: Double = 0.97): String =
    Similarity.semanticDedupSqlOver(docVectorsSubSql, simThreshold)
}
