package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Late-interaction (ColBERT-style MaxSim) retrieval: a document is a
  * BAG OF VECTORS (one per token), a query likewise, and
  *
  *   score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} sim(qt, dt)
  *
  * — each query token independently finds its best-matching document
  * token, and the per-token evidence sums. The operator family the
  * multi-vector retrievers serve (ColBERT/PLAID): token-level granular
  * matching that single-vector cosine averages away.
  *
  * Token vectors here are DETERMINISTIC ±1 hash embeddings
  * ([[hashTokenVectors]]): component j of token t is +1 iff the first
  * hex char of md5(t ++ "_" ++ j) is < '8'. Identical tokens collide to
  * the identical vector (sim = dim — exact-match evidence), distinct
  * tokens decorrelate (E[dot] = 0) — the hashing-trick embedding, and
  * the reason everything downstream is INTEGER-exact: the ±1 grid makes
  * every pair similarity an integer dot in [-dim, dim], every max and
  * sum an exact integer, so `ann_maxsim` is DuckDB-hash-certified
  * arithmetic (md5 agrees across engines), not a float that happens to
  * agree. A deployment swaps [[hashTokenVectors]] for real token
  * embeddings; [[maxSimTopK]]/[[maxSimTopKWith]] are representation-
  * agnostic (any integral vectors).
  *
  * Scale shape: the exact form is the labeled quadratic oracle twin
  * (every query token against every doc token — fine for eval slices,
  * never the 100-TB path). The serving path [[maxSimTopKWith]] runs the
  * standard late-interaction plan: a token-level IVF index, each query
  * token probing its nprobe nearest cells, candidate dots computed only
  * inside probed cells, and absent (qt, doc) pairs contributing the
  * ColBERT convention 0 — with covering probes it reproduces
  * [[maxSimTopK]] bit-for-bit on every non-negative-evidence document
  * (spec-pinned).
  */
object LateInteraction {

  /** Distinct-token ±1 hash embeddings: one row per (id, token) with the
    * deterministic dim-component sign vector. `maxTokens` caps the
    * per-document bag (the first N whitespace tokens — the serving
    * contract that bounds |bag| and with it every downstream join).
    * Token DISTINCT within a document: MaxSim's inner max makes
    * duplicate doc tokens redundant, and a distinct bag keeps
    * |bag| ≤ vocabulary-per-doc. */
  def hashTokenVectors(docs: DataFrame, dim: Int = 8, maxTokens: Int = 16,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(dim >= 1, s"hashTokenVectors: dim must be >= 1, got $dim")
    require(maxTokens >= 1,
      s"hashTokenVectors: maxTokens must be >= 1, got $maxTokens")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
              slice(GraftText.whitespaceTokens(col(textCol)), 1, maxTokens)
                .as("__toks"))
      .select(col("doc_id"),
              explode(array_distinct(col("__toks"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), col("tok"),
        expr(s"""transform(sequence(0, ${dim - 1}),
                 j -> CASE WHEN substring(md5(concat(tok, '_', j)), 1, 1)
                             < '8' THEN 1 ELSE -1 END)""").as("tv"))
  }

  // integer dot product of two equal-length integral vectors — the only
  // similarity the ±1 grid needs; graft_idot is the codegen form of the
  // former aggregate(zip_with(...)) fold (bit-identical sums), one tight
  // loop per pair instead of two interpreted lambdas and an intermediate
  // array — this is THE per-pair kernel of the quadratic twin
  private val dotExpr: String = "graft_idot(qtv, tv)"

  /** Exact MaxSim top-k: every query token against every document token
    * — the labeled QUADRATIC oracle twin ([[maxSimTopKWith]] is the
    * serving path). Inputs are [[hashTokenVectors]]-shaped frames:
    * `docToks` (doc_id, tok, tv), `qToks` (q_id, tok ignored, qtv).
    * Returns (q_id, doc_id, rnk, score) with `score` the exact integer
    * Σ of per-query-token maxima; self-pairs (q_id = doc_id) excluded
    * like every ANN row. Ties rank by lowest doc_id. */
  def maxSimTopK(docToks: DataFrame, qToks: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"maxSimTopK: k must be >= 1, got $k")
    graft.GraftSession.ensureExtensions(docToks.sparkSession)
    val qt = qToks.select(col("q_id"), col("tok").as("qtok"),
                          col("tv").as("qtv"))
    // the cross join multiplies per-row work |q tokens|-fold — buy
    // scan-stage parallelism when the token corpus packs into fewer
    // splits than cores (self-canceling at scale; ScaleHints.fanOut)
    scoreAndRank(
      broadcast(qt).crossJoin(ScaleHints.fanOut(
        docToks.filter(col("doc_id").isNotNull), col("doc_id"))), k)
  }

  /** The serving path: MaxSim over a TOKEN-LEVEL IVF index. Build the
    * index once over the corpus token vectors with [[tokenIndex]]
    * (composite n_id = doc_id·2²⁰ + token ordinal); each query token
    * probes its `nprobe` nearest cells and scores ONLY the probed
    * cells' token vectors — work per query batch ∝ |q tokens|·(probe
    * cosines + probed-cell members), never |corpus tokens|². Absent
    * (query-token, document) pairs contribute 0 (the ColBERT serving
    * convention); with `nprobe` covering every cell no pair is absent
    * and the result equals [[maxSimTopK]] exactly (spec-pinned). */
  def maxSimTopKWith(index: GraftSimilarity.IvfIndex, qToks: DataFrame,
                     k: Int, nprobe: Int = 4,
                     where: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(k >= 1, s"maxSimTopKWith: k must be >= 1, got $k")
    require(nprobe >= 1, s"maxSimTopKWith: nprobe must be >= 1, got $nprobe")
    graft.GraftSession.ensureExtensions(qToks.sparkSession)
    // probe per query TOKEN: the probe identity is (q_id, qtok)
    val qt = qToks.select(col("q_id"), col("tok").as("qtok"),
                          expr("transform(tv, x -> cast(x AS double))")
                            .as("qv"),
                          col("tv").as("qtv"))
    val probes = GraftSimilarity.probeCells(
      qt, index.centroids, nprobe, Seq("q_id", "qtok", "qtv"))
    // metadata-filtered late interaction (the `ivfTopKWith(where)`
    // contract at token granularity): the predicate cuts the candidate
    // token population BEFORE the probe join — per-token maxima are
    // taken over exactly the filter-satisfying documents' tokens, and
    // at rest it reaches the parquet reader beside the DPP cell prune.
    // Probe geometry stays unfiltered (cells are filter-invariant).
    val cand = where.fold(index.assigned)(index.assigned.filter(_))
    scoreAndRank(
      broadcast(probes).join(cand, "c_id")
        .select(col("q_id"), col("qtok"), col("qtv"),
                expr(s"n_id div ${TokenIdBase}").as("doc_id"),
                col("tv")), k)
  }

  /** [[hashTokenVectors]] output re-keyed to the composite token id
    * (doc_id·2²⁰ + per-doc ordinal): one row per (doc, token) as
    * `(tok_id, v, tv)` — ±1 components as doubles in `v` for the
    * centroid geometry, the integer `tv` beside as metadata for exact
    * candidate dots. The collection shape [[tokenIndex]] builds over AND
    * the batch shape the index's at-rest lifecycle appends
    * ([[IvfObjectStore.append]](idCol = "tok_id", vecCol = "v")
    * — ordinals are per-document, so a batch of NEW documents' tokens
    * composes ids exactly as a full build would). */
  def tokenVectors(docToks: DataFrame,
                   metaCols: Seq[String] = Nil): DataFrame = {
    // the explicit-width repartition doubles as the window's required
    // hash(doc_id) distribution (no second exchange) and keeps AQE from
    // coalescing the read side of it to a byte-derived handful — the
    // downstream assign fold is compute-dense (√N cosines per row)
    val base = ScaleHints.fanOut(docToks, col("doc_id"))
      .withColumn("__ord",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("tok")).cast("long") - 1)
    base.filter(col("__ord") < TokenIdBase)
      .select(
        (col("doc_id") * TokenIdBase + col("__ord")).as("tok_id") +:
          expr("transform(tv, x -> cast(x AS double))").as("v") +:
          col("tv") +: metaCols.map(col): _*)
  }

  /** Token-level IVF index over [[hashTokenVectors]] output: one vector
    * per (doc, token) under the composite id doc_id·2²⁰ + ordinal (see
    * [[tokenVectors]]). The result is an ordinary
    * [[GraftSimilarity.IvfIndex]] whose `tv` metadata column rides the
    * full at-rest lifecycle — [[IvfObjectStore]] create / read / append /
    * compact all preserve the array-typed column (LateInteractionSpec
    * pins each leg; `ann_maxsim_stored` oracle-certifies the stored
    * serve). */
  def tokenIndex(docToks: DataFrame,
                 centroidFraction: Option[Double] = None,
                 metaCols: Seq[String] = Nil)
      : GraftSimilarity.IvfIndex =
    GraftSimilarity.buildIvfIndex(
      tokenVectors(docToks, metaCols),
      centroidFraction, idCol = "tok_id", metaCols = "tv" +: metaCols)

  /** Composite-id radix for [[tokenIndex]]: token ordinal lives below,
    * doc id above. 2²⁰ ordinals per document is far past any bounded
    * token bag; doc ids up to ~2⁴³ keep the composite in a long. */
  val TokenIdBase: Long = 1L << 20

  // shared tail: integer dot per (query token, doc token) pair, max per
  // (q_id, qtok, doc), sum per (q_id, doc), top-k per q_id — exactly the
  // MaxSim contraction, each stage a partial-aggregating groupBy
  private def scoreAndRank(pairs: DataFrame, k: Int): DataFrame =
    GraftSimilarity.topK(
      pairs
        .filter(col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("qtok"), col("doc_id"),
                expr(dotExpr).as("__dot"))
        .groupBy("q_id", "qtok", "doc_id")
        .agg(max(col("__dot")).as("__m"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("__m")).as("__s")),
      k, id = "doc_id", score = "cast(__s AS double)",
      scoreOut = _.cast("long").as("score"))
}
