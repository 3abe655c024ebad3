package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, MapType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import GraftSimilarity.{IvfIndex, QueryBatch}

/** Hybrid lexical + semantic retrieval with reciprocal-rank fusion —
  * the standard RAG serving recipe (Cormack/Clarke/Büttcher's RRF,
  * SIGIR 2009): each query runs BM25 over the token corpus AND cosine
  * retrieval over the embedding corpus, the two top-`kCand` candidate
  * lists are fused by `score = Σ_legs 1/(rrfK + rank)`, and the fused
  * top-`k` ships with both per-leg ranks attached so a caller can see
  * WHY a hit surfaced (lexical match, semantic match, or both).
  *
  * Two semantic tiers, one fusion contract (fusion is RANK-ONLY, so the
  * fused semantics are identical wherever the candidate lists come from):
  *
  *   - [[hybridTopK]] — exact-cosine semantic leg
  *     ([[GraftSimilarity.bruteForceTopK]]): the eval/verification tier,
  *     one linear scan of the embedding corpus per query minibatch.
  *   - [[hybridTopKWith]] — the SERVED tier: the semantic leg probes a
  *     built [[GraftSimilarity.IvfIndex]] through
  *     [[GraftSimilarity.ivfTopKWith]], so against the at-rest store each
  *     query batch reads only its probed cells' files (the DPP-pruned
  *     serve path) instead of scanning the corpus. The IVF recall trade
  *     applies to that leg only — with `nprobe` covering all cells the
  *     output equals [[hybridTopK]]'s exactly (SimilaritySpec's
  *     "hybridTopKWith: covering nprobe equals the brute tier exactly"
  *     pins it).
  *
  * Every fused serve is one body ([[fusedServe]]): it collects the
  * minibatch and fuses, and the serve supplies only its legs.
  *
  * Scale shape — each leg is the already-audited retrieval kernel:
  *   - the query minibatch is collected ONCE ([[qBatch]], bounded by
  *     the serving contract) and every query-bounded side rides in the
  *     legs' plans as a driver value — literal arrays, maps and `IN`
  *     sets — so a serve builds no hashed broadcast keyed on a term and
  *     persists nothing.
  *   - lexical: [[TextRank.bm25Scores]] — THE single BM25 kernel (also
  *     behind [[TextRank.bm25TopK]]; one formula, one home, r10's dual
  *     kernels consolidated): corpus token stream gated by a literal
  *     `IN` set of the query terms, per-(doc, term) stats shared across
  *     queries, df/corpus stats one bounded collect folded in as
  *     literals.
  *   - semantic: broadcast query block → pure map over the embedding
  *     scan (brute tier), or broadcast probe rows → DPP-pruned cell scan
  *     (served tier); either way `graft_topk`'s k-slot heap moves only
  *     `kCand` rows per query per partition.
  *   - fusion: both legs are capped at `kCand` rows per query BEFORE
  *     the full-outer rank join, so fusion touches ≤ 2·kCand rows per
  *     query REGARDLESS of corpus size — the window that assigns the
  *     fused rank sorts per-query lists of ≤ 2·kCand rows, never a
  *     corpus-sized partition.
  *
  * Determinism contract (the cross-engine stance of the whole catalog):
  * per-term BM25 addends quantize to a 1e-6 grid BEFORE the
  * order-insensitive integer sum; ranks are integers; the fused score
  * is an integer sum of two rank-derived integers on a 1e-9 grid — so
  * every emitted column is exactly replayable in SQL. Ties break on
  * doc id at every rank assignment.
  */
object HybridRetrieval {

  /** A lexical leg's per-query top-`kCand` ranks over (q_id, doc_id,
    * __score) BM25 sums, through [[GraftSimilarity.topK]] (long scores
    * < 2^53 are exact as doubles; the heap position IS the rank). The
    * query's own document is excluded after the aggregation — sound
    * because groups are atomic in (q_id, doc_id). */
  private def lexTop(scores: DataFrame, kCand: Int): DataFrame =
    GraftSimilarity.topK(scores.filter(col("doc_id") =!= col("q_id")), kCand,
                         id = "doc_id", score = "cast(__score AS double)")
      .select(col("q_id"), col("doc_id"), col("rnk").as("lex_rank"))

  /** Lexical leg: BM25 through the shared [[TextRank.bm25Scores]] kernel
    * over the minibatch's (q_id, __qtk) rows. */
  private def lexRanks(docs: DataFrame, q: QueryBatch, kCand: Int,
                       idCol: String, textCol: String,
                       k1: Double, b: Double): DataFrame =
    lexTop(TextRank.bm25Scores(docs, termQueries(q),
                               q.frame.schema("q_id").dataType,
                               idCol, textCol, k1, b), kCand)

  /** The lexical leg of a minibatch with no query terms at all: empty,
    * so fusion degrades to the semantic leg (the full-outer fuse
    * contract). */
  private def noLex(q: QueryBatch): DataFrame =
    q.frame.limit(0).select(col("q_id"), col("q_id").as("doc_id"),
                            lit(0L).as("lex_rank"))

  /** Each distinct non-null term of the minibatch's `__qtk` arrays → the
    * ids of the queries holding it (a driver-side value). */
  private def termQueries(q: QueryBatch): Map[String, Seq[Any]] = {
    val tk = q.frame.schema.fieldIndex("__qtk")
    q.rows.toSeq
      .flatMap(r => Option(r.getSeq[String](tk)).toSeq
        .flatMap(_.filter(_ != null).distinct).map(_ -> r.get(0)))
      .groupMap(_._1)(_._2)
  }

  /** One leg's reciprocal-rank term, `round(1e9 / (rrfK + rank))` as a
    * long (double arithmetic), NULL rank → 0. The fused score is the sum
    * over both legs — here and in the streaming serves' in-row fusion
    * ([[graft.streaming.CorpusStreams.hybridServeStream]]). */
  private[graft] def rrfLeg(rrfK: Int)(rank: Column): Column =
    coalesce(round(lit(1e9) / (lit(rrfK) + rank), 0).cast("long"), lit(0L))

  /** Fuse two per-query rank lists (≤ kCand rows each) by reciprocal
    * rank ([[rrfLeg]] summed over the legs). Output (q_id, doc_id, rank,
    * rrf, lex_rank, sem_rank). */
  private def fuse(lex: DataFrame, sem: DataFrame, k: Int,
                   rrfK: Int): DataFrame = {
    val leg = rrfLeg(rrfK) _
    val fused = lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
              (leg(col("lex_rank")) + leg(col("sem_rank"))).as("rrf"),
              col("lex_rank"), col("sem_rank"))
    fused
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank"), col("rrf"),
              col("lex_rank"), col("sem_rank"))
  }

  /** The fused serves' parameter checks, each message naming `ctx`;
    * `nprobe` and `rerankFactor` are checked for the serves that take
    * them. */
  private def requireParams(ctx: String, k: Int, kCand: Int, rrfK: Int,
                            nprobe: Option[Int] = None,
                            rerankFactor: Option[Int] = None): Unit = {
    require(k >= 1, s"$ctx: k must be >= 1, got $k")
    require(kCand >= 1, s"$ctx: kCand must be >= 1, got $kCand")
    require(rrfK >= 1, s"$ctx: rrfK must be >= 1, got $rrfK")
    for (n <- nprobe) require(n >= 1, s"$ctx: nprobe must be >= 1, got $n")
    for (r <- rerankFactor)
      require(r >= 1, s"$ctx: rerankFactor must be >= 1, got $r")
  }

  /** Project the caller's query minibatch to the canonical (q_id, __qtk,
    * __qv) frame and collect it ONCE ([[GraftSimilarity.queryBatch]]):
    * the minibatch is small by the serving contract but its DERIVATION
    * is the caller's — often a join against the corpus (the bench rows
    * derive it docs⋈embeddings) — and one fused serve reads it in every
    * leg. After the collect the lexical term sets, |Q| and the rerank's
    * query vectors are driver values, and the legs' plans read a local
    * relation: nothing is persisted, nothing re-evaluates the caller's
    * derivation.
    */
  private def qBatch(queries: DataFrame, qIdCol: String, qTermsCol: String,
                     qVecCol: String, ctx: String,
                     castId: Boolean = false): QueryBatch = {
    val id = if (castId) col(qIdCol).cast("long") else col(qIdCol)
    GraftSimilarity.queryBatch(
      queries.select(id.as("q_id"), col(qTermsCol).as("__qtk"),
                     col(qVecCol).as("__qv")), ctx)
  }

  /** The body of every fused serve over a (q_id, terms, vector)
    * minibatch: collect it once ([[qBatch]]), run the serve's semantic
    * leg — any vector serve from (q_id, qv) queries to (q_id, n_id, rnk)
    * ranks — over the batch's query vectors and its lexical leg over the
    * batch, and [[fuse]] the two rank lists at `k`. `tail` sees the
    * batch and the fused frame (the MMR serves diversify it). */
  private def fusedServe(ctx: String, queries: DataFrame, qIdCol: String,
                         qTermsCol: String, qVecCol: String, k: Int,
                         rrfK: Int, castId: Boolean = false,
                         tail: (QueryBatch, DataFrame) => DataFrame =
                           (_, fused) => fused)(
      lex: QueryBatch => DataFrame,
      sem: DataFrame => DataFrame): DataFrame = {
    graft.GraftSession.ensureExtensions(queries.sparkSession)
    val q = qBatch(queries, qIdCol, qTermsCol, qVecCol, ctx, castId)
    val semRanks = sem(q.frame.select(col("q_id"), col("__qv").as("qv")))
      .select(col("q_id"), col("n_id").as("doc_id"),
              col("rnk").as("sem_rank"))
    tail(q, fuse(lex(q), semRanks, k, rrfK))
  }

  /** The MMR serves' tail: the fused candidacy re-ranked by
    * [[GraftSimilarity.mmrRerank]], relevance = exact cosine to the
    * collected batch's query vectors. */
  private def mmrTail(index: IvfIndex, k: Int, lambda: Double)(
      q: QueryBatch, fused: DataFrame): DataFrame =
    GraftSimilarity.mmrRerank(
      fused.select(col("q_id"), col("doc_id").as("n_id")),
      index.assigned.select(col("n_id"), col("v")),
      q.frame.select(col("q_id"), col("__qv").as("qv")), k, lambda)

  /** Fused top-`k` per query, exact-cosine semantic leg. `queries`
    * carries one row per query: (`qIdCol`, `qTermsCol`:
    * array&lt;string&gt;, `qVecCol`: array&lt;double&gt;) — a
    * training/serving minibatch, small by construction, broadcast into
    * both legs. The query's own document (same id) is excluded from both
    * legs. Output: (q_id, doc_id, rank, rrf, lex_rank, sem_rank) with a
    * NULL leg rank meaning the document surfaced on the other leg only.
    */
  def hybridTopK(docs: DataFrame, vecs: DataFrame, queries: DataFrame,
                 k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                 idCol: String = "doc_id", textCol: String = "text",
                 vecIdCol: String = "vec_id", vecCol: String = "v",
                 qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                 qVecCol: String = "qv",
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireParams("hybridTopK", k, kCand, rrfK)
    fusedServe("hybridTopK", queries, qIdCol, qTermsCol, qVecCol, k, rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.bruteForceTopK(vecs, _, kCand, idCol = vecIdCol,
                                     vecCol = vecCol))
  }

  /** The SERVED fused top-`k`: semantic leg through a built
    * [[GraftSimilarity.IvfIndex]] at `nprobe` probed cells per query —
    * against the at-rest store this is the DPP-pruned probe path, so a
    * RAG deployment fuses BM25 with the index it already serves instead
    * of a corpus scan. Same output contract as [[hybridTopK]]; documents
    * whose cell is not probed can only surface via the lexical leg (the
    * standard IVF recall trade, confined to the semantic leg — and with
    * `nprobe` ≥ the cell count the two tiers are EQUAL, which is the
    * spec's parity pin).
    *
    * METADATA-FILTERED fusion: `where` filters the SEMANTIC leg's
    * candidate population (the predicate lives in the index — see
    * [[GraftSimilarity.ivfTopKWith]]). The LEXICAL leg's population is
    * the `docs` frame the caller passes — pre-filter it to the same
    * population (BM25's df/avgdl then describe exactly the filtered
    * corpus, which is the correct pre-filter statistic; a post-hoc doc
    * filter would keep the unfiltered corpus's term weights). The same
    * holds for every `where` of the tiers below.
    */
  def hybridTopKWith(index: IvfIndex, docs: DataFrame, queries: DataFrame,
                     k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                     nprobe: Int = 4,
                     idCol: String = "doc_id", textCol: String = "text",
                     qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                     qVecCol: String = "qv",
                     k1: Double = 1.2, b: Double = 0.75,
                     where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWith", k, kCand, rrfK, Some(nprobe))
    fusedServe("hybridTopKWith", queries, qIdCol, qTermsCol, qVecCol, k,
               rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.ivfTopKWith(index, _, kCand, nprobe, where = where))
  }

  /** The fused top-`k` over the q8 (8×) tier: semantic leg through
    * [[GraftSimilarity.ivfTopKWithQ8]] — integer candidate scoring off
    * the store's byte-packed `q8` column in the probed cells, exact
    * rerank of kCand·rerankFactor survivors — behind the same rank-only
    * fusion contract. At a covering budget the q8 cut loses nothing, so
    * covering nprobe + covering rerankFactor equals [[hybridTopK]]
    * exactly (spec-pinned). `index.assigned` must carry `q8` (every
    * [[IvfObjectStore]] does; [[GraftSimilarity.q8Augment]] for
    * in-memory indexes).
    */
  def hybridTopKWithQ8(index: IvfIndex, docs: DataFrame, queries: DataFrame,
                       k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                       nprobe: Int = 4, rerankFactor: Int = 4,
                       idCol: String = "doc_id", textCol: String = "text",
                       qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                       qVecCol: String = "qv",
                       k1: Double = 1.2, b: Double = 0.75,
                       where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithQ8", k, kCand, rrfK, Some(nprobe),
                  Some(rerankFactor))
    fusedServe("hybridTopKWithQ8", queries, qIdCol, qTermsCol, qVecCol, k,
               rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.ivfTopKWithQ8(index, _, kCand, nprobe, rerankFactor,
                                    where = where))
  }

  /** The fused top-`k` over the int4 (16×) tier: semantic leg through
    * [[GraftSimilarity.ivfTopKWithQ4]] — integer candidate scoring off
    * the store's nibble-packed `q4` column. `index.assigned` must carry
    * `q4` (a store written with `IvfObjectStore.create(q4 = true)`, or
    * [[GraftSimilarity.q4Augment]] for in-memory indexes — the tier is
    * opt-in at write). At covering nprobe + covering rerankFactor the
    * output equals [[hybridTopK]] exactly, the same parity contract as
    * the q8/PQ rungs.
    */
  def hybridTopKWithQ4(index: IvfIndex, docs: DataFrame, queries: DataFrame,
                       k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                       nprobe: Int = 4, rerankFactor: Int = 4,
                       idCol: String = "doc_id", textCol: String = "text",
                       qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                       qVecCol: String = "qv",
                       k1: Double = 1.2, b: Double = 0.75,
                       where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithQ4", k, kCand, rrfK, Some(nprobe),
                  Some(rerankFactor))
    fusedServe("hybridTopKWithQ4", queries, qIdCol, qTermsCol, qVecCol, k,
               rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.ivfTopKWithQ4(index, _, kCand, nprobe, rerankFactor,
                                    where = where))
  }

  /** The fused top-`k` over the ONE-BIT tier: semantic leg through
    * [[GraftSimilarity.ivfTopKWithB1]] — XOR+POPCNT Hamming candidate
    * scoring off the store's sign-packed `b1` column (the cheapest
    * candidate kernel of the ladder). The coarsest rung drops the most
    * true semantic candidates at a given budget (size `rerankFactor`
    * from a [[GraftSimilarity.tierRecall]] measurement); lexical
    * candidates survive any semantic cut, the fusion contract's usual
    * guarantee. Requires `b1` on `index.assigned` (opt-in at write;
    * [[GraftSimilarity.b1Augment]] for in-memory). */
  def hybridTopKWithB1(index: IvfIndex, docs: DataFrame, queries: DataFrame,
                       k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                       nprobe: Int = 4, rerankFactor: Int = 4,
                       idCol: String = "doc_id", textCol: String = "text",
                       qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                       qVecCol: String = "qv",
                       k1: Double = 1.2, b: Double = 0.75,
                       where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithB1", k, kCand, rrfK, Some(nprobe),
                  Some(rerankFactor))
    fusedServe("hybridTopKWithB1", queries, qIdCol, qTermsCol, qVecCol, k,
               rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.ivfTopKWithB1(index, _, kCand, nprobe, rerankFactor,
                                    where = where))
  }

  /** The fused top-`k` over the 64× PQ tier: semantic leg through
    * [[GraftPq.ivfPqTopKWithCw]] — ADC candidate scoring off the store's
    * m-byte code words in the probed cells. The PQ recall trade is
    * bounded by `rerankFactor` (size it with [[GraftPq.pqAutoBudget]] —
    * see [[GraftPq.pqTopK]]'s budget warning); with `nprobe` covering
    * every cell and a covering budget the output equals [[hybridTopK]]'s
    * exactly (SimilaritySpec's "hybridTopKWithPq: covering nprobe +
    * covering rerank budget equals …" pins it). `index.assigned` must
    * carry `cw` (an [[IvfObjectStore]] created with `pq`, read with its
    * codebook via [[GraftPq.readPqCodebook]]).
    */
  def hybridTopKWithPq(index: IvfIndex, cb: GraftPq.PqCodebook,
                       docs: DataFrame, queries: DataFrame,
                       k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                       nprobe: Int = 4, rerankFactor: Int = 4,
                       idCol: String = "doc_id", textCol: String = "text",
                       qIdCol: String = "q_id", qTermsCol: String = "q_terms",
                       qVecCol: String = "qv",
                       k1: Double = 1.2, b: Double = 0.75,
                       where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithPq", k, kCand, rrfK, Some(nprobe),
                  Some(rerankFactor))
    fusedServe("hybridTopKWithPq", queries, qIdCol, qTermsCol, qVecCol, k,
               rrfK)(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftPq.ivfPqTopKWithCw(index, cb, _, kCand, nprobe, rerankFactor,
                              where = where))
  }

  /** BM25 ⊕ late-interaction (MaxSim) fusion — the ColBERT deployment
    * shape: the lexical leg is the same [[TextRank.bm25Scores]] kernel,
    * the semantic leg is [[LateInteraction.maxSimTopKWith]] over a BUILT
    * token-level index (each query token probes its cells; token-granular
    * evidence a single pooled vector averages away), and the two
    * top-`kCand` lists fuse under the SAME rank-only RRF contract as
    * every other rung — so swapping pooled-vector retrieval for
    * late-interaction retrieval is a one-call change, not a new stack.
    * `queries` carries (qIdCol, qTextCol): BOTH legs derive from the
    * query TEXT — BM25 terms via whitespace tokens, MaxSim token vectors
    * via the same ±1 hash embedding the index was built with (`dim` /
    * `maxTokens` must match the build, the
    * [[graft.streaming.CorpusStreams.maxSimServeStream]] contract).
    */
  def hybridTopKWithMaxSim(index: IvfIndex, docs: DataFrame,
                           queries: DataFrame,
                           k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                           nprobe: Int = 4,
                           dim: Int = 8, maxTokens: Int = 16,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           qIdCol: String = "q_id",
                           qTextCol: String = "text",
                           k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    requireParams("hybridTopKWithMaxSim", k, kCand, rrfK, Some(nprobe))
    graft.GraftSession.ensureExtensions(docs.sparkSession)
    // the qBatch stance in text shape: both legs derive from __qtext —
    // tokens lexically, ±1 hash vectors semantically — off ONE collect
    // (the token projection over the local batch collects with no job)
    val q = GraftSimilarity.queryBatch(
      queries.select(col(qIdCol).cast("long").as("q_id"),
                     col(qTextCol).as("__qtext")), "hybridTopKWithMaxSim")
    val lexQ = GraftSimilarity.queryBatch(
      q.frame.select(col("q_id"),
                     GraftText.whitespaceTokens(col("__qtext")).as("__qtk")),
      "hybridTopKWithMaxSim")
    val qToks = LateInteraction.hashTokenVectors(
        q.frame.select(col("q_id").as("doc_id"), col("__qtext").as("text")),
        dim = dim, maxTokens = maxTokens)
      .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
    val sem = LateInteraction.maxSimTopKWith(index, qToks, kCand, nprobe)
      .select(col("q_id"), col("doc_id"), col("rnk").as("sem_rank"))
    fuse(lexRanks(docs, lexQ, kCand, idCol, textCol, k1, b), sem, k, rrfK)
  }

  /** DIVERSIFIED fusion: the hybrid serve's fused top-`kCand` candidate
    * list (lexical ∪ semantic, rank-fused — the CANDIDACY decision)
    * re-ranked by [[GraftSimilarity.mmrTopK]]'s MMR greedy with
    * relevance = exact cosine to the query embedding (the DIVERSITY
    * decision runs in embedding space — RRF scores live on a rank grid
    * too coarse and too small against cosine penalties to trade off
    * directly). The RAG serving shape for duplicate-heavy corpora:
    * hybrid retrieval decides what is RELEVANT, MMR stops the k slots
    * all going to one near-dup cluster.
    *
    * Every fused candidate must carry a vector in `index.assigned`
    * (lexical-only hits included — the corpus embedding side of the
    * fusion contract); candidates without one would silently drop, so
    * deploy over an embedding-covered corpus. Output (q_id, n_id, rank,
    * mmr) in selection order, the [[GraftSimilarity.mmrTopK]] contract;
    * cost beyond the fused serve is kCand cosines + the per-query
    * bounded greedy — no extra shuffle.
    */
  def hybridTopKWithMmr(index: IvfIndex, docs: DataFrame,
                        queries: DataFrame,
                        k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                        nprobe: Int = 4, lambda: Double = 0.5,
                        idCol: String = "doc_id", textCol: String = "text",
                        qIdCol: String = "q_id",
                        qTermsCol: String = "q_terms",
                        qVecCol: String = "qv",
                        k1: Double = 1.2, b: Double = 0.75,
                        where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithMmr", k, kCand, rrfK)
    require(lambda >= 0.0 && lambda <= 1.0,
      s"hybridTopKWithMmr: lambda must be in [0, 1], got $lambda")
    require(kCand >= k, s"hybridTopKWithMmr: kCand ($kCand) must be >= k ($k)")
    // the candidacy is hybridTopKWith's serve at k = kCand, checked and
    // collected under that serve's name
    requireParams("hybridTopKWith", kCand, kCand, rrfK, Some(nprobe))
    fusedServe("hybridTopKWith", queries, qIdCol, qTermsCol, qVecCol, kCand,
               rrfK, tail = mmrTail(index, k, lambda))(
      lexRanks(docs, _, kCand, idCol, textCol, k1, b),
      GraftSimilarity.ivfTopKWith(index, _, kCand, nprobe, where = where))
  }

  /** The served fused top-`k` with the LEXICAL leg off an at-rest
    * [[ImpactIndex]] store (VERDICT r13 #1c): BM25 scores are sums of
    * the store's precomputed per-(term, doc) addends — bit-equal to
    * [[TextRank.bm25Scores]] by the shared-kernel construction — so the
    * output equals [[hybridTopKWith]] exactly at the same parameters
    * (the `ann_hybrid_ivf` oracle certifies this row verbatim) while
    * the corpus text is never re-tokenized at serve time. The scan
    * reads only the query terms' buckets: the minibatch's distinct term
    * set, read off the collected batch, becomes literal partition
    * predicates through [[ImpactIndex.StoredImpacts.impactsFor]], and
    * each posting fans out to its queries through a literal term →
    * queries map.
    *
    * The impact store must describe the same corpus the IVF index
    * serves and be built at the same (k1, b) — both live beside the
    * vector store in the deployment layout.
    */
  def hybridTopKWithImpacts(index: IvfIndex,
                            impacts: ImpactIndex.StoredImpacts,
                            queries: DataFrame,
                            k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                            nprobe: Int = 4,
                            qIdCol: String = "q_id",
                            qTermsCol: String = "q_terms",
                            qVecCol: String = "qv",
                            where: Option[Column] = None): DataFrame = {
    requireParams("hybridTopKWithImpacts", k, kCand, rrfK, Some(nprobe))
    fusedServe("hybridTopKWithImpacts", queries, qIdCol, qTermsCol, qVecCol,
               k, rrfK)({ q =>
      val terms = termQueries(q)
      if (terms.isEmpty) noLex(q)
      else lexTop(impacts.impactsFor(terms.keys.toSeq)
          .select(TextRank.queriesOfTerm(terms,
                    q.frame.schema("q_id").dataType),
                  col("doc_id"), col("__a"))
          .groupBy(col("q_id"), col("doc_id"))
          .agg(sum(col("__a")).as("__score")), kCand)
    }, GraftSimilarity.ivfTopKWith(index, _, kCand, nprobe, where = where))
  }

  /** THE PRODUCTION SERVE (VERDICT r15 stretch #9): everything-at-rest
    * RAG retrieval in one composed plan — metadata filter + MaxScore-
    * PRUNED lexical leg off an at-rest impact store + quantized (q8)
    * IVF semantic leg off an at-rest vector store + RRF fusion + MMR
    * diversification. Every stage is a component certified elsewhere;
    * this method is the deployment composition: what a serving node
    * actually runs per query minibatch when both stores live beside
    * each other on an object store.
    *
    * The lexical leg is the MINIBATCH form of
    * [[ImpactIndex.bm25TopKPruned]] — per-QUERY essential splits
    * ([[prunedLex]]): only each query's `essential` highest-max-impact
    * terms' postings generate candidates, candidates score exactly over
    * all their query-term postings, and the covering guard (skipped
    * upper bound strictly below the kCand-th candidate score, full heap
    * required) REFUSES per the batch operator's contract — a guard row
    * per query rides the output plan, so a zero-candidate query with
    * skipped mass refuses too instead of silently serving the semantic
    * leg alone. Postings scan stays bucket-pruned via
    * [[ImpactIndex.StoredImpacts.impactsFor]]'s literal predicates.
    *
    * The semantic leg is [[GraftSimilarity.ivfTopKWithQ8]] off the
    * at-rest q8 column with `where` filtering the candidate scan BEFORE
    * the quantized cut (pre-filter semantics; predicate reaches the
    * reader beside the DPP cell prune). The two legs fuse at `kCand`
    * under the family RRF contract, and the fused candidacy re-ranks
    * through [[GraftSimilarity.mmrRerank]]'s bounded fold/explode
    * greedy with relevance = exact cosine to the query embedding
    * ([[hybridTopKWithMmr]]'s diversity contract).
    *
    * The impact store must describe the SAME (filtered) corpus the
    * `where` predicate selects — BM25's df/N/avgdl are pre-filter
    * statistics, so the store is built per allowed-source slice (the
    * `ann_hybrid_filtered` stance); pruning is exact by refusal, so the
    * unpruned-serve oracle certifies the whole composition verbatim.
    * Output (q_id, n_id, rank, mmr) in MMR selection order.
    */
  def serveProduction(index: IvfIndex,
                      impacts: ImpactIndex.StoredImpacts,
                      queries: DataFrame,
                      essential: Int = 1,
                      k: Int = 10, kCand: Int = 30, rrfK: Int = 60,
                      nprobe: Int = 4, rerankFactor: Int = 4,
                      lambda: Double = 0.5,
                      qIdCol: String = "q_id",
                      qTermsCol: String = "q_terms",
                      qVecCol: String = "qv",
                      where: Option[Column] = None): DataFrame = {
    requireParams("serveProduction", k, kCand, rrfK, Some(nprobe))
    require(kCand >= k, s"serveProduction: kCand ($kCand) must be >= k ($k)")
    require(essential >= 1,
      s"serveProduction: essential must be >= 1, got $essential")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"serveProduction: lambda must be in [0, 1], got $lambda")
    fusedServe("serveProduction", queries, qIdCol, qTermsCol, qVecCol, kCand,
               rrfK, castId = true, tail = mmrTail(index, k, lambda))(
      prunedLex(impacts, essential, kCand),
      GraftSimilarity.ivfTopKWithQ8(index, _, kCand, nprobe, rerankFactor,
                                    where = where))
  }

  /** [[serveProduction]]'s lexical leg. The query terms' `(__term,
    * __maxa)` upper bounds are one bounded collect (at most |terms| rows,
    * like the batch itself); each query's MaxScore split runs on the
    * driver — its terms by `__maxa` desc, then the term in Spark's
    * byte order, the first `essential` essential, the rest summed into
    * the skipped bound `__ne` — and reaches the plan as literals: a term
    * → (q_id, essential) map fans the postings out, a q_id → `__ne` map
    * feeds the covering guard. Terms absent from the store have no
    * postings and drop from the split (the bm25TopKPruned rule). */
  private def prunedLex(impacts: ImpactIndex.StoredImpacts, essential: Int,
                        kCand: Int)(q: QueryBatch): DataFrame = {
    val terms = termQueries(q)
    if (terms.isEmpty) return noLex(q)
    val maxa = impacts.terms
      .filter(col("__term").isin(terms.keys.toSeq: _*))
      .select(col("__term"), col("__maxa")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def before(a: String, b: String): Boolean =
      maxa(a) > maxa(b) || maxa(a) == maxa(b) &&
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val split = terms.toSeq
      .flatMap { case (t, qs) => qs.distinct.map(_ -> t) }
      .groupMap(_._1)(_._2)
      .map { case (id, ts) => id -> ts.filter(maxa.contains).sortWith(before) }
    val qIdType = q.frame.schema("q_id").dataType
    val fanOut = GraftSimilarity.literalOf(
      split.toSeq
        .flatMap { case (id, ts) =>
          ts.zipWithIndex.map { case (t, i) => t -> Row(id, i < essential) } }
        .groupMap(_._1)(_._2),
      MapType(StringType, ArrayType(StructType(Seq(
        StructField("q_id", qIdType), StructField("__e", BooleanType))))))
    val ne = GraftSimilarity.literalOf(
      q.rows.map(r => r.get(0) ->
        split.getOrElse(r.get(0), Nil).drop(essential).map(maxa).sum).toMap,
      MapType(qIdType, LongType))
    val top = impacts.impactsFor(terms.keys.toSeq)
      .select(explode(element_at(fanOut, col("__term"))).as("__qe"),
              col("doc_id"), col("__a"))
      .select(col("__qe.q_id").as("q_id"), col("__qe.__e").as("__e"),
              col("doc_id"), col("__a"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__a")).as("__l"), max(col("__e")).as("__c"))
      .filter(col("__c"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("__l").desc, col("doc_id").asc)).cast("long"))
      .filter(col("lex_rank") <= kCand)
    // the covering guard evaluates for EVERY query row — including
    // zero-candidate queries, which never reach `top`
    val stats = top.groupBy(col("q_id"))
      .agg(count(lit(1)).as("__cnt"), min(col("__l")).as("__th"))
    val guard = q.frame.select(col("q_id"),
                               element_at(ne, col("q_id")).as("__ne"))
      .join(stats, Seq("q_id"), "left")
      .filter(assert_true(
        col("__ne") === 0L ||
        (coalesce(col("__cnt"), lit(0L)) >= kCand &&
         col("__ne") < col("__th")),
        concat(lit(s"serveProduction: essential=$essential does not " +
                   s"cover kCand=$kCand for q_id="), col("q_id"),
               lit(" — skipped-term upper bound is not strictly " +
                   "below the kCand-th candidate score; raise " +
                   "essential — a silently non-exact lexical leg " +
                   "is refused"))).isNull)
      .select(col("q_id"))
    top.join(guard, "q_id")
      .select(col("q_id"), col("doc_id"), col("lex_rank"))
  }
}
