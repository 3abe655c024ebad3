package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType,
  StringType}

/** BM25 keyword retrieval over a document corpus — the classic
  * Robertson/Spärck-Jones ranking (the +1-smoothed IDF variant Lucene
  * uses, so IDF is never negative) as a declarative Spark job.
  *
  * Scale shape: the corpus explodes to (doc, term) rows but the filter to
  * query terms happens INSIDE the explode-select, so only matching-term
  * rows ever reach the (doc_id, term) aggregation — a corpus-size map
  * stage followed by shuffles proportional to matching rows, not corpus
  * tokens. Document-frequency and corpus stats are one bounded collect
  * (|query terms| + 1 rows) folded into the plan as literals. Top-k is
  * TakeOrderedAndProject (never a global sort). No UDFs.
  */
object TextRank {

  /** THE BM25 scoring kernel — single home of the formula and the
    * integer-grid determinism stance, shared by [[bm25TopK]] (one query,
    * literal terms) and [[graft.operators.HybridRetrieval]]'s lexical leg
    * (a query minibatch): two copies of one formula drift, so there is
    * exactly one (ADVICE/VERDICT r10). `termQueries` maps each query term
    * to the ids (of type `qIdType`) of the queries holding it — a
    * driver-side value, bounded by the minibatch. Returns (q_id, doc_id,
    * __score: long, n_terms_hit: long); only documents containing ≥ 1 of
    * the query's terms appear (standard retrieval semantics). No
    * self-exclusion here — groups are atomic in (q_id, doc_id), so
    * callers filter the output when they need it.
    *
    * Scale shape: the corpus token stream filters to the query-term set
    * INSIDE the explode-select (a literal `IN` set), so only
    * matching-term rows ever shuffle; per-(doc, term) stats are computed
    * ONCE and shared across queries hitting the term; df and corpus
    * stats are one bounded collect folded in as literals
    * ([[bm25Impacts]]); the fan-out to queries is an explode of the
    * literal term → queries map, bounded by the minibatch size.
    *
    * Determinism: each per-term score is quantized to an integer 1e6
    * micro-grid BEFORE the per-(query, document) sum — a float Σ rounds
    * differently under different addend orders, so two engines (or two
    * partitionings) could break a near-tie in opposite directions, while
    * an exact integer Σ is order-insensitive and rank-stable. Scores are
    * positive, so HALF_UP (Spark) and half-away-from-zero (DuckDB) agree.
    * Residual risk, accepted under the rank-only contract: each addend
    * still passes through libm ln (not correctly rounded), so a last-ulp
    * cross-engine difference landing exactly on a .5 grid boundary could
    * flip one quantized long and with it a near-tie rank. A fully
    * log-free monotone surrogate (as text_collocations uses) cannot
    * express BM25's idf·tf saturation product, so the grid is the best
    * available contract here.
    */
  private[operators] def bm25Scores(docs: DataFrame,
                                    termQueries: Map[String, Seq[Any]],
                                    qIdType: DataType,
                                    idCol: String, textCol: String,
                                    k1: Double, b: Double): DataFrame = {
    bm25Impacts(docs, idCol, textCol, k1, b,
                termGate = Some(termQueries.keys.toSeq))
      .select(queriesOfTerm(termQueries, qIdType), col("doc_id"), col("__a"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__a")).as("__score"),
           count(lit(1)).as("n_terms_hit"))
  }

  /** `q_id`, exploded: the fan-out of a `__term`-carrying row to the
    * queries holding its term, through ONE literal term → queries map
    * (no join, no hashed broadcast). */
  private[operators] def queriesOfTerm(termQueries: Map[String, Seq[Any]],
                                       qIdType: DataType): Column =
    explode(element_at(GraftSimilarity.literalOf(termQueries,
                         MapType(StringType, ArrayType(qIdType))),
                       col("__term"))).as("q_id")

  /** THE BM25 addend formula, written once: the 10⁻⁶-grid quantized
    * per-(term, doc) score over `__tf` and `__dl` columns, given the
    * term's document frequency `df` and the corpus stats `n` (documents)
    * and `avgdl` — columns of an attach on the ungated build, literals
    * on the gated serve, the same expression either way. */
  private def addend(k1: Double, b: Double, df: Column, n: Column,
                     avgdl: Column): Column = {
    val idf = log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("__tf") * (lit(k1) + 1)) /
      (col("__tf") + lit(k1) *
        (lit(1 - b) + lit(b) * col("__dl") / avgdl))
    round(termScore * lit(1e6), 0).cast("long")
  }

  /** The per-(term, document) BM25 impact ADDENDS — the one home of the
    * formula and the 10⁻⁶ integer grid, now factored below [[bm25Scores]]
    * so the query-gated scorer and the query-invariant IMPACT-INDEX build
    * ([[graft.streaming.CorpusStreams.hybridServeStream]],
    * [[ImpactIndex]]) share one kernel instead of restating it
    * (VERDICT r13 #1: the r11 dual-kernel drift class). Returns
    * (__term, doc_id, __a: long) where `__a` is the quantized addend;
    * a (query, doc) BM25 score is exactly Σ __a over the query's matched
    * terms, so every consumer is bit-equal by construction.
    *
    * `termGate`: with a (query-bounded) term set, the serve's df and
    * corpus stats are ONE bounded collect of |terms| + 1 rows — each
    * document emits its distinct gated terms plus one null-term row, so
    * a single aggregate yields every term's df and, under the null term,
    * N and the mean doc length — and fold into the addend as a literal
    * df map and two literals; the token stream filters to the gate
    * through a literal `IN` set inside the explode. The corpus is
    * tokenized twice (the collect, then tf), with no join and no
    * exchange beyond tf's own. WITHOUT a gate (the impact-index build —
    * query-invariant, so it CANNOT gate), df spans the whole VOCABULARY:
    * at 100 TB that is 10⁸–10⁹ distinct terms, a multi-GB driver value
    * or broadcast — and `tf` is already hash-partitioned by `__term`
    * from its own aggregation, so the plain shuffle join co-partitions
    * for free; `stats` is one row, cross-joined by broadcast.
    */
  private[graft] def bm25Impacts(docs: DataFrame, idCol: String,
                                 textCol: String, k1: Double, b: Double,
                                 termGate: Option[Seq[String]]): DataFrame = {
    val toks0 = docs.select(
      col(idCol).as("doc_id"),
      GraftText.whitespaceTokens(col(textCol)).as("__tk"))
    val dl = size(col("__tk")).cast("long")
    termGate match {
      case Some(gate) =>
        val terms = gate.filter(_ != null).distinct
        def gated(tk: Column): Column = filter(tk, _.isin(terms: _*))
        val side =
          if (terms.isEmpty) Array.empty[Row]
          else toks0
            .select(dl.as("__dl"), explode(concat(
              array(lit(null).cast("string")),
              coalesce(array_distinct(gated(col("__tk"))),
                       typedLit(Seq.empty[String])))).as("__term"))
            .groupBy(col("__term"))
            .agg(count(lit(1)).as("__df"), avg(col("__dl")).as("__avgdl"))
            .collect()
        val stats = side.find(_.isNullAt(0))
        val df = side.filterNot(_.isNullAt(0))
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val n = lit(stats.fold(0L)(_.getLong(1)))
        val avgdl = stats.filterNot(_.isNullAt(2))
          .fold(lit(null).cast("double"))(r => lit(r.getDouble(2)))
        // the GATED path stays fused with the scan — a serve should not
        // pay a corpus exchange for its one bounded query minibatch
        toks0
          .select(col("doc_id"), dl.as("__dl"),
                  explode(gated(col("__tk"))).as("__term"))
          .groupBy(col("doc_id"), col("__term"))
          .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
          .select(col("__term"), col("doc_id"),
                  addend(k1, b, element_at(typedLit(df), col("__term")),
                         n, avgdl).as("__a"))
      case None =>
        // fanOut buys two things when the corpus packs into fewer read
        // splits than cores (self-canceling at scale — see ScaleHints):
        // the tokenize+explode stage runs at session width instead of one
        // task per file split, and the tf branch and the stats branch
        // read ONE ReuseExchange instead of each re-tokenizing the corpus
        val toks = ScaleHints.fanOut(toks0, col("doc_id"))
        // per-(doc, term) term frequency, doc length riding along
        val tf = toks
          .select(col("doc_id"), dl.as("__dl"),
                  explode(col("__tk")).as("__term"))
          .groupBy(col("doc_id"), col("__term"))
          .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
        // per-term document frequency — derived from tf, so the join
        // back is ALREADY co-partitioned on __term
        val df = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
        // corpus stats: N docs, mean doc length (exact long sum / count)
        val stats = toks.agg(count(lit(1)).as("__n"), avg(dl).as("__avgdl"))
        tf.join(df, "__term")
          .crossJoin(broadcast(stats))
          .select(col("__term"), col("doc_id"),
                  addend(k1, b, col("__df"), col("__n"), col("__avgdl"))
                    .as("__a"))
    }
  }

  /** Top-`k` documents for `queryTerms` by BM25, as
    * (rank, doc_id, n_terms_hit) ordered by score descending with doc id
    * breaking ties deterministically. Only documents containing at least
    * one query term are candidates (standard retrieval semantics). The
    * fractional score stays internal — ranks are stable integers.
    * A thin single-query wrapper over [[bm25Scores]]; top-k is
    * TakeOrderedAndProject (never a global sort).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    val scored = bm25Scores(docs, queryTerms.map(_ -> Seq(0L)).toMap,
                            LongType, idCol, textCol, k1, b)
    val top = scored
      .orderBy(col("__score").desc, col("doc_id").asc)
      .limit(k)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__score").desc, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id").as(idCol), col("n_terms_hit"))
  }

  /** Top-`k` highest-perplexity documents per group under a bigram language
    * model trained on the corpus itself — CCNet-style quality scoring
    * (Wenzek et al. 2020) with the corpus as its own LM, so no external
    * model ships. A document's score is its mean token surprisal
    * Σ ln(c1(w₁)/c2(w₁,w₂)) / n_bigrams, where c2 is the corpus bigram
    * count and c1 the bigram-prefix count: high = unusual word transitions
    * (boilerplate, garbled text, wrong-language fragments), low = typical
    * prose. Because the model is trained on the scored corpus, every
    * document bigram has c2 ≥ 1 — MLE needs no smoothing.
    *
    * Scale shape: one explode produces the (doc, w₁, w₂) stream; the model
    * is two aggregations OF that stream (bigram counts, then prefix counts
    * from the already-collapsed bigram table — the raw stream is never
    * shuffled twice); scoring re-joins the stream to the model on the
    * bigram key with a [[ScaleHints.gated]] attach (vocabulary tables are
    * MBs at laptop scale but can be 100s of GB at 100 TB — the gate picks
    * broadcast vs shuffle-hash). The rank window's input is one row per
    * DOCUMENT (post-aggregation), 4-6 orders below the token stream.
    * The fractional score stays internal — output rows are integers
    * (rank, id, n_bigrams), immune to cross-engine float rendering; ties
    * break on the id.
    */
  def bigramPerplexityTopK(docs: DataFrame, k: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           groupCol: String = "lang"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val bg = docs.select(
        col(idCol), col(groupCol),
        GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), col(groupCol),
        explode(expr(
          """transform(sequence(0, size(__tk) - 2),
             i -> struct(__tk[i] AS w1, __tk[i + 1] AS w2))""")).as("__bg"))
      .select(col(idCol), col(groupCol),
        col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val c2 = bg.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c2"))
    val c1 = c2.groupBy("__w1").agg(sum("__c2").as("__c1"))
    val model = c2.join(ScaleHints.gated(c1), "__w1")
    // per-bigram surprisal quantized to an integer micro-grid before the
    // per-document sum — same order-insensitive-Σ rationale as bm25TopK
    val surprisalQ = round(
      log(col("__c1").cast("double") / col("__c2")) * lit(1e6), 0)
      .cast("long")
    val scored = bg
      .join(ScaleHints.gated(model), Seq("__w1", "__w2"))
      .groupBy(col(idCol), col(groupCol))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(surprisalQ).as("__nll"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy((col("__nll") / col("n_bigrams")).desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol), col("n_bigrams"))
  }
}
