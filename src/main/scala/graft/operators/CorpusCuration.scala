package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composable corpus-curation stages — the library form of the
  * `pipeline_corpus_curation` catalog query. Each stage is an independent
  * DataFrame → DataFrame function so callers can assemble the pipeline
  * their corpus needs (and insert their own stages between ours).
  *
  * Scale shape of the canonical composition (exact dedup → near-dup removal
  * → quality filter → sample): one digest-keyed shuffle, one size-gated
  * anti-join against the (skinny) near-dup loser set, then pure map stages.
  */
object CorpusCuration {

  /** Default DSIR hash-bucket count, shared by [[dsirScores]] /
    * [[dsirWeights]] AND the DuckDB oracle that replays them — reference
    * this constant in both so they cannot silently desync. MUST stay a
    * power of two: the oracle maps grams to buckets with an UNSIGNED
    * `h % B` over the xxh64 value while Spark takes `pmod` of the SIGNED
    * hash, and `(h + 2⁶⁴) % B == pmod(h, B)` only when `2⁶⁴ % B == 0`.
    */
  val DsirDefaultBuckets: Int = 4096
  require(Integer.bitCount(DsirDefaultBuckets) == 1,
    "DsirDefaultBuckets must be a power of two (unsigned-vs-pmod oracle parity)")

  /** Exact dedup: keep the lowest-`idCol` row of every identical-`textCol`
    * group. One digest-keyed shuffle at any corpus size.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs
      .withColumn("__rk", row_number().over(
        Window.partitionBy(md5(col(textCol))).orderBy(idCol)))
      .filter(col("__rk") === 1).drop("__rk")

  /** Remove the losing side of near-duplicate pairs (e.g. from
    * [[GraftDedup.nearDupPairs]]): every `loserCol` id in `pairs` is dropped
    * from `docs`. The anti-join side is size-gated on its EXACT count — a
    * Catalyst estimate depends on how `pairs` was built, and a flipping
    * join strategy changes downstream partitioning, which would break
    * same-partitioning determinism under the position-seeded sampler.
    */
  def removeNearDups(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     loserCol: String = "b_id"): DataFrame = {
    val losers = pairs.select(col(loserCol).as(idCol)).distinct()
    docs.join(ScaleHints.gatedExact(losers, losers.count() * 8),
              Seq(idCol), "left_anti")
  }

  /** Quality gate: token count in bounds and stopword ratio under the cap.
    * Adds a `tk` token-array column (callers often reuse it downstream).
    * Pure map — zero shuffle at any scale.
    */
  def qualityFilter(docs: DataFrame, textCol: String = "text",
                    minTokens: Int = 20, maxStopRatio: Double = 0.5,
                    stopwords: Seq[String] = GraftText.StopwordsEn)
      : DataFrame =
    docs
      .withColumn("tk", GraftText.whitespaceTokens(col(textCol)))
      .withColumn("__stop_ratio",
        size(filter(col("tk"), x => x.isInCollection(stopwords))) /
        size(col("tk")))
      .filter(size(col("tk")) >= minTokens && col("__stop_ratio") < maxStopRatio)
      .drop("__stop_ratio")

  /** Cluster-level near-dup removal: close `pairs` transitively
    * ([[GraftDedup.connectedComponents]]) and keep ONE row per cluster —
    * the min-id member — plus every row in no pair at all. Stricter than
    * [[removeNearDups]] (which drops only direct pair losers): a≈b≈c
    * keeps just a even though a≉c directly.
    *
    * Scale shape: components over the (skinny) pair list, then one
    * size-gated semi/anti join pass over the corpus.
    */
  def dedupByComponents(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id",
                        aCol: String = "a_id", bCol: String = "b_id")
      : DataFrame = {
    val comp = GraftDedup.connectedComponents(pairs, aCol, bCol)
    val losers = comp.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(ScaleHints.gatedExact(losers, losers.count() * 8),
              Seq(idCol), "left_anti")
  }

  /** Benchmark-contamination audit: the rows of `train` that share at least
    * one word-`n`-gram with any row of `test` — the leakage check a
    * training corpus runs before a model ships. Returns the contaminated
    * `train` rows with all their columns.
    *
    * Scale shape: the gram explode is a pure map with per-doc distinct;
    * the semi join shuffles on the gram key with map-side distinct, and the
    * contaminated id set (skinny) semi-joins back onto train. By default
    * (`hashGrams = true`) the gram key is xxhash64 over the n-token SLICE
    * of the token array — the gram STRING is never built: no concat
    * allocation/copy per gram, per-doc distinct runs over longs, and 8
    * bytes cross the distinct Exchange and the broadcast instead of
    * ~n·wordlen strings, which is what survives 100 TB. (Spark's xxhash64
    * folds each array element into a running seed, so the key is
    * token-boundary-aware — ["a b","c"] and ["a","b c"] hash apart, which
    * plain separator-joined gram strings cannot even guarantee.) The result
    * is identical to the string tier unless two distinct grams collide in
    * 64 bits (birthday bound ≈ G²/2⁶⁵ — at even 10¹² corpus grams that is
    * ~3%, per-PAIR, and a collision only ever ADDS a contamination false
    * positive, the safe direction for a leakage audit). `hashGrams = false`
    * keeps the exact string-gram tier — the cross-engine-checkable form the
    * DuckDB oracle runs.
    */
  def contaminatedDocs(train: DataFrame, test: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 8, hashGrams: Boolean = true): DataFrame = {
    def tokens(d: DataFrame) = d
      .select(col(idCol), GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= n)
    // Gram keys per doc, already distinct — one array expression per row,
    // so nothing string-shaped survives past the map stage on the hashed
    // tier and the explode emits (id, bigint) rows only.
    def gramKeys(d: DataFrame) =
      if (hashGrams)
        tokens(d).select(col(idCol),
          explode(array_distinct(expr(
            s"transform(sequence(0, size(__tk) - $n)," +
              s" i -> xxhash64(slice(__tk, i + 1, $n)))"))).as("__gk"))
      else
        tokens(d).select(col(idCol),
          explode(array_distinct(GraftText.wordNGrams(col("__tk"), n)))
            .as("__gk"))
    val testGrams = gramKeys(test).select("__gk").distinct()
    val ids = gramKeys(train)
      .join(testGrams, Seq("__gk"), "left_semi")
      .select(idCol).distinct()
    train.join(ids, Seq(idCol), "left_semi")
  }

  /** FUZZY benchmark-contamination audit: (train_id, test_id, jaccard)
    * pairs whose word-`shingleN`-gram Jaccard reaches `threshold` — the
    * near-duplicate tier over [[contaminatedDocs]]'s exact-n-gram gate.
    * Exact overlap catches verbatim leakage only; a lightly edited or
    * re-tokenized benchmark document can share no single 8-gram with its
    * source yet still leak — the audit the corpus-curation literature
    * runs as "fuzzy decontamination" (n-gram-Jaccard near-dup of the
    * training corpus against the eval sets) before a model ships.
    *
    * Mechanics are the BIPARTITE form of [[GraftDedup.nearDupPairs]]:
    * MinHash signatures on both sides, banded bucket keys, and a
    * train-bands ⋈ test-bands equi-join — a candidate exists only where
    * a train doc and a test doc collide in a band, so candidate volume is
    * driven by the (small) eval side, never train². Verify is the same
    * two-stage attach as the self-join path: `graft_sig_agree` prefilter
    * at `threshold − 0.2` on the already-joined signatures, then ONE
    * sorted-merge intersection (`graft_jaccard_sorted`) per survivor.
    * Scale shape: two pure-map signature stages; the only wide exchanges
    * move (band key, 8-byte id) rows and the skinny candidate pairs —
    * gram strings never cross a shuffle.
    *
    * Recall is deterministic enough to certify against a brute-force
    * oracle, and the banding is no longer assumed from the certified
    * operating points: geometry comes from [[GraftDedup.minhashBanding]],
    * which ENFORCES the analytic bound
    * `P(no band collides | J ≥ τ) ≤ (1 − τ^r)^b ≤ missTarget`
    * for whatever (τ, r, b) a caller lands on — at the default τ=0.7
    * that is r=2 × b=64 with bound ≈ 2·10⁻¹⁹; a geometry exceeding the
    * target is refused, not run. The sig-agree prefilter's miss
    * probability at the 0.2 margin is < 10⁻⁶ (binomial tail over 128
    * signature slots).
    *
    * Caller contract: `idCol` values must be disjoint across `train` and
    * `test` (automatic when both sides come from one corpus's split).
    */
  def fuzzyContaminatedDocs(train: DataFrame, test: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            threshold: Double = 0.7, shingleN: Int = 3,
                            numHashes: Int = 128, rowsPerBand: Int = 0,
                            missTarget: Double = 1e-4): DataFrame = {
    val (r, bands) = GraftDedup.minhashBanding(threshold, numHashes,
                                               rowsPerBand, missTarget)
    val sigFilter = math.max(0.0, threshold - 0.2)
    import ScaleHints.gated
    def shingled(d: DataFrame) = d
      .select(col(idCol), GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= shingleN)
      .select(col(idCol),
              array_distinct(GraftText.wordNGrams(col("__tk"), shingleN))
                .as("__sh"))
    // both signature tables feed the band join AND two verify attaches —
    // leaves, like the self-join path's table
    val sigT =
      GraftDedup.signatures(shingled(train), idCol, "__sh", Nil, numHashes)
        .localCheckpoint(eager = false)
    val sigQ =
      GraftDedup.signatures(shingled(test), idCol, "__sh", Nil, numHashes)
        .localCheckpoint(eager = false)
    def banded(sig: DataFrame, as: String) = sig
      .select(col(idCol).as(as),
              GraftDedup.bandKeys("sig", bands, r).as("__bh"))
      .select(col(as), col("__bh.band_id").as("band_id"),
              col("__bh.band_hash").as("band_hash"))
    val cand = banded(sigT, "train_id")
      .join(banded(sigQ, "test_id"), Seq("band_id", "band_hash"))
      .select("train_id", "test_id")
      .distinct()
    cand
      .join(gated(sigT.select(col(idCol).as("train_id"),
                              col("sig").as("__siga"))), "train_id")
      .join(gated(sigQ.select(col(idCol).as("test_id"),
                              col("sig").as("__sigb"))), "test_id")
      .filter(expr(s"graft_sig_agree(__siga, __sigb) >= $sigFilter"))
      .select("train_id", "test_id")
      .join(gated(sigT.select(col(idCol).as("train_id"),
                              col("gh").as("__ga"))), "train_id")
      .join(gated(sigQ.select(col(idCol).as("test_id"),
                              col("gh").as("__gb"))), "test_id")
      .withColumn("jaccard", expr("graft_jaccard_sorted(__ga, __gb)"))
      .filter(col("jaccard") >= threshold)
      .select(col("train_id"), col("test_id"),
              round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental dedup against an EXISTING corpus: the rows of `incoming`
    * whose `textCol` does not appear anywhere in `corpus` — the daily-crawl
    * vs historical-corpus shape, where re-shuffling the 100-TB history per
    * increment is the thing to avoid.
    *
    * Scale shape: a bloom filter over the corpus digests is built by ONE
    * aggregation (Spark's mergeable `bloom_filter_agg`, map-side partials)
    * and reaches the incoming side as a scalar subquery — the same
    * mechanism as Spark's runtime join pruning. A `might_contain` miss is
    * DEFINITELY new, and that majority of incoming rows never enters a
    * join at all; only probable duplicates (bloom hits ≈ true dups + fpp)
    * anti-join the corpus digest set for exact verification. The result is
    * exact — the bloom only routes. Tune `expectedItems`/`numBits` to the
    * corpus cardinality (~8 bits/item ≈ 2% fpp).
    */
  def incrementalNew(incoming: DataFrame, corpus: DataFrame,
                     textCol: String = "text",
                     expectedItems: Long = 1000000L,
                     numBits: Long = 8000000L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf, logicalPlan}
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

    // 128-bit content key for the exact join. NULL text digests a sentinel
    // (md5(null) is null, which would satisfy NEITHER filter branch and
    // silently drop the row): null-text rows dedup against each other and
    // against null-text corpus rows, like any other content value.
    val digest = md5(coalesce(col(textCol), lit("\u0000null-text")))
    val bloomDf = corpus.select(columnOf(
      BloomFilterAggregate(
        expressionOf(xxhash64(digest)),
        CLit(expectedItems), CLit(numBits), 0, 0).toAggregateExpression()).as("bf"))
    // one shared scalar subquery: the bloom build plans once, executes
    // once, and broadcasts to every task (both filter branches reuse it) —
    // BloomFilterMightContain requires the scalar-subquery form by design
    val mightContain: Column = columnOf(BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        logicalPlan(bloomDf)),
      expressionOf(xxhash64(col("__d")))))

    val inc = incoming.withColumn("__d", digest)
    val definitelyNew = inc.filter(!mightContain)
    val verified = inc.filter(mightContain)
      .join(ScaleHints.gated(corpus.select(digest.as("__d")).distinct()),
            Seq("__d"), "left_anti")
    definitelyNew.unionByName(verified).drop("__d")
  }

  /** Snapshot reconciliation: classify every document id across two
    * corpus snapshots as `added` / `removed` / `changed` / `unchanged`
    * by content digest — the crawl-refresh bookkeeping step (what did
    * this month's dump actually change?) that feeds incremental
    * reprocessing: `changed ∪ added` is the work list, `removed` the
    * tombstone list.
    *
    * Ids are assumed unique per snapshot (duplicate ids would
    * cross-multiply through the join — run [[exactDedup]] first). NULL
    * text digests a sentinel, so a null-text row compares equal to
    * another null-text row, not to nothing.
    *
    * Scale shape: ONE full-outer join carrying only `(id, 16-byte md5)`
    * per side — document bytes never cross the shuffle, so the cost is
    * the id space, not the corpus size.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val digest = md5(coalesce(col(textCol), lit("\u0000null-text")))
    val a = before.select(col(idCol), digest.as("__da"))
    val b = after.select(col(idCol), digest.as("__db"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__da").isNull, lit("added"))
          .when(col("__db").isNull, lit("removed"))
          .when(col("__da") === col("__db"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Weighted sample WITHOUT replacement, exactly `k` rows, selection
    * probability ∝ `weightCol` — Efraimidis–Spirakis A-ES with the random
    * draw derandomized to a hash: u = (md5₃₂(key) + 1) / 2³², selection
    * key = ln(u) / w, keep the k largest. Deterministic,
    * partitioning-independent, cross-engine reproducible (the same two
    * IEEE ops from the same hash in any engine), and planned as
    * TakeOrderedAndProject — per-partition top-k, never a global sort, so
    * "give me 100k docs weighted by quality score from 100 TB" ships
    * k·P candidate rows, not the corpus.
    *
    * Rows with non-positive weight have probability 0 and are excluded
    * (E-S is undefined there). Ties (same key) break on `keyCol`.
    */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
                     keyCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val esKey = log((h + 1).cast("double") / lit(4294967296.0)) /
      col(weightCol)
    docs.filter(col(weightCol) > 0)
      .withColumn("__es_key", esKey)
      .orderBy(col("__es_key").desc, col(keyCol).asc)
      .limit(k)
      .drop("__es_key")
  }

  /** Per-stratum deterministic sampling by md5-hex threshold: a row is kept
    * iff the first 4 hex chars of md5(key) fall under its stratum's
    * threshold `floor(rate * 16^4)`. Pure map — deterministic,
    * partitioning-independent, reproducible across engines, zero shuffle.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double, stratumCol: String,
                       keyCol: String = "doc_id"): DataFrame = {
    def hex4(rate: Double): String = {
      require(rate >= 0 && rate <= 1, s"rate out of [0,1]: $rate")
      f"${math.floor(rate * 65536).toInt min 65535}%04x"
    }
    val cut = rates.foldLeft(when(lit(false), lit(""))) {
      case (acc, (stratum, rate)) =>
        acc.when(col(stratumCol) === stratum, lit(hex4(rate)))
    }.otherwise(lit(hex4(defaultRate)))
    docs.filter(substring(md5(col(keyCol).cast("string")), 1, 4) < cut)
  }

  /** Temperature-rebalanced source mixture (multilingual-LM style, e.g.
    * the τ-sampling of Conneau & Lample 2019): derive per-source sampling
    * cuts so the kept corpus approaches shares ∝ √(source token count)
    * (τ = 0.5 — up-weights tail sources, down-weights the head) under a
    * total token budget of `budgetFrac` × corpus tokens, then keep each
    * row iff its 16-bit md5 route falls under its source's cut. Returns
    * `docs` filtered, with an integer `cut` column attached (the exact
    * threshold — the auditable contract).
    *
    * Cross-engine determinism is engineered, not hoped for: τ is fixed at
    * 0.5 because √ is the one power IEEE 754 requires correctly rounded,
    * and the mixture weights are floored to INTEGERS (w = ⌊√tokens · 2²⁰⌋)
    * before the normalizing sum, so the sum is exact long arithmetic —
    * order-insensitive — instead of a float Σ whose rounding depends on
    * aggregation order. The remaining float ops per source (one division,
    * two multiplies by exactly-representable values, one division, one
    * floor·2¹⁶) are each correctly rounded on identical operands in any
    * engine. Scale: one aggregation over (source), a [[ScaleHints.gated]]
    * attach of the per-source cut table, and a pure-map filter — the
    * corpus itself is never re-shuffled.
    */
  def temperatureMixture(docs: DataFrame, budgetFrac: Double,
                         sourceCol: String = "source",
                         tokenCol: String = "n_tok",
                         keyCol: String = "doc_id"): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac out of (0,1]: $budgetFrac")
    require(isMultipleOfTwoPowMinus16(budgetFrac),
      s"budgetFrac must be a multiple of 1/65536 (k/2^16) so the budget " +
      s"multiply is exact in any engine: $budgetFrac")
    val per = docs.groupBy(sourceCol).agg(sum(tokenCol).as("__t"))
    val wtd = per.withColumn("__w",
      floor(sqrt(col("__t").cast("double")) * lit(1048576.0)).cast("long"))
    val tot = wtd.agg(sum("__w").as("__wt"), sum("__t").as("__tt"))
    val cuts = wtd.crossJoin(broadcast(tot))
      .withColumn("__f", least(lit(1.0),
        col("__w").cast("double") / col("__wt") *
          (lit(budgetFrac) * col("__tt")) / col("__t")))
      .withColumn("cut", floor(col("__f") * lit(65536.0)).cast("long"))
      .select(col(sourceCol), col("cut"))
    val route = conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("long")
    docs.join(ScaleHints.gated(cuts), sourceCol)
      .filter(route < col("cut"))
  }

  /** True iff `x` is an exact multiple of 2⁻¹⁶ (i.e. x = k/65536 for an
    * integer k) — NOT "few significant bits": 19661/65536 ≈ 0.30000305
    * passes. That is the precise contract [[temperatureMixture]] needs:
    * with budgetFrac = k/2¹⁶, `budgetFrac * tokenTotal` is exact IEEE
    * arithmetic whenever k · tokenTotal < 2⁵³ (≈ 1.4e11 total tokens at
    * k = 65536 — beyond that the product can round and the cross-engine
    * exactness guarantee lapses; callers at that scale should pre-scale
    * tokens to a coarser unit).
    */
  private def isMultipleOfTwoPowMinus16(x: Double): Boolean =
    (x * 65536.0) == math.floor(x * 65536.0)

  /** Exact repeated-substring scrubbing (the word-granular form of Lee et
    * al. 2022's suffix-array substring dedup): every token covered by a
    * word-`n`-gram occurring ≥ `minCount` times corpus-wide is removed,
    * and the document is reassembled from the surviving tokens. Unlike
    * document-level dedup this deletes the SPANS (boilerplate, licenses,
    * quoted chains) while keeping the novel text around them.
    *
    * Returns one row per input document: id, `n_tokens`, `n_scrubbed`,
    * `scrubbed_md5` (md5 of the reassembled text — fully-scrubbed docs
    * hash the empty string). Fully deterministic, so the whole operator
    * is DuckDB-oracle-checkable.
    *
    * Scale shape: the gram stream is a pure map off the token explode;
    * duplicate grams are one aggregation — `hashGrams = true` keys it
    * (and the occurrence attach) on xxhash64 over the n-token slice, so
    * the gram string is never built and 8 bytes per gram cross the
    * shuffle instead of the string, same plan shape. Unlike the
    * contamination audit (where a collision only adds an audit false
    * positive), a collision HERE would merge two distinct grams' counts
    * and could delete a unique span as "repeated" — so the default stays
    * the exact string tier and the hashed tier is the opt-in for corpora
    * where the shuffle width dominates that ~G²/2⁶⁵ risk (CurationOpsSpec
    * pins hashed ≡ string on the real corpus). Occurrence attach is a
    * [[ScaleHints.gated]] semi join; coverage is an ANTI join equi-keyed
    * on the doc id with a position-range residual (never a nested loop);
    * reassembly is one groupBy whose collect_list holds a single
    * document's surviving tokens.
    */
  def scrubRepeatedSpans(docs: DataFrame, n: Int = 8, minCount: Long = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // fanOut (self-canceling at scale): the gram explode runs at session
    // width instead of one task per read split, and the four branches off
    // `base` read ONE ReuseExchange instead of each re-tokenizing
    val base = ScaleHints.fanOut(
      docs.select(
        col(idCol), GraftText.whitespaceTokens(col(textCol)).as("__tk")),
      col(idCol))
    // posexplode supplies the span position either way; the hashed tier
    // maps gram i straight to xxhash64 of its n-token slice, so no gram
    // string is ever materialized on that tier
    val gramArr =
      if (hashGrams)
        expr(s"transform(sequence(0, size(__tk) - $n)," +
             s" i -> xxhash64(slice(__tk, i + 1, $n)))")
      else GraftText.wordNGrams(col("__tk"), n)
    val grams = base.filter(size(col("__tk")) >= n)
      .select(col(idCol), posexplode(gramArr).as(Seq("__gpos", "__gk")))
    val dup = grams.groupBy("__gk").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__gk")
    // occ (the duplicated-occurrence sliver — skinny (id, pos) rows) feeds
    // the coverage ANTI join AND the hit-id gate: a leaf, so the full
    // gram explode + dup aggregation above it runs ONCE, not once per
    // consumer
    val occ = grams.join(ScaleHints.gated(dup), "__gk")
      .select(col(idCol).as("__oid"), col("__gpos"))
      .localCheckpoint(eager = false)
    // Only documents actually HIT by a duplicated gram pay the token-level
    // pass — at corpus scale boilerplate-carrying docs are a sliver, so the
    // expensive explode+anti-join runs over that sliver, and every other
    // document short-circuits to a per-row md5 of its normalized tokens
    // (identical to what reassembly-of-everything would produce).
    val hitIds = occ.select(col("__oid").as(idCol)).distinct()
      .localCheckpoint(eager = false)
    val tk = base.join(ScaleHints.gated(hitIds), Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__pos", "__token")))
    val kept = tk.join(occ,
      col(idCol) === col("__oid") &&
        col("__pos").between(col("__gpos"), col("__gpos") + (n - 1)),
      "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__n_kept"),
           expr("""concat_ws(' ',
                     transform(array_sort(collect_list(struct(__pos, __token))),
                               s -> s.__token))""").as("__scrub"))
    val scrubbed = base.join(ScaleHints.gated(hitIds), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
              (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
                .as("n_scrubbed"),
              md5(coalesce(col("__scrub"), lit(""))).as("scrubbed_md5"))
    val untouched = base
      .join(ScaleHints.gated(hitIds), Seq(idCol), "left_anti")
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"),
              lit(0L).as("n_scrubbed"),
              md5(concat_ws(" ", col("__tk"))).as("scrubbed_md5"))
    scrubbed.unionAll(untouched)
  }

  /** Keep-first repeated-substring dedup — the other half of Lee et al.
    * 2022: where [[scrubRepeatedSpans]] deletes EVERY occurrence of a
    * repeated span (boilerplate removal — the content disappears from the
    * corpus), this keeps the CANONICAL occurrence and cuts only the
    * copies, so each repeated passage survives exactly once. Canonical =
    * the lexicographically-smallest `(id, position)` occurrence of each
    * duplicated word-`n`-gram (a `min(struct(id, pos))` aggregate — no
    * global sort); a token is dropped iff some NON-canonical occurrence
    * of a duplicated gram covers it. A span repeated inside one document
    * keeps its first copy; a span shared across documents survives only
    * in the smallest-id document — the later documents keep their novel
    * text around the cut.
    *
    * Returns one row per input document: id, `n_tokens`, `n_dropped`,
    * `kept_md5` (md5 of the reassembled surviving text). Fully
    * deterministic → DuckDB-oracle-checkable.
    *
    * Scale shape mirrors [[scrubRepeatedSpans]]: gram stream off the
    * token explode, ONE gram-keyed aggregation producing both the
    * duplicate gate and the canonical occurrence (count + struct-min in
    * the same partial-agg pass — no second shuffle, no window), gated
    * semi attach of the duplicated-gram set, equi-keyed ANTI join for
    * coverage, and only documents actually hit by a non-canonical
    * occurrence pay the token-level reassembly.
    */
  def dedupSubstringSpans(docs: DataFrame, n: Int = 8, minCount: Long = 2,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // same fanOut rationale as scrubRepeatedSpans (width + one shared
    // tokenize exchange across the branches off `base`)
    val base = ScaleHints.fanOut(
      docs.select(
        col(idCol), GraftText.whitespaceTokens(col(textCol)).as("__tk")),
      col(idCol))
    val grams = base.filter(size(col("__tk")) >= n)
      .select(col(idCol),
              posexplode(GraftText.wordNGrams(col("__tk"), n))
                .as(Seq("__gpos", "__gk")))
    // one pass: duplicate gate (count) + canonical occurrence (struct min)
    val dup = grams
      .groupBy("__gk")
      .agg(count(lit(1)).as("__c"),
           min(struct(col(idCol).as("d"), col("__gpos").as("p"))).as("__canon"))
      .filter(col("__c") >= minCount)
      .select(col("__gk"), col("__canon.d").as("__cd"), col("__canon.p").as("__cp"))
    // same sliver-leaf rationale as scrubRepeatedSpans: occ and the
    // hit-id gate each feed multiple consumers; one materialization of
    // the skinny sliver replaces a full gram-explode pass per consumer
    val occ = grams.join(ScaleHints.gated(dup), "__gk")
      .filter(!(col(idCol) === col("__cd") && col("__gpos") === col("__cp")))
      .select(col(idCol).as("__oid"), col("__gpos"))
      .localCheckpoint(eager = false)
    val hitIds = occ.select(col("__oid").as(idCol)).distinct()
      .localCheckpoint(eager = false)
    val tk = base.join(ScaleHints.gated(hitIds), Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__pos", "__token")))
    val kept = tk.join(occ,
      col(idCol) === col("__oid") &&
        col("__pos").between(col("__gpos"), col("__gpos") + (n - 1)),
      "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__n_kept"),
           expr("""concat_ws(' ',
                     transform(array_sort(collect_list(struct(__pos, __token))),
                               s -> s.__token))""").as("__kept"))
    val cut = base.join(ScaleHints.gated(hitIds), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
              (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
                .as("n_dropped"),
              md5(coalesce(col("__kept"), lit(""))).as("kept_md5"))
    val untouched = base
      .join(ScaleHints.gated(hitIds), Seq(idCol), "left_anti")
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"),
              lit(0L).as("n_dropped"),
              md5(concat_ws(" ", col("__tk"))).as("kept_md5"))
    cut.unionAll(untouched)
  }

  /** Gopher repetition rules (Rae et al. 2021, appendix A1.1) — the two
    * intra-document repetition signals `text_quality_rules` doesn't carry:
    * the character fraction of the single most frequent word 2-gram
    * (`top2_frac`, threshold 0.20) and the character fraction covered by
    * duplicated word 5-grams (`dup5_frac`, threshold 0.15, overlaps
    * counted once — coverage, not occurrence-sum). Both fractions are
    * over token characters (whitespace excluded); the most frequent
    * 2-gram breaks count ties on the lexicographically smallest gram, so
    * the whole operator is deterministic → DuckDB-oracle-checkable.
    *
    * Returns one row per document with ≥ 5 tokens: id, `n_tokens`,
    * `top2_frac`, `dup5_frac`, `keep`.
    *
    * Scale shape: everything is keyed by the document id or the
    * (id, gram) pair — two skinny aggregations off the gram explodes and
    * one coverage join; no corpus-global state at all, so the operator
    * partitions perfectly. Only documents that actually contain a
    * duplicated 5-gram pay the position-coverage join (the same
    * hit-sliver trick as [[scrubRepeatedSpans]]).
    */
  def gopherRepetitionStats(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            top2Max: Double = 0.20,
                            dup5Max: Double = 0.15): DataFrame = {
    val base = docs
      .select(col(idCol), GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 5)
    val stats = base.select(col(idCol), col("__tk"),
      size(col("__tk")).cast("long").as("n_tokens"),
      GraftText.tokenChars(col("__tk")).as("__chars"))
    // most frequent 2-gram: chars = gram length minus the internal space
    val g2 = base.select(col(idCol),
        explode(GraftText.wordNGrams(col("__tk"), 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
    val top2 = g2
      .withColumn("__rk", row_number().over(
        Window.partitionBy(idCol).orderBy(col("__c").desc, col("__g"))))
      .filter(col("__rk") === 1)
      .select(col(idCol),
              (col("__c") * (length(col("__g")) - 1)).cast("long").as("__t2c"))
    // duplicated 5-grams: coverage positions, overlaps counted once
    val g5 = base.filter(size(col("__tk")) >= 5)
      .select(col(idCol),
              posexplode(GraftText.wordNGrams(col("__tk"), 5))
                .as(Seq("__gpos", "__g")))
    val occ = g5
      .withColumn("__c", count(lit(1)).over(
        Window.partitionBy(col(idCol), col("__g"))))
      .filter(col("__c") >= 2)
      .select(col(idCol), col("__gpos"))
    // the coverage sliver feeds both the hit-id gate and the char-sum
    // join — a leaf, so the 5-gram explode + dup window runs once
    val cov = occ
      .select(col(idCol),
              explode(sequence(col("__gpos"), col("__gpos") + 4)).as("__pos"))
      .distinct()
      .localCheckpoint(eager = false)
    val hitIds = cov.select(col(idCol)).distinct()
    val tokChars = base.join(ScaleHints.gated(hitIds), Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__pos", "__token")))
      .join(cov, Seq(idCol, "__pos"))
      .groupBy(idCol)
      .agg(sum(length(col("__token"))).cast("long").as("__d5c"))
    stats
      .join(top2, Seq(idCol))
      .join(tokChars, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(col("__t2c").cast("double") / col("__chars"), 4).as("top2_frac"),
        round(coalesce(col("__d5c"), lit(0L)).cast("double") / col("__chars"), 4)
          .as("dup5_frac"))
      .withColumn("keep",
        col("top2_frac") <= top2Max && col("dup5_frac") <= dup5Max)
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents by
    * how target-like their hashed n-gram distribution is. Features are
    * word 2-grams hashed into `buckets` buckets with Spark's `xxhash64`;
    * the per-bucket importance ratio is the add-1-smoothed
    * `(ct+1)/(Nt+B) ÷ (cr+1)/(Nr+B)` (target vs raw bucket counts), and a
    * document's score is the sum over its gram occurrences of the
    * log-ratio. Every step is integer-exact so the whole operator is
    * cross-engine reproducible: the ratio is floored onto a 2²⁰
    * fixed-point grid with DECIMAL(38,0) products (the products reach
    * ~10²¹ at trillion-gram scale without overflow; the RESULTING ratio
    * `w` must stay below 2⁵³ so the subsequent `w << 10` log step fits a
    * signed 64-bit — enforced with a runtime `raise_error`, which only an
    * extreme target/raw imbalance of ≥ 2³³ against a near-empty target
    * could trip), and the log is the classic integer fixed-point log₂ —
    * `(ilog2(w) << 10) + ((w << 10) >> ilog2(w)) - 1024`, where
    * `ilog2` is the binary-string length minus one (no libm anywhere;
    * monotone in `w`, ~0.1% resolution).
    *
    * Returns one row per scoreable document: id, `n_grams`,
    * `dsir_score` (bigger = more target-like). Callers select by
    * top-fraction, threshold, or Gumbel-noise resampling.
    *
    * Scale shape: two bucket-keyed aggregations (target and raw counts —
    * B buckets regardless of corpus size), a broadcast of the B-row
    * weight table into the gram stream (`buckets` is thousands — always
    * a map-side join), and one id-keyed sum. The only wide shuffle is
    * the per-bucket count, whose key space is B, not the corpus.
    */
  def dsirScores(docs: DataFrame, isTarget: Column,
                 buckets: Int = DsirDefaultBuckets, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val weights = dsirWeights(docs, isTarget, buckets, textCol)
    dsirGramBuckets(docs, isTarget, buckets, idCol, textCol)
      .join(broadcast(weights), col("__b") === col("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum("lw").as("dsir_score"))
  }

  /** The TRAINED HALF of [[dsirScores]], exposed for train/apply splits:
    * the DENSE per-bucket fixed-point log-weight table `(bucket, lw)` —
    * one row for EVERY bucket in `[0, buckets)`, including buckets no
    * training gram hit (those get the smoothed prior
    * `1/(Nt+B) ÷ 1/(Nr+B)`), so an APPLY-side document hashing into a
    * bucket the training corpus never saw still scores deterministically
    * instead of dropping grams. Train once in batch over the reference
    * corpus, then apply anywhere — [[dsirScores]] joins it back
    * immediately (batch self-scoring), and
    * [[graft.streaming.CorpusStreams.dsirScoreStream]] folds it into a
    * constant array for stateless streaming scoring. The table is `B`
    * rows regardless of corpus size — always broadcastable, always
    * collectable.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  buckets: Int = DsirDefaultBuckets,
                  textCol: String = "text"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    // counts is B rows but sits atop a full corpus gram explode; a leaf,
    // so totals (and the dense join below) don't re-scan the corpus
    val counts =
      dsirGramBuckets(docs, isTarget, buckets, "__none", textCol,
                      needId = false)
        .groupBy("__b").agg(
          count(lit(1)).as("__cr"),
          sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
        .localCheckpoint(eager = false)
    val totals = counts.agg(
      (sum("__cr") + buckets).as("__nrb"), (sum("__ct") + buckets).as("__ntb"))
    // densify: every bucket scores, hit or not (the B-row range frame is
    // driver-free and the join key space is B, not the corpus)
    val dense = spark.range(buckets).select(col("id").as("bucket"))
      .join(counts, col("bucket") === col("__b"), "left")
      .select(col("bucket"),
              coalesce(col("__cr"), lit(0L)).as("__cr"),
              coalesce(col("__ct"), lit(0L)).as("__ct"))
    dense.crossJoin(broadcast(totals))
      .withColumn("__w", greatest(lit(1L), expr(
        s"""CAST((CAST(__ct + 1 AS DECIMAL(38,0)) * CAST(__nrb AS DECIMAL(38,0))
           |       * CAST(1048576 AS DECIMAL(38,0)))
           |     div (CAST(__cr + 1 AS DECIMAL(38,0)) * CAST(__ntb AS DECIMAL(38,0)))
           |     AS BIGINT)""".stripMargin)))
      // the `__w << 10` in the fixed-point log below wraps silently past
      // 2^53; fail loudly instead of diverging from the HUGEINT oracle
      .withColumn("__w", when(col("__w") >= lit(1L << 53),
        expr("CAST(raise_error('graft dsirWeights: fixed-point ratio >= 2^53 " +
             "(target corpus too small relative to raw for the 2^20 grid); " +
             "rebalance the corpora or rescale the grid') AS BIGINT)"))
        .otherwise(col("__w")))
      .withColumn("__il", (length(conv(col("__w"), 10, 2)) - 1).cast("long"))
      .withColumn("lw",
        expr("shiftleft(__w, 10) div shiftleft(1L, CAST(__il AS INT))") +
          col("__il") * 1024L - 1024L)
      .select(col("bucket"), col("lw"))
  }

  /** Shared gram→bucket stream of the DSIR pair: word 2-grams hashed
    * with the builtin `xxhash64` into `[0, buckets)`. `needId = false`
    * drops the id column (the weight-training side aggregates by bucket
    * only — no reason to carry ids through the explode). */
  private def dsirGramBuckets(docs: DataFrame, isTarget: Column,
                              buckets: Int, idCol: String, textCol: String,
                              needId: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val idCols = if (needId) Seq(col(idCol)) else Seq.empty
    docs
      .select(idCols :+ isTarget.as("__tgt")
                :+ GraftText.whitespaceTokens(col(textCol)).as("__tk"): _*)
      .filter(size(col("__tk")) >= 2)
      .select(idCols :+ col("__tgt")
                :+ explode(GraftText.wordNGrams(col("__tk"), 2)).as("__g"): _*)
      .select(idCols :+ col("__tgt")
                :+ pmod(xxhash64(col("__g")), lit(buckets.toLong)).as("__b"): _*)
  }
}
