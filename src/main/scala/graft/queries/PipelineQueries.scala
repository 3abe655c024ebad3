package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.implicits._

/** The end-to-end training-data curation pipeline — every stage of the
  * engine composed into one job, the shape this library exists for:
  *
  *   1. exact dedup (md5 digest, keep first)
  *   2. near-dup removal (MinHash-LSH pairs at J ≥ 0.8; drop the higher
  *      doc_id of each pair — the deterministic survivor rule)
  *   3. quality filter (token count ≥ 20, stopword ratio < 0.5)
  *   4. deterministic 50% downsample (md5-hex threshold routing — the
  *      cross-engine sampler; the custom Catalyst Bernoulli operator is
  *      exercised by `sample_bernoulli` and PipelineSpec)
  *   5. per-language corpus statistics
  *
  * Every stage is cross-engine deterministic, so the WHOLE pipeline is
  * DuckDB-oracled end to end (LSH = brute-force pairs w.h.p. — the same
  * argument `dedup_minhash_lsh`'s green oracle rests on); PipelineSpec
  * additionally pins stage-by-stage row accounting and determinism.
  *
  * Scale: stages 1-2 shuffle on digest / band keys, stages 3-4 are pure
  * maps, stage 5 is one partial/final aggregation.
  */
object PipelineQueries extends QueryModule {

  override def all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "pipeline_corpus_curation",
      (s, dir) => {
        GraftSession.ensureExtensions(s)
        import graft.operators.CorpusCuration
        val docs = t(s, dir, "documents")
        // 1. exact dedup (digest-keyed shuffle, keep lowest doc_id)
        val exactKept = CorpusCuration.exactDedup(docs)
        // 2. near-dup removal: drop the b-side of every LSH-verified pair.
        // The pairs are a checkpoint leaf: removeNearDups counts them and
        // then joins them, and they are mined once. The anti-join side is
        // gated on its EXACT count inside removeNearDups, so the join
        // strategy — hence the partitioning under the sampler below — is
        // fixed by the data, never by a Catalyst estimate.
        val deduped = CorpusCuration.removeNearDups(
          exactKept, DedupQueries.minhashLshPairs(s, dir))
        // 3. quality filter (pure map; keeps the tk column for stage 5)
        val quality = CorpusCuration.qualityFilter(deduped)
        // 4. deterministic 50% downsample — md5-hex threshold (cross-engine;
        // empty rates ⇒ one uniform threshold for every stratum)
        val sampled = CorpusCuration.stratifiedSample(
          quality, rates = Map.empty, defaultRate = 0.5, stratumCol = "lang")
        // 5. corpus statistics; avg as exact-int division (sum/count of
        // BIGINTs → identical nearest double in any engine, no round())
        sampled.groupBy("lang")
          .agg(count("*").as("n_docs"),
               sum(size(col("tk"))).as("n_tokens"))
          .withColumn("avg_tokens",
            col("n_tokens").cast("double") / col("n_docs"))
      },
      Some("""WITH kept AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rk
        |    FROM documents) WHERE rk = 1),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                                FOR i IN range(1, len(tk) - 1)]) s
        |  FROM toks WHERE len(tk) >= 3),
        |e AS (SELECT doc_id, unnest(s) g FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM e GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |losers AS (
        |  SELECT DISTINCT b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |survivors AS (
        |  SELECT k.doc_id, k.lang,
        |         regexp_split_to_array(trim(k.text), '\s+') tk
        |  FROM kept k WHERE k.doc_id NOT IN (SELECT b_id FROM losers)),
        |quality AS (
        |  SELECT doc_id, lang, tk FROM survivors
        |  WHERE len(tk) >= 20
        |    AND len(list_filter(tk, x -> list_contains(
        |          ['the','a','of','and','to','in'], x))) * 1.0 / len(tk) < 0.5),
        |sampled AS (
        |  SELECT * FROM quality
        |  WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '8000')
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avg_tokens
        |FROM sampled GROUP BY lang""".stripMargin)),

    // Stratified sampling with per-stratum rates (corpus rebalancing: keep
    // half of English, a fifth of everything else). Routing is a pure map —
    // a doc is kept iff the first 4 hex chars of md5(doc_id) fall under the
    // stratum's threshold, so the sample is deterministic, partitioning-
    // independent, reproducible across engines (md5 hex compares as a
    // string in both), and needs no shuffle at all; the output aggregation
    // is the only exchange. Thresholds: floor(rate * 16^4) in hex.
    GraftQuery(
      "sample_stratified",
      (s, dir) =>
        graft.operators.CorpusCuration.stratifiedSample(
            t(s, dir, "documents"),
            rates = Map("en" -> 0.5), defaultRate = 0.2, stratumCol = "lang")
          .groupBy("lang")
          .agg(count("*").as("n_kept"), min("doc_id").as("first_id"),
               sum("n_chars").as("kept_chars")),
      Some("""SELECT lang, count(*) AS n_kept, min(doc_id) AS first_id,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
        |      CASE WHEN lang = 'en' THEN '8000' ELSE '3333' END
        |GROUP BY lang""".stripMargin)),

    // Benchmark-contamination detection: train-split documents sharing any
    // word-8-gram with a test-split document — the leakage audit every
    // training corpus needs before a model ships. The split is md5-hex
    // threshold routing (cross-engine deterministic, same as
    // sample_stratified); the overlap test is a semi join on the gram.
    // Scale: the gram explode is a pure map; the semi join shuffles on
    // xxhash64 of the n-token slice — the gram string is never even BUILT
    // on the Spark side, and 8-byte bigint keys, not ~50-byte strings,
    // cross the distinct Exchange and the broadcast (the default hashed
    // tier of contaminatedDocs). The DuckDB oracle joins on the string
    // gram; the OUTPUT is identical because the gram key never reaches the
    // result (64-bit collisions aside, which only add a false positive).
    GraftQuery(
      "pipeline_contamination",
      (s, dir) => {
        val route = substring(md5(col("doc_id").cast("string")), 1, 4)
        val docs = t(s, dir, "documents").withColumn("route", route)
        graft.operators.CorpusCuration.contaminatedDocs(
            train = docs.filter(col("route") < "cccc"),
            test = docs.filter(col("route") >= "cccc"), n = 8)
          .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
      },
      Some("""WITH tk AS (
        |  SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 4) route,
        |         regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, route,
        |    unnest(list_distinct([array_to_string(w[i:i+7], ' ')
        |                          FOR i IN range(1, len(w) - 6)])) gram
        |  FROM tk WHERE len(w) >= 8),
        |test_grams AS (SELECT DISTINCT gram FROM g WHERE route >= 'cccc'),
        |contaminated AS (
        |  SELECT DISTINCT g.doc_id, g.lang FROM g
        |  WHERE route < 'cccc' AND gram IN (SELECT gram FROM test_grams))
        |SELECT lang, count(*) AS n_contaminated
        |FROM contaminated GROUP BY lang""".stripMargin)),

    // FUZZY decontamination: train docs that are NEAR-duplicates of a
    // test doc at word-3-gram Jaccard ≥ 0.7 — the leakage the exact
    // 8-gram gate above cannot see (a lightly edited benchmark document
    // shares no verbatim 8-gram yet still leaks). Bipartite MinHash-LSH
    // ([[CorpusCuration.fuzzyContaminatedDocs]]): candidates only where a
    // train and a test doc collide in a band, so the volume is driven by
    // the small eval side. Recall at these parameters makes the
    // brute-force oracle exact: P(band miss | J ≥ 0.7) ≈ 2e-19, sig-agree
    // prefilter miss < 1e-6. Same md5-route split as
    // `pipeline_contamination`.
    GraftQuery(
      "pipeline_decontaminate_fuzzy",
      (s, dir) => {
        val route = substring(md5(col("doc_id").cast("string")), 1, 4)
        val docs = t(s, dir, "documents").withColumn("route", route)
        graft.operators.CorpusCuration.fuzzyContaminatedDocs(
            train = docs.filter(col("route") < "cccc"),
            test = docs.filter(col("route") >= "cccc"),
            threshold = 0.7, shingleN = 3)
          .groupBy("train_id")
          .agg(count(lit(1)).as("n_test_matches"), max("jaccard").as("max_j"))
      },
      Some("""WITH tk AS (
        |  SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 4) route,
        |         regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, route,
        |         list_distinct([array_to_string(w[i:i+2], ' ')
        |                        FOR i IN range(1, len(w) - 1)]) s
        |  FROM tk WHERE len(w) >= 3),
        |e AS (SELECT doc_id, route, unnest(s) g FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM e GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id train_id, b.doc_id test_id, count(*) i
        |  FROM e a JOIN e b ON a.g = b.g
        |  WHERE a.route < 'cccc' AND b.route >= 'cccc'
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT train_id, test_id,
        |         round(i * 1.0 / (sa.n + sb.n - i), 4) jac
        |  FROM pair
        |  JOIN sz sa ON sa.doc_id = train_id
        |  JOIN sz sb ON sb.doc_id = test_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7)
        |SELECT train_id, count(*) AS n_test_matches, max(jac) AS max_j
        |FROM j GROUP BY train_id""".stripMargin)),

    // Fixed-SIZE uniform sample: exactly n rows, chosen as the n smallest
    // md5(key) values — deterministic, engine-independent, and planned as
    // TakeOrderedAndProject (per-partition top-n + merge of n·P candidates),
    // NEVER a global sort. The scale contrast to sample_bernoulli's
    // fixed-RATE sampling: "give me exactly 100k docs from 100 TB" is a
    // top-k on a hash, not a shuffle-the-world orderBy.
    GraftQuery(
      "sample_fixed_size",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
                  md5(col("doc_id").cast("string")).as("r"))
          .orderBy("r").limit(100)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_id")),
      Some("""WITH s AS (
        |  SELECT doc_id, lang FROM documents
        |  ORDER BY md5(doc_id::VARCHAR) LIMIT 100)
        |SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id
        |FROM s GROUP BY lang""".stripMargin)),

    // Weighted sample without replacement (probability ∝ doc length):
    // Efraimidis–Spirakis with the draw derandomized to md5 —
    // [[graft.operators.CorpusCuration.weightedSample]]. Same
    // TakeOrderedAndProject scale shape as sample_fixed_size; the
    // selection KEY is fractional but stays internal — output columns are
    // the selected rows' integers.
    GraftQuery(
      "sample_weighted",
      (s, dir) =>
        graft.operators.CorpusCuration.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          k = 25, weightCol = "n_chars"),
      Some("""WITH s AS (
        |  SELECT doc_id, n_chars,
        |    ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
        |       / 4294967296.0) / n_chars AS k
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars FROM s ORDER BY k DESC, doc_id LIMIT 25""".stripMargin)),

    // Hash-routed train/test split: per-key determinism prevents
    // near-duplicate leakage across the boundary. Routed on md5-hex
    // (splitByHexHash) so the split is cross-engine reproducible and the
    // driver gets a full hash oracle; floor(0.8·16⁴) = 0xcccc.
    // PipelineSpec asserts disjointness/completeness/determinism for both
    // this and the xxhash64 variant (splitByHash).
    GraftQuery(
      "pipeline_train_test_split",
      (s, dir) => {
        val (train, test) =
          t(s, dir, "documents").splitByHexHash("doc_id", 0.8)
        train.select(lit("train").as("split"), col("lang"))
          .unionAll(test.select(lit("test").as("split"), col("lang")))
          .groupBy("split", "lang")
          .agg(count("*").as("n"))
      },
      Some("""SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc'
        |            THEN 'train' ELSE 'test' END AS split,
        |       lang, count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Sequence packing: assign docs to fixed-capacity (512-token) context
    // windows without splitting docs, sharded by language so each shard
    // packs independently — [[graft.operators.TrainingPack.packBySize]].
    // pack_id = floor(exclusive-cumsum(tokens) / 512) in doc_id order:
    // pure window cumsum, deterministic, cross-engine (full hash oracle).
    // Scale: ONE shuffle on the shard key; never a global sort.
    GraftQuery(
      "pipeline_sequence_pack",
      (s, dir) => {
        import graft.operators.TrainingPack
        val counted = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
                  size(graft.operators.GraftText.whitespaceTokens(col("text")))
                    .cast("long").as("n_tokens"))
        TrainingPack.packBySize(counted, tokenCol = "n_tokens",
          orderCol = "doc_id", maxTokens = 512L, shardCols = Seq("lang"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |         - n_tokens AS BIGINT) AS stream_offset
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, stream_offset,
        |  CAST(floor(stream_offset / 512.0) AS BIGINT) AS pack_id
        |FROM o""".stripMargin)),

    // Pack-level utilization audit over the same packing: docs and tokens
    // per (lang, pack) — how full the context windows run. A pack may
    // exceed 512 by its last doc's overflow (boundary-preserving packing).
    GraftQuery(
      "pipeline_pack_summary",
      (s, dir) => {
        import graft.operators.TrainingPack
        val counted = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
                  size(graft.operators.GraftText.whitespaceTokens(col("text")))
                    .cast("long").as("n_tokens"))
        TrainingPack.packSummary(
          TrainingPack.packBySize(counted, tokenCol = "n_tokens",
            orderCol = "doc_id", maxTokens = 512L, shardCols = Seq("lang")),
          tokenCol = "n_tokens", shardCols = Seq("lang"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |         - n_tokens AS BIGINT) AS stream_offset
        |  FROM d)
        |SELECT lang, CAST(floor(stream_offset / 512.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM o GROUP BY 1, 2""".stripMargin)),

    // Temperature-rebalanced data mixture (τ = 0.5, 50% token budget):
    // per-source sampling cuts ∝ √tokens normalized under the budget, rows
    // kept by 16-bit md5 routing — the data-mixing stage every
    // multilingual/multi-source training corpus runs
    // ([[graft.operators.CorpusCuration.temperatureMixture]]; determinism
    // engineering — integer mixture weights, √ correctly rounded — is
    // documented there). Output is per-source integers only: the exact
    // cut (the auditable contract), kept docs, kept tokens.
    GraftQuery(
      "pipeline_data_mixture",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(
          col("doc_id"), col("source"),
          size(graft.operators.GraftText.whitespaceTokens(col("text")))
            .cast("long").as("n_tok"))
        graft.operators.CorpusCuration
          .temperatureMixture(docs, budgetFrac = 0.5)
          .groupBy("source", "cut")
          .agg(count(lit(1)).as("n_docs_kept"),
               sum("n_tok").as("n_tokens_kept"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) t FROM d GROUP BY 1),
        |w AS (
        |  SELECT source, t,
        |    CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) w
        |  FROM per),
        |tot AS (
        |  SELECT CAST(sum(w) AS BIGINT) wt, CAST(sum(t) AS BIGINT) tt
        |  FROM w),
        |cuts AS (
        |  SELECT source,
        |    CAST(floor(least(1.0, CAST(w AS DOUBLE) / wt * (0.5 * tt) / t)
        |               * 65536.0) AS BIGINT) AS cut
        |  FROM w, tot),
        |kept AS (
        |  SELECT d.source, cut, doc_id, n_tok
        |  FROM d JOIN cuts USING (source)
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT < cut)
        |SELECT source, cut, count(*) AS n_docs_kept,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept
        |FROM kept GROUP BY 1, 2""".stripMargin)),

    // Curriculum binning: per-language ntile(4) difficulty tiers over a
    // PURE-INTEGER complexity score (micro-scaled mean word length =
    // non-space chars × 1e6 DIV tokens — integer division, zero float ops
    // anywhere, so tier boundaries cannot drift across engines), doc_id
    // breaking score ties. Length/complexity curricula order training
    // streams easy→hard; the tier is the phase assignment. Scale: the
    // per-lang sort is the operator's inherent cost (a curriculum IS an
    // ordering); everything after the window is one aggregation.
    GraftQuery(
      "pipeline_curriculum",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          size(graft.operators.GraftText.whitespaceTokens(col("text")))
            .cast("long").as("n_tok"),
          expr("""length(regexp_replace(text, '\\s+', '')) * 1000000L
                  DIV size(split(trim(text), '\\s+'))""").as("score"))
        scored
          .withColumn("tier", ntile(4).over(
            Window.partitionBy("lang").orderBy("score", "doc_id"))
            .cast("long"))
          .groupBy("lang", "tier")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
               min("score").as("min_score"), max("score").as("max_score"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok,
        |    length(regexp_replace(text, '\s+', '', 'g')) * 1000000
        |      // len(regexp_split_to_array(trim(text), '\s+')) AS score
        |  FROM documents),
        |tiers AS (
        |  SELECT doc_id, lang, n_tok, score,
        |    CAST(ntile(4) OVER (PARTITION BY lang ORDER BY score, doc_id)
        |         AS BIGINT) AS tier
        |  FROM d)
        |SELECT lang, tier, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM tiers GROUP BY 1, 2""".stripMargin)),

    // Fixed-size PER-GROUP sample: exactly 10 docs per language, the 10
    // smallest md5(doc_id) in each — balanced eval/calibration sets from
    // arbitrarily skewed corpora. Deterministic and engine-independent
    // like sample_fixed_size, but per stratum; Spark plans the rank ≤ 10
    // filter as WindowGroupLimit (per-partition partial top-k before the
    // exchange), so ~10 rows per partition per group ship — the grouped
    // analog of TakeOrderedAndProject.
    GraftQuery(
      "sample_per_group",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy("r", "doc_id")
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
                  md5(col("doc_id").cast("string")).as("r"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("lang"), col("rnk"), col("doc_id"))
      },
      Some("""WITH s AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rnk
        |  FROM documents)
        |SELECT lang, rnk, doc_id FROM s WHERE rnk <= 10""".stripMargin)),

    // Deterministic per-epoch corpus shuffling: each training epoch orders
    // the corpus by md5(epoch:doc_id) — a different, reproducible,
    // engine-independent permutation per epoch (the "reshuffle every
    // epoch" stage of a training run, auditable and resumable because the
    // order is a pure function of (epoch, id), not of RNG state). Three
    // epochs cross-joined in one plan; each epoch's rank is one window.
    // At 100 TB per-epoch order materializes as a sort key column the
    // shard writer sorts by — never a global collect.
    GraftQuery(
      "pipeline_epoch_shuffle",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val epochs = s.range(0, 3).select(col("id").as("epoch"))
        val w = Window.partitionBy("epoch").orderBy("r", "doc_id")
        t(s, dir, "documents").select(col("doc_id"))
          .crossJoin(broadcast(epochs))
          .withColumn("r",
            md5(concat_ws(":", col("epoch"), col("doc_id"))))
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("epoch"), col("rank"), col("doc_id"))
      },
      Some("""WITH e AS (SELECT unnest(range(0, 3)) AS epoch),
        |r AS (
        |  SELECT epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch
        |      ORDER BY md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
        |               doc_id) AS rank
        |  FROM documents, e)
        |SELECT epoch, rank, doc_id FROM r""".stripMargin)),

    // Corpus snapshot upsert (MERGE-INTO semantics over plain tables):
    // next = incoming wins on id conflict, history rows otherwise — the
    // versioned-corpus update step, as one full-outer coalesce. Emits the
    // per-origin accounting (updated / inserted / carried) a release note
    // needs. One shuffle on the id; both sides stream through it once.
    GraftQuery(
      "pipeline_corpus_upsert",
      (s, dir) => {
        val route = substring(md5(col("doc_id").cast("string")), 1, 4)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), route.as("r"))
        val history = docs.filter(col("r") < "aaaa").drop("r")
        val incoming = docs.filter(col("r") >= "8000").drop("r")
          .withColumn("n_chars", col("n_chars") + 1000000)
        val h = history.select(col("doc_id"), col("lang").as("h_lang"),
                               col("n_chars").as("h_chars"))
        val i = incoming.select(col("doc_id"), col("lang").as("i_lang"),
                                col("n_chars").as("i_chars"))
        h.join(i, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
                  coalesce(col("i_lang"), col("h_lang")).as("lang"),
                  coalesce(col("i_chars"), col("h_chars")).as("n_chars"),
                  when(col("i_lang").isNotNull && col("h_lang").isNotNull,
                       "updated")
                    .when(col("i_lang").isNotNull, "inserted")
                    .otherwise("carried").as("origin"))
          .groupBy("origin")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
               min("doc_id").as("first_id"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    substr(md5(doc_id::VARCHAR), 1, 4) r
        |  FROM documents),
        |h AS (SELECT doc_id, lang h_lang, n_chars h_chars
        |      FROM d WHERE r < 'aaaa'),
        |i AS (SELECT doc_id, lang i_lang, n_chars + 1000000 i_chars
        |      FROM d WHERE r >= '8000'),
        |m AS (
        |  SELECT doc_id,
        |    coalesce(i_chars, h_chars) n_chars,
        |    CASE WHEN i_lang IS NOT NULL AND h_lang IS NOT NULL
        |           THEN 'updated'
        |         WHEN i_lang IS NOT NULL THEN 'inserted'
        |         ELSE 'carried' END AS origin
        |  FROM h FULL OUTER JOIN i USING (doc_id))
        |SELECT origin, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS first_id
        |FROM m GROUP BY origin""".stripMargin)),

    // Per-source corpus report card — the audit summary a corpus release
    // ships: docs, tokens, exact-duplicate docs (digest seen >1 across the
    // WHOLE corpus), corpus-level stopword mass. The only fractional cell
    // is ONE division of two exact longs (total hits / total tokens) —
    // identical nearest-double in any engine, no float Σ anywhere.
    // Scale: a digest aggregation + a gated semi attach + one per-source
    // aggregation.
    GraftQuery(
      "pipeline_quality_report",
      (s, dir) => {
        import graft.operators.{GraftText, ScaleHints}
        val d = t(s, dir, "documents").select(
          col("source"), col("doc_id"),
          md5(col("text")).as("digest"),
          GraftText.whitespaceTokens(col("text")).as("tk"))
        val dupDigests = d.groupBy("digest")
          .agg(count(lit(1)).as("c")).filter(col("c") > 1).select("digest")
        val flagged = d.join(ScaleHints.gated(dupDigests), Seq("digest"),
                             "left_semi")
          .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
        d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(size(col("tk"))).as("n_tokens"),
               sum(GraftText.markerScore(col("tk"), GraftText.StopwordsEn))
                 .as("stop_hits"))
          .join(flagged, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
                  coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
                  col("n_tokens"), col("stop_hits"),
                  (col("stop_hits").cast("double") / col("n_tokens"))
                    .as("stop_ratio"))
      },
      Some("""WITH d AS (
        |  SELECT source, doc_id, md5(text) digest,
        |    regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents),
        |dup AS (SELECT digest FROM d GROUP BY digest HAVING count(*) > 1),
        |f AS (
        |  SELECT source, count(*) n_dup_docs FROM d
        |  WHERE digest IN (SELECT digest FROM dup) GROUP BY source),
        |st AS (
        |  SELECT source, count(*) n_docs,
        |    CAST(sum(len(tk)) AS BIGINT) n_tokens,
        |    CAST(sum(len(list_filter(tk,
        |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))) AS BIGINT)
        |      stop_hits
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, coalesce(n_dup_docs, 0) AS n_dup_docs,
        |  n_tokens, stop_hits,
        |  CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio
        |FROM st LEFT JOIN f USING (source)""".stripMargin)),

    // DSIR data selection (Xie et al. 2023): score every document by how
    // target-like (here: lang='en') its hashed word-2-gram distribution
    // is, then take the top 50 by score — the deterministic core of
    // importance resampling (the paper adds Gumbel noise on top; callers
    // can too). Fully integer-exact (fixed-point ratio grid + integer
    // log2 — see CorpusCuration.dsirScores), so the oracle replays it
    // bit-for-bit, including Spark's xxhash64 bucket assignment via the
    // XxHash64Sql HUGEINT chain at the builtin seed 42.
    GraftQuery(
      "pipeline_dsir_select",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = graft.operators.CorpusCuration.dsirScores(
          t(s, dir, "documents"), isTarget = col("lang") === "en",
          buckets = graft.operators.CorpusCuration.DsirDefaultBuckets)
        scored
          .orderBy(col("dsir_score").desc, col("doc_id")).limit(50)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("dsir_score").desc, col("doc_id"))).cast("long"))
          .select(col("rank"), col("doc_id"), col("n_grams"),
                  col("dsir_score"))
      },
      Some(DsirOracle.sql)),

    // Naive Bayes language classification (the fastText-style classifier
    // gate of curation pipelines — CCNet / GPT-3 quality-filter pattern):
    // train a multinomial NB on the 80% split (doc_id % 5 != 0) with
    // `lang` as the label, classify the held-out 20%, report prediction +
    // correctness. Fully integer-exact (2^20 fixed-point likelihood grid
    // + integer log2 + deterministic argmax tie-break), so the oracle
    // replays training AND inference bit-for-bit, xxhash64 buckets
    // included. See GraftClassifier for the scale shape (C×B model,
    // broadcast apply).
    GraftQuery(
      "pipeline_nb_classify",
      (s, dir) => {
        import graft.operators.GraftClassifier
        val docs = t(s, dir, "documents")
        val model = GraftClassifier.nbTrain(
          docs.filter(col("doc_id") % 5 =!= 0), labelCol = "lang")
        GraftClassifier.nbClassify(
            docs.filter(col("doc_id") % 5 === 0), model)
          .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
                "doc_id")
          .select(col("doc_id"), col("n_grams"), col("pred_label"),
                  col("nb_score"),
                  (col("pred_label") === col("lang")).as("is_correct"))
      },
      Some(NbOracle.sql)),

    // Corpus snapshot reconciliation (crawl-refresh bookkeeping): diff
    // two snapshots by content digest into added/removed/changed/
    // unchanged — `changed ∪ added` is the incremental-reprocessing work
    // list. The "after" snapshot is manufactured deterministically from
    // the same table (drop %13, edit %7, add %17 under shifted ids) so
    // both engines diff identical inputs. The added-row id shift is the
    // IN-PLAN max(doc_id)+1 (the twinAugmented convention, ADVICE r5/r10):
    // a fixed offset would silently alias real ids once doc_id reaches it
    // at larger scale factors, violating snapshotDiff's unique-id-per-
    // snapshot precondition. Scale: the join carries only (id, md5) —
    // document bytes never shuffle.
    GraftQuery(
      "pipeline_corpus_diff",
      (s, dir) => {
        import graft.operators.CorpusCuration
        val before = t(s, dir, "documents")
        val off = broadcast(
          before.agg((max("doc_id") + 1).cast("long").as("__off")))
        val after = before
          .filter(col("doc_id") % 13 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")))
          .unionByName(
            before.filter(col("doc_id") % 17 === 0)
              .crossJoin(off)
              .select((col("doc_id") + col("__off")).as("doc_id"),
                      concat(lit("fresh crawl "), col("text")).as("text")),
            allowMissingColumns = true)
        CorpusCuration.snapshotDiff(before, after)
      },
      Some("""WITH before AS (SELECT doc_id, text FROM documents),
        |after AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM before WHERE doc_id % 13 != 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM before),
        |         'fresh crawl ' || text
        |  FROM before WHERE doc_id % 17 = 0),
        |a AS (SELECT doc_id, md5(text) da FROM before),
        |b AS (SELECT doc_id, md5(text) db FROM after)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN da = db THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin)),
  )
}

/** DuckDB replay of [[graft.operators.GraftClassifier]] train + apply:
  * whitespace unigrams hashed with Spark's builtin `xxhash64` (the
  * [[XxHash64Sql]] chain at seed 42), per-(label, bucket) counts on the
  * 80% split, add-1-smoothed likelihoods and document-frequency priors
  * floored onto the 2²⁰ fixed-point grid in HUGEINT, the integer
  * fixed-point log₂ via binary string length, per-(doc, label) score
  * sums over the held-out 20%, and the (score desc, label asc) argmax.
  * ASCII guarded at the document level like the other chain consumers.
  */
private[queries] object NbOracle {
  private val B: Int = graft.operators.GraftClassifier.NbDefaultBuckets
  val sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, doc_id % 5 != 0 AS is_train,
      |    CASE WHEN octet_length(encode(text)) != length(text)
      |         THEN error('pipeline_nb_classify oracle: non-ASCII text for '
      |                    || 'doc_id ' || doc_id || ' — the xxh64 replay '
      |                    || 'addresses BYTES via unicode()')
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, lang, is_train, unnest(w) AS g
      |  FROM docs WHERE len(w) >= 1),
      |grf AS (SELECT * FROM gr WHERE length(g) > 0),
      |nb_in AS (SELECT DISTINCT g AS t FROM grf),
      |""".stripMargin +
    XxHash64Sql.chain("nb_", "42", "pipeline_nb_classify oracle") +
    s"""bk AS (SELECT t, CAST(h % $B AS BIGINT) AS b FROM nb_ht),
      |gb AS (SELECT grf.doc_id, grf.lang, grf.is_train, bk.b
      |       FROM grf JOIN bk ON bk.t = grf.g),
      |cnt AS (
      |  SELECT lang, b, count(*) AS n
      |  FROM gb WHERE is_train GROUP BY lang, b),
      |nc AS (SELECT lang, sum(n) AS nc FROM cnt GROUP BY lang),
      |dc AS (
      |  SELECT lang, count(*) AS dc FROM docs
      |  WHERE is_train AND len(w) >= 1 GROUP BY lang),
      |d AS (SELECT CAST(sum(dc) AS HUGEINT) AS d FROM dc),
      |pri AS (
      |  SELECT lang, greatest(1, (CAST(dc AS HUGEINT) * 1048576) // d) AS wp
      |  FROM dc, d),
      |lp AS (
      |  SELECT lang,
      |    CAST((wp * 1024)
      |           // CAST(power(2, length(printf('%b', CAST(wp AS BIGINT))) - 1)
      |                AS HUGEINT)
      |         + (length(printf('%b', CAST(wp AS BIGINT))) - 1) * 1024
      |         - 1024 AS BIGINT) AS lp
      |  FROM pri),
      |dense AS (
      |  SELECT r.b, nc.lang, coalesce(cnt.n, 0) AS n, nc.nc
      |  FROM (SELECT unnest(range(0, $B)) AS b) r
      |  CROSS JOIN nc
      |  LEFT JOIN cnt ON cnt.b = r.b AND cnt.lang = nc.lang),
      |wt AS (
      |  SELECT b, lang,
      |    greatest(1, (CAST(n + 1 AS HUGEINT) * 1048576)
      |                // CAST(nc + $B AS HUGEINT)) AS w
      |  FROM dense),
      |lw AS (
      |  SELECT b, lang,
      |    CAST((w * 1024)
      |           // CAST(power(2, length(printf('%b', CAST(w AS BIGINT))) - 1)
      |                AS HUGEINT)
      |         + (length(printf('%b', CAST(w AS BIGINT))) - 1) * 1024
      |         - 1024 AS BIGINT) AS lw
      |  FROM wt),
      |test AS (SELECT doc_id, lang AS actual, b
      |         FROM gb WHERE NOT is_train),
      |sc AS (
      |  SELECT t.doc_id, any_value(t.actual) AS actual, lw.lang,
      |    count(*) AS n_grams, sum(lw.lw) AS s
      |  FROM test t JOIN lw ON lw.b = t.b
      |  GROUP BY t.doc_id, lw.lang),
      |tot AS (
      |  SELECT sc.doc_id, sc.actual, sc.lang, sc.n_grams,
      |    sc.s + lp.lp AS score,
      |    row_number() OVER (PARTITION BY sc.doc_id
      |                       ORDER BY sc.s + lp.lp DESC, sc.lang) AS rnk
      |  FROM sc JOIN lp ON lp.lang = sc.lang)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  lang AS pred_label, CAST(score AS BIGINT) AS nb_score,
      |  lang = actual AS is_correct
      |FROM tot WHERE rnk = 1""".stripMargin
}

/** DuckDB replay of [[graft.operators.CorpusCuration.dsirScores]] +
  * the top-50 selection: distinct word 2-grams hashed with Spark's
  * builtin `xxhash64` (the [[XxHash64Sql]] chain at seed 42 — the
  * builtin's fixed seed), bucket counts, the add-1-smoothed importance
  * ratio floored onto the 2²⁰ fixed-point grid in HUGEINT (mirroring the
  * DECIMAL(38,0) products), the integer fixed-point log₂ via binary
  * string length, and the per-document occurrence sum. ASCII guarded at
  * the document level like the other chain consumers.
  */
private[queries] object DsirOracle {
  /** Bucket count interpolated from the SAME constant the Spark side
    * uses (power-of-two required — see [[graft.operators.CorpusCuration
    * .DsirDefaultBuckets]] for the unsigned-`%` vs `pmod` argument). */
  private val B: Int = graft.operators.CorpusCuration.DsirDefaultBuckets
  val sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN octet_length(encode(text)) != length(text)
      |         THEN error('pipeline_dsir_select oracle: non-ASCII text for '
      |                    || 'doc_id ' || doc_id || ' — the xxh64 replay '
      |                    || 'addresses BYTES via unicode()')
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |    unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS g
      |  FROM docs WHERE len(w) >= 2),
      |ds_in AS (SELECT DISTINCT g AS t FROM gr),
      |""".stripMargin +
    XxHash64Sql.chain("ds_", "42", "pipeline_dsir_select oracle") +
    s"""bk AS (SELECT t, CAST(h % $B AS BIGINT) AS b FROM ds_ht),
      |gb AS (SELECT gr.doc_id, gr.tgt, bk.b FROM gr JOIN bk ON bk.t = gr.g),
      |cnt AS (
      |  SELECT b, count(*) AS cr, count(*) FILTER (WHERE tgt) AS ct
      |  FROM gb GROUP BY b),
      |tot AS (
      |  SELECT CAST(sum(cr) + $B AS HUGEINT) AS nrb,
      |    CAST(sum(ct) + $B AS HUGEINT) AS ntb
      |  FROM cnt),
      |wt AS (
      |  SELECT b,
      |    greatest(1, (CAST(ct + 1 AS HUGEINT) * nrb * 1048576)
      |                // (CAST(cr + 1 AS HUGEINT) * ntb)) AS w
      |  FROM cnt, tot),
      |lg AS (
      |  SELECT b, w, length(printf('%b', CAST(w AS BIGINT))) - 1 AS il
      |  FROM wt),
      |lw AS (
      |  SELECT b,
      |    CAST((w * 1024) // CAST(power(2, il) AS HUGEINT)
      |         + il * 1024 - 1024 AS BIGINT) AS lw
      |  FROM lg),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_grams, sum(lw) AS dsir_score
      |  FROM gb JOIN lw USING (b) GROUP BY doc_id),
      |r AS (
      |  SELECT row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rank,
      |    doc_id, n_grams, dsir_score
      |  FROM sc)
      |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(dsir_score AS BIGINT) AS dsir_score
      |FROM r WHERE rank <= 50""".stripMargin
}
