package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{GraftText, ImpactIndex, ImpactObjectStore}
import GraftQuery.reusedStore

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language-ID heuristic, quality scoring,
  * token counting, document fingerprinting). All pure `functions._` /
  * higher-order-function expressions: codegen-friendly, no UDFs, fully
  * parallel per-row with zero shuffle (the only shuffles below are final
  * small aggregations).
  *
  * Every query here is deterministic and ANSI-expressible → DuckDB oracle.
  */
object TextQueries extends QueryModule {

  /** The exact-BM25 replay shared by `text_bm25_topk` (from text),
    * `text_bm25_stored_manifest` (from the at-rest impact index) and
    * `text_bm25_pruned` (MaxScore essential-list pruning): all three
    * must produce the identical ranking — the store must preserve every
    * addend exactly, and the pruning must be invisible to correctness —
    * so ONE oracle certifies the whole ladder (the
    * `ann_ivf_stored_manifest` / `dedup_editdist_pairs` precedents). */
  private val bm25TopKOracleSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) n, avg(len(tk)) avgdl FROM d),
      |tf AS (
      |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
      |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
      |  WHERE term IN ('spark', 'vector', 'join') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
      |s AS (
      |  SELECT doc_id,
      |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
      |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |          * 1000000.0) AS BIGINT)) score,
      |    count(*) n_terms_hit
      |  FROM tf JOIN df USING (term), stats GROUP BY doc_id)
      |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
      |  doc_id, n_terms_hit
      |FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** The at-rest BM25 impact store over `documents`, built once and
    * reused ([[GraftQuery.reusedStore]]) by every stored-lexical row. */
  private[graft] def impactStore(s: org.apache.spark.sql.SparkSession,
                                 dir: String): ImpactIndex.StoredImpacts =
    ImpactObjectStore.read(s, reusedStore(s, dir, "impact_index_manifest",
                                          ImpactObjectStore)(
      ImpactObjectStore.rebuild(t(s, dir, "documents"), _)))

  /** The ZIPF-HEAD corpus for the MaxScore payoff rows (VERDICT r14
    * missing #3): the synthetic documents table has a nearly FLAT df
    * distribution (every vocabulary term sits in ~78% of docs — no
    * stopword head, no rare tail), so essential-list pruning has nothing
    * to prune on the raw fixture. Deterministic augmentation gives it
    * the realistic shape: EVERY doc gains the stopword ' the'
    * (vocabulary head, df = N, idf ≈ 0) and every 50th doc gains the
    * rare discriminative term ' uncommonmark' (df = N/50, the head of
    * the impact ordering). Both engines compute the same augmentation —
    * the dedup_prefix planted-truncation convention.
    */
  private[graft] def skewDocs(s: org.apache.spark.sql.SparkSession,
                                dir: String)
      : org.apache.spark.sql.DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"), lit(" the"),
             when(col("doc_id") % 50 === 0, lit(" uncommonmark"))
               .otherwise(lit(""))).as("text"))

  /** The impact store over [[skewDocs]], built once and reused. */
  private[graft] def skewImpactStore(s: org.apache.spark.sql.SparkSession,
                                     dir: String): ImpactIndex.StoredImpacts =
    ImpactObjectStore.read(s, reusedStore(s, dir, "impact_skew_manifest",
                                          ImpactObjectStore)(
      ImpactObjectStore.rebuild(skewDocs(s, dir), _)))

  override def all: Seq[GraftQuery] = Seq(

    // Per-document quality statistics: token counts, mean token length,
    // stopword ratio, lexical diversity. At 100 TB this is a pure map —
    // no shuffle, whole-stage codegen, columns pruned to (doc_id, text).
    GraftQuery(
      "text_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
                  GraftText.whitespaceTokens(col("text")).as("tk"),
                  length(col("text")).cast("long").as("len_chars"))
          .select(
            col("doc_id"),
            col("len_chars"),
            size(col("tk")).cast("long").as("n_tokens"),
            size(array_distinct(col("tk"))).cast("long").as("n_unique"),
            GraftText.meanTokenLen(col("tk")).as("avg_token_len"),
            GraftText.markerRatio(col("tk"), GraftText.StopwordsEn)
              .as("stopword_ratio")),
      Some("""SELECT doc_id,
        |  length(text) AS len_chars,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_unique,
        |  round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x)))
        |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_token_len,
        |  round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                        x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
        |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio
        |FROM documents""".stripMargin)),

    // Language-ID by stopword-marker scoring — the classic n-gram/marker
    // heuristic; deterministic priority order breaks score ties. (The
    // testdata's `lang` label is synthetic — same vocabulary for all five
    // values — so this checks the operator, not classifier accuracy.)
    GraftQuery(
      "text_lang_id",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), GraftText.whitespaceTokens(col("text")).as("tk"))
          .select(
            col("doc_id"),
            GraftText.markerScore(col("tk"), GraftText.StopwordsEn)
              .as("score_en"),
            GraftText.markerScore(col("tk"),
              Seq("der", "die", "das", "und", "ist")).as("score_de"),
            GraftText.markerScore(col("tk"),
              Seq("le", "la", "les", "et", "est")).as("score_fr"),
            GraftText.markerScore(col("tk"),
              Seq("el", "los", "las", "es", "y")).as("score_es"))
          .withColumn("lang_pred",
            GraftText.langIdFrom(Seq(
              "en" -> col("score_en"), "de" -> col("score_de"),
              "fr" -> col("score_fr"), "es" -> col("score_es")))),
      Some("""WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS score_en,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS score_de,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS score_fr,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('el', 'los', 'las', 'es', 'y'))) AS score_es
        |  FROM documents)
        |SELECT doc_id, score_en, score_de, score_fr, score_es,
        |  CASE
        |    WHEN score_en >= greatest(score_de, score_fr, score_es)
        |         AND score_en > 0 THEN 'en'
        |    WHEN score_de >= greatest(score_fr, score_es) AND score_de > 0 THEN 'de'
        |    WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
        |    WHEN score_es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_pred
        |FROM sc""".stripMargin)),

    // Code-switching detection: language-ID each HALF of a document
    // independently (same marker heuristic as text_lang_id) and flag docs
    // whose halves disagree — mixed-language documents are a classic
    // low-quality stratum a curation pipeline quarantines. Pure map,
    // integer marker counts, deterministic cascade tie-break — full
    // oracle. (Synthetic corpus shares one vocabulary across langs, so
    // this checks the operator's mechanics, not classifier accuracy.)
    GraftQuery(
      "text_code_switch",
      (s, dir) => {
        val langs = Seq(
          "en" -> GraftText.StopwordsEn,
          "de" -> Seq("der", "die", "das", "und", "ist"),
          "fr" -> Seq("le", "la", "les", "et", "est"),
          "es" -> Seq("el", "los", "las", "es", "y"))
        def idOf(tkCol: org.apache.spark.sql.Column) =
          GraftText.langIdFrom(langs.map { case (l, m) =>
            l -> GraftText.markerScore(tkCol, m) })
        t(s, dir, "documents")
          .select(col("doc_id"),
                  GraftText.whitespaceTokens(col("text")).as("tk"))
          .withColumn("half", floor(size(col("tk")) / 2).cast("int"))
          .select(col("doc_id"),
                  slice(col("tk"), lit(1), col("half")).as("h1"),
                  slice(col("tk"), col("half") + 1,
                        size(col("tk")) - col("half")).as("h2"))
          .select(col("doc_id"),
                  idOf(col("h1")).as("lang_first"),
                  idOf(col("h2")).as("lang_second"))
          .withColumn("switched",
            col("lang_first") =!= col("lang_second") &&
              col("lang_first") =!= "und" && col("lang_second") =!= "und")
      },
      Some("""WITH t0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    w[1:CAST(len(w) // 2 AS BIGINT)] h1,
        |    w[CAST(len(w) // 2 + 1 AS BIGINT):len(w)] h2
        |  FROM t0),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(h1, x -> x IN ('the','a','of','and','to','in'))) e1,
        |    len(list_filter(h1, x -> x IN ('der','die','das','und','ist'))) d1,
        |    len(list_filter(h1, x -> x IN ('le','la','les','et','est'))) f1,
        |    len(list_filter(h1, x -> x IN ('el','los','las','es','y'))) s1,
        |    len(list_filter(h2, x -> x IN ('the','a','of','and','to','in'))) e2,
        |    len(list_filter(h2, x -> x IN ('der','die','das','und','ist'))) d2,
        |    len(list_filter(h2, x -> x IN ('le','la','les','et','est'))) f2,
        |    len(list_filter(h2, x -> x IN ('el','los','las','es','y'))) s2
        |  FROM h),
        |lid AS (
        |  SELECT doc_id,
        |    CASE WHEN e1 >= greatest(d1, f1, s1) AND e1 > 0 THEN 'en'
        |         WHEN d1 >= greatest(f1, s1) AND d1 > 0 THEN 'de'
        |         WHEN f1 >= s1 AND f1 > 0 THEN 'fr'
        |         WHEN s1 > 0 THEN 'es' ELSE 'und' END AS lang_first,
        |    CASE WHEN e2 >= greatest(d2, f2, s2) AND e2 > 0 THEN 'en'
        |         WHEN d2 >= greatest(f2, s2) AND d2 > 0 THEN 'de'
        |         WHEN f2 >= s2 AND f2 > 0 THEN 'fr'
        |         WHEN s2 > 0 THEN 'es' ELSE 'und' END AS lang_second
        |  FROM sc)
        |SELECT doc_id, lang_first, lang_second,
        |  (lang_first != lang_second AND lang_first != 'und'
        |   AND lang_second != 'und') AS switched
        |FROM lid""".stripMargin)),

    // Token counting: whitespace tokens + a BPE-ish regex tokenizer
    // (letter runs | digit runs | single punctuation).
    GraftQuery(
      "text_token_count",
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(GraftText.whitespaceTokens(col("text"))).cast("long")
              .as("n_ws_tokens"),
            GraftText.bpeTokenCount(col("text")).as("n_bpe_tokens")),
      Some("""SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin)),

    // Document fingerprinting: md5 over whitespace-normalized text, plus a
    // head fingerprint (first 64 normalized chars) for prefix-block dedup.
    GraftQuery(
      "text_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), GraftText.normalized(col("text")).as("norm"))
          .select(col("doc_id"),
                  md5(col("norm")).as("fp_md5"),
                  md5(substring(col("norm"), 1, 64)).as("fp_head_md5"),
                  length(col("norm")).cast("long").as("norm_len")),
      Some("""WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  md5(substring(norm, 1, 64)) AS fp_head_md5,
        |  length(norm) AS norm_len
        |FROM n""".stripMargin)),

    // PII-style redaction: replace every digit run with a <NUM> tag — the
    // scrub pass a training corpus runs before anything else sees it.
    // Pure map at any scale (regexp_replace is a per-row transform). The
    // per-lang md5-of-redacted-min certifies the actual rewritten TEXT
    // cross-engine, not just the hit counts; '[0-9]+' parses identically
    // under Java regex and RE2.
    GraftQuery(
      "text_redact",
      (s, dir) => {
        val hits = size(expr("regexp_extract_all(text, '[0-9]+', 0)"))
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), hits.as("h"),
                  md5(regexp_replace(col("text"), "[0-9]+", "<NUM>"))
                    .as("red_md5"))
          .groupBy("lang")
          .agg(sum(when(col("h") > 0, 1L).otherwise(0L)).as("n_docs_redacted"),
               sum(col("h")).cast("long").as("n_digit_runs"),
               min(col("red_md5")).as("min_redacted_md5"))
      },
      Some("""SELECT lang,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '[0-9]+')) > 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
        |    AS n_digit_runs,
        |  min(md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')))
        |    AS min_redacted_md5
        |FROM documents GROUP BY lang""".stripMargin)),

    // Corpus vocabulary with tf-idf: top-10 highest-scoring terms per
    // language (tokenizer-vocabulary construction / domain-term mining).
    // Two shuffles at any scale: (lang, term) partial-aggregated term
    // stats, then a per-lang top-k window over the (small) vocabulary —
    // the raw token stream is never shuffled un-aggregated twice.
    // idf is the smoothed LINEAR form (n+1)/(df+1), not log: one IEEE
    // division and one multiply are bitwise-identical across engines,
    // while ln() may differ in the last ulp between libm implementations
    // and silently flip ranks / rounding at the top-k cut.
    GraftQuery(
      "text_vocab_tfidf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = spread(t(s, dir, "documents"))
          .select(col("lang"), col("doc_id"),
                  explode(expr("split(trim(text), '\\\\s+')")).as("term"))
          .filter(length(col("term")) > 0)
        val nDocs = toks.agg(countDistinct("doc_id").as("n_docs"))
        val stats = toks.groupBy("lang", "term")
          .agg(count("*").as("tf"), countDistinct("doc_id").as("df"))
        val w = Window.partitionBy("lang")
          .orderBy(desc("score"), asc("term"))
        stats.crossJoin(nDocs)
          .withColumn("score",
            round(col("tf") * ((col("n_docs") + 1).cast("double") /
                               (col("df") + 1)), 6))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select(col("lang"), col("term"), col("tf"), col("df"),
                  col("rnk"), col("score"))
      },
      Some("""WITH toks AS (
        |  SELECT lang, doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) term
        |  FROM documents),
        |tk AS (SELECT * FROM toks WHERE length(term) > 0),
        |n AS (SELECT count(DISTINCT doc_id) n_docs FROM tk),
        |stats AS (
        |  SELECT lang, term, count(*) tf, count(DISTINCT doc_id) df
        |  FROM tk GROUP BY 1, 2),
        |scored AS (
        |  SELECT lang, term, tf, df,
        |    round(tf * ((n_docs + 1) * 1.0 / (df + 1)), 6) score
        |  FROM stats, n),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY lang ORDER BY score DESC, term) rnk
        |      FROM scored)
        |SELECT lang, term, tf, df, rnk, score FROM r WHERE rnk <= 10""".stripMargin)),

    // Quality-rule battery (Gopher/C4-style heuristics): word count bounds,
    // mean word length bounds, and intra-document repetition (duplicate
    // word-3-gram ratio — the "repeated paragraphs" signal at word
    // granularity). Pure map per document — zero shuffle at any scale; the
    // ratios are exact IEEE divisions of integer counts, so the oracle
    // hash-matches without float-order concerns.
    GraftQuery(
      "text_quality_rules",
      (s, dir) =>
        spread(t(s, dir, "documents"))
          .select(col("doc_id"), GraftText.whitespaceTokens(col("text")).as("tk"))
          .select(col("doc_id"),
                  size(col("tk")).cast("long").as("n_words"),
                  GraftText.tokenChars(col("tk")).as("chars"),
                  size(GraftText.wordNGrams(col("tk"), 3))
                    .cast("long").as("n_grams"),
                  size(array_distinct(GraftText.wordNGrams(col("tk"), 3)))
                    .cast("long").as("n_distinct"))
          .filter(col("n_words") >= 3)
          .select(col("doc_id"), col("n_words"),
                  round(col("chars").cast("double") / col("n_words"), 4)
                    .as("mean_word_len"),
                  round((col("n_grams") - col("n_distinct")).cast("double") /
                        col("n_grams"), 4).as("rep_ratio"))
          .withColumn("keep",
            col("n_words").between(20, 100000) &&
            col("mean_word_len").between(2.0, 12.0) &&
            col("rep_ratio") < 0.5),
      Some("""WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(w) n_words,
        |    list_sum(list_transform(w, x -> length(x))) chars,
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     FOR i IN range(1, len(w) - 1)] grams
        |  FROM tk WHERE len(w) >= 3),
        |m AS (
        |  SELECT doc_id, n_words, chars, len(grams) n_grams,
        |    len(list_distinct(grams)) n_distinct
        |  FROM g)
        |SELECT doc_id, n_words,
        |  round(chars * 1.0 / n_words, 4) AS mean_word_len,
        |  round((n_grams - n_distinct) * 1.0 / n_grams, 4) AS rep_ratio,
        |  (n_words BETWEEN 20 AND 100000)
        |    AND (round(chars * 1.0 / n_words, 4) BETWEEN 2.0 AND 12.0)
        |    AND (round((n_grams - n_distinct) * 1.0 / n_grams, 4) < 0.5)
        |    AS keep
        |FROM m""".stripMargin)),

    // Canonical selection after exact dedup: one representative per
    // identical-content group — the longest-metadata (n_chars), then
    // lowest doc_id. max(struct) argmax keeps this a single partial/final
    // aggregation on the digest key: one shuffle of (digest, winner) pairs
    // at any corpus size, never a self-join back onto the group.
    GraftQuery(
      "dedup_canonical",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_md5"))
          .agg(count("*").as("n_copies"),
               max(struct(col("n_chars"), (-col("doc_id")).as("nd")))
                 .as("m"))
          .select(col("text_md5"), col("n_copies"),
                  (-col("m.nd")).as("canonical_id"),
                  col("m.n_chars").as("canonical_chars")),
      Some("""WITH r AS (
        |  SELECT md5(text) text_md5, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY n_chars DESC, doc_id) rn,
        |    count(*) OVER (PARTITION BY md5(text)) n_copies
        |  FROM documents)
        |SELECT text_md5, n_copies, doc_id AS canonical_id,
        |  n_chars AS canonical_chars
        |FROM r WHERE rn = 1""".stripMargin)),

    // Doc → overlapping token-window chunks (width 32, stride 24) — the
    // explode feeding embedding/retrieval pipelines. Pure map + generator:
    // whole-stage codegen, zero shuffle, columns pruned to (doc_id, text).
    // Chunk i covers tokens [24i, 24i+32); the last chunk may be shorter.
    GraftQuery(
      "text_chunk_windows",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
                  GraftText.whitespaceTokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 1)
          .select(col("doc_id"),
                  posexplode(GraftText.chunkWindows(col("tk"), 32, 24)))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
                  size(GraftText.whitespaceTokens(col("col")))
                    .cast("long").as("n_chunk_tokens"),
                  col("col").as("chunk")),
      Some("""WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |x AS (
        |  SELECT doc_id, tk, unnest(range(0,
        |    CAST(ceil(greatest(len(tk) - 32, 0) / 24.0) AS BIGINT) + 1))
        |    AS chunk_idx
        |  FROM d),
        |c AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(list_slice(tk, chunk_idx * 24 + 1,
        |                               chunk_idx * 24 + 32), ' ') chunk
        |  FROM x)
        |SELECT doc_id, chunk_idx,
        |  len(regexp_split_to_array(chunk, '\s+')) AS n_chunk_tokens, chunk
        |FROM c""".stripMargin)),

    // BM25 top-20 for a keyword query — Robertson/Spärck-Jones with the
    // Lucene +1 IDF smoothing ([[graft.operators.TextRank.bm25TopK]]).
    // RANKS are the contract (integers — the fractional score stays
    // internal, immune to cross-engine float-rendering drift); ties break
    // on doc_id. Scale shape: term filter inside the explode-select so
    // only query-term rows shuffle; df/stats attach by broadcast; top-k is
    // TakeOrderedAndProject.
    GraftQuery(
      "text_bm25_topk",
      (s, dir) =>
        graft.operators.TextRank.bm25TopK(
          t(s, dir, "documents"),
          queryTerms = Seq("spark", "vector", "join"), k = 20),
      Some(bm25TopKOracleSql)),

    // The SAME BM25 top-20 served from the AT-REST impact store
    // ([[graft.operators.ImpactIndex.bm25TopKStored]] over
    // [[graft.operators.ImpactObjectStore]]): the store persists the
    // shared kernel's per-(term, doc) addends term-bucketed (build once,
    // serve many — the lexical analog of ann_ivf_stored_manifest), bucket
    // files direct-written and tracked in an immutable manifest version
    // (no rename, rebuild = publish), and the serve reads ONLY the query
    // terms' buckets (literal __bkt partition predicates + __term
    // row-group residual) off the manifest's explicit file list. Addends
    // at rest are bit-identical to the from-text kernel, so the
    // text_bm25_topk oracle certifies this row VERBATIM — the store
    // preserved every value exactly (the ann_maxsim_stored precedent).
    GraftQuery(
      "text_bm25_stored_manifest",
      (s, dir) =>
        ImpactIndex.bm25TopKStored(
          impactStore(s, dir),
          queryTerms = Seq("spark", "vector", "join"), k = 20),
      Some(bm25TopKOracleSql)),

    // ROW DELETION from the lexical store (VERDICT r15 missing #1 — the
    // ann_ivf_delete_manifest contract applied to the BM25 index): the row
    // runs the full takedown lifecycle and certifies BOTH phases in one
    // hash.
    // Stage 'masked': ImpactObjectStore.delete publishes an O(ids)
    // doc-tombstone sliver the serve masks immediately — deleted docs'
    // postings drop, surviving docs' scores stay bit-identical (df/N
    // intentionally stale until the purge), so the
    // oracle is full-corpus BM25 restricted to surviving docs. Stage
    // 'rebuilt': rebuild over the reduced corpus is the purge restoring
    // exact statistics — the oracle recomputes df/N/avgdl on the reduced
    // corpus. Time travel (pre-delete versions), vacuum reclamation and
    // tag idempotence are ImpactStoreSpec pins.
    GraftQuery(
      "text_bm25_delete_manifest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = GraftQuery.freshStore(s, dir, "impact_delete")(
          ImpactObjectStore.rebuild(docs, _))
        ImpactObjectStore.delete(s, out,
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
          batchTag = Some("takedown7"))
        val masked = ImpactIndex.bm25TopKStored(
            ImpactObjectStore.read(s, out),
            queryTerms = Seq("spark", "vector", "join"), k = 20)
          .withColumn("stage", lit("masked"))
        ImpactObjectStore.rebuild(docs.filter(col("doc_id") % 7 =!= 3), out)
        val rebuilt = ImpactIndex.bm25TopKStored(
            ImpactObjectStore.read(s, out),
            queryTerms = Seq("spark", "vector", "join"), k = 20)
          .withColumn("stage", lit("rebuilt"))
        masked.unionAll(rebuilt)
          .select("stage", "rank", "doc_id", "n_terms_hit")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |tf AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN ('spark', 'vector', 'join') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score,
        |    count(*) n_terms_hit
        |  FROM tf JOIN df USING (term), stats GROUP BY doc_id),
        |masked AS (
        |  SELECT 'masked' AS stage,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
        |    doc_id, n_terms_hit
        |  FROM s WHERE doc_id % 7 <> 3
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |d2 AS (SELECT * FROM d WHERE doc_id % 7 <> 3),
        |stats2 AS (
        |  SELECT count(*) n, avg(len(tk)) avgdl FROM d2),
        |tf2 AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d2)
        |  WHERE term IN ('spark', 'vector', 'join') GROUP BY 1, 2),
        |df2 AS (SELECT term, count(*) df FROM tf2 GROUP BY 1),
        |s2 AS (
        |  SELECT doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score,
        |    count(*) n_terms_hit
        |  FROM tf2 JOIN df2 USING (term), stats2 GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT 'rebuilt' AS stage,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
        |    doc_id, n_terms_hit
        |  FROM s2 ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT stage, rank, doc_id, n_terms_hit FROM masked
        |UNION ALL
        |SELECT stage, rank, doc_id, n_terms_hit FROM rebuilt""".stripMargin)),

    // IMPACT-ORDERED pruned BM25 (MaxScore essential-list pruning —
    // VERDICT r13 #2, the lexical analog of the IVF probe cut): only the
    // 2 highest-max-impact query terms' postings generate candidates;
    // candidates score exactly over all their query-term postings, and
    // the in-plan covering guard PROVES the skipped term's upper bound
    // sits strictly below the 20th candidate score (assert_true refusal
    // otherwise — exact by refusal, the minhashBanding stance). The
    // UNCHANGED exact oracle hash-matching IS the pruning-completeness
    // proof, the dedup_editdist_pairs pattern.
    GraftQuery(
      "text_bm25_pruned",
      (s, dir) =>
        ImpactIndex.bm25TopKPruned(
          impactStore(s, dir),
          queryTerms = Seq("spark", "vector", "join"), k = 20,
          essential = 2),
      Some(bm25TopKOracleSql)),

    // MaxScore pruning ON ITS PAYOFF SHAPE (VERDICT r14 missing #3): the
    // [[skewDocs]] Zipf-head corpus — a df=N stopword in every doc, a
    // df=N/50 discriminative term — queried with the stopword IN the
    // query. essential = 1 selects the rare term (highest max-impact);
    // the stopword's corpus-sized posting list never enters the
    // aggregation (candidates x terms rows group, not Σ posting
    // lengths — ~30x fewer rows at sf0.1, measured in ProbeMaxScore /
    // SCALE.md), and the in-plan covering guard PROVES the skipped lists
    // could not reach the top-k. The oracle replays exact BM25 over the
    // same augmented corpus — hash-equality is the pruning-completeness
    // proof at the realistic query shape, not just the overhead floor.
    GraftQuery(
      "text_bm25_pruned_skew",
      (s, dir) =>
        ImpactIndex.bm25TopKPruned(
          skewImpactStore(s, dir),
          queryTerms = Seq("uncommonmark", "spark", "the"), k = 5,
          essential = 1),
      Some("""WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(text) || ' the' ||
        |    CASE WHEN doc_id % 50 = 0 THEN ' uncommonmark' ELSE '' END,
        |    '\s+') tk
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |tf AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN ('uncommonmark', 'spark', 'the') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score,
        |    count(*) n_terms_hit
        |  FROM tf JOIN df USING (term), stats GROUP BY doc_id)
        |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
        |  doc_id, n_terms_hit
        |FROM s ORDER BY score DESC, doc_id LIMIT 5""".stripMargin)),

    // Perplexity-based quality filter (CCNet-style) — the 10 most
    // surprising documents per language under a corpus-trained bigram LM
    // ([[graft.operators.TextRank.bigramPerplexityTopK]]: mean bigram
    // surprisal Σ ln(c1/c2)/n, MLE over the corpus itself so no model
    // ships and no smoothing is needed). RANKS are the contract (the
    // fractional score stays internal, same stance as text_bm25_topk);
    // ties break on doc_id. Scale: one explode, two aggs of the bigram
    // stream, one gated model attach, doc-level rank window.
    GraftQuery(
      "text_lm_perplexity",
      (s, dir) =>
        graft.operators.TextRank.bigramPerplexityTopK(
          t(s, dir, "documents"), k = 10),
      Some("""WITH d AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT doc_id, lang,
        |    unnest(tk[1:len(tk) - 1]) w1, unnest(tk[2:len(tk)]) w2
        |  FROM d),
        |c2 AS (SELECT w1, w2, count(*) c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) c1 FROM c2 GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, lang, count(*) n_bigrams,
        |    sum(CAST(round(ln(CAST(c1 AS DOUBLE) / c2) * 1000000.0)
        |             AS BIGINT)) nll
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, doc_id, n_bigrams,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY nll / n_bigrams DESC, doc_id) rank
        |  FROM sc)
        |SELECT lang, rank, doc_id, n_bigrams FROM r WHERE rank <= 10""".stripMargin)),

    // Exact repeated-substring scrubbing (word-granular Lee et al. 2022):
    // tokens covered by any corpus-duplicated word-8-gram are deleted and
    // the doc reassembled — span-level dedup, not row-level
    // ([[graft.operators.CorpusCuration.scrubRepeatedSpans]]; scale notes
    // there). The md5 of each reassembled text certifies the actual
    // scrubbed CONTENT cross-engine, not just the counts.
    GraftQuery(
      "text_scrub_repeats",
      (s, dir) =>
        graft.operators.CorpusCuration.scrubRepeatedSpans(
          t(s, dir, "documents"), n = 8, minCount = 2),
      Some("""WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) pos, unnest(w) token
        |  FROM b),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(w[i:i+7], ' ')
        |            FOR i IN range(1, len(w) - 6)]) gram,
        |    unnest(range(1, len(w) - 6)) gpos
        |  FROM b WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, gpos FROM g
        |        WHERE gram IN (SELECT gram FROM dup)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.token FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM occ o
        |                    WHERE o.doc_id = t.doc_id
        |                      AND t.pos BETWEEN o.gpos AND o.gpos + 7)),
        |s AS (
        |  SELECT doc_id, count(*) n_kept,
        |    string_agg(token, ' ' ORDER BY pos) scrub
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_scrubbed,
        |  md5(coalesce(scrub, '')) AS scrubbed_md5
        |FROM b LEFT JOIN s USING (doc_id)""".stripMargin)),

    // Collocation mining: top-20 adjacent word pairs by PMI (min support
    // 5) — phrase discovery for tokenizer/vocabulary construction ("new
    // york" → one unit). The ordering score is PMI WITHOUT the ln: PMI is
    // monotone in p(w1,w2)/(p(w1)p(w2)), so ranking by the raw ratio —
    // five exact-operand * and / in a FIXED associativity, mirrored
    // verbatim in the oracle — is bit-deterministic cross-engine with no
    // libm call anywhere. Ties break on the pair. Scale: token stream
    // aggregates once for unigrams, once for bigrams; stats broadcast;
    // top-k is TakeOrderedAndProject over the (already collapsed) pair
    // vocabulary.
    GraftQuery(
      "text_collocations",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = t(s, dir, "documents")
          .select(GraftText.whitespaceTokens(col("text")).as("tk"))
        val uni = toks.select(explode(col("tk")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val totals = toks.agg(
          sum(size(col("tk"))).as("n_uni"),
          sum(greatest(size(col("tk")) - 1, lit(0))).as("n_big"))
        val big = toks.filter(size(col("tk")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(tk) - 2),
               i -> struct(tk[i] AS w1, tk[i + 1] AS w2))""")).as("bg"))
          .select(col("bg.w1"), col("bg.w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
          .filter(col("c2") >= 5)
        val score = col("c2").cast("double") / col("n_big") * col("n_uni") /
          col("c1") * col("n_uni") / col("cu2")
        val scored = big
          .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"), col("c").as("cu2"))), "w2")
          .crossJoin(broadcast(totals))
          .withColumn("__s", score)
        scored.orderBy(col("__s").desc, col("w1"), col("w2")).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("__s").desc, col("w1"), col("w2"))).cast("long"))
          .select(col("rank"), col("w1"), col("w2"), col("c2").as("n_pair"))
      },
      Some("""WITH d AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') tk FROM documents),
        |u AS (SELECT unnest(tk) w FROM d),
        |uni AS (SELECT w, count(*) c FROM u GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(len(tk)) AS BIGINT) n_uni,
        |    CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) n_big
        |  FROM d),
        |bg AS (
        |  SELECT unnest(tk[1:len(tk) - 1]) w1, unnest(tk[2:len(tk)]) w2
        |  FROM d WHERE len(tk) >= 2),
        |big AS (
        |  SELECT w1, w2, count(*) c2 FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |scored AS (
        |  SELECT w1, w2, c2,
        |    CAST(c2 AS DOUBLE) / n_big * n_uni / u1.c * n_uni / u2.c AS s
        |  FROM big
        |  JOIN uni u1 ON u1.w = w1
        |  JOIN uni u2 ON u2.w = w2, tot),
        |r AS (
        |  SELECT row_number() OVER (ORDER BY s DESC, w1, w2) AS rank,
        |    w1, w2, c2 AS n_pair
        |  FROM scored)
        |SELECT rank, w1, w2, n_pair FROM r WHERE rank <= 20""".stripMargin)),

    // Unicode NFC normalization — graft_normalize, a native codegen
    // Expression with an ASCII identity fast path (the 100-TB corpus is
    // overwhelmingly ASCII; those rows never decode). The corpus on disk
    // is pure ASCII, so the query first manufactures DECOMPOSED text
    // deterministically (a→a+U+0300, o→o+U+0301) in both engines, then
    // normalizes: NFC must compose the pairs back to single code points
    // (à, ó), shrinking the byte length. md5 certifies byte-identical
    // composition between the JDK Normalizer and DuckDB's utf8proc.
    GraftQuery(
      "text_normalize_nfc",
      (s, dir) => {
        val dec = regexp_replace(
          regexp_replace(col("text"), "a", "a\u0300"), "o", "o\u0301")
        t(s, dir, "documents")
          .select(col("doc_id"), dec.as("__dec"))
          .select(col("doc_id"),
                  octet_length(col("__dec")).cast("long").as("b_dec"),
                  graft.functions.GraftFunctionRegistry.normalize(col("__dec"))
                    .as("__nfc"))
          .select(col("doc_id"), col("b_dec"),
                  octet_length(col("__nfc")).cast("long").as("b_nfc"),
                  md5(col("__nfc")).as("nfc_md5"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    replace(replace(text, 'a', 'a' || chr(768)),
        |            'o', 'o' || chr(769)) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(strlen(t) AS BIGINT) AS b_dec,
        |  CAST(strlen(nfc_normalize(t)) AS BIGINT) AS b_nfc,
        |  md5(nfc_normalize(t)) AS nfc_md5
        |FROM d""".stripMargin)),

    // Gopher repetition rules (Rae et al. 2021 A1.1) — the two
    // intra-document repetition fractions text_quality_rules doesn't
    // carry: char share of the most frequent word 2-gram (≤ 0.20) and
    // char share covered by duplicated word 5-grams (≤ 0.15, overlaps
    // once). See CorpusCuration.gopherRepetitionStats for the plan shape.
    GraftQuery(
      "text_gopher_quality",
      (s, dir) =>
        graft.operators.CorpusCuration.gopherRepetitionStats(
          t(s, dir, "documents")),
      Some("""WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, len(w) ntok,
        |    list_sum(list_transform(w, x -> length(x))) chars
        |  FROM b WHERE len(w) >= 5),
        |g2 AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |                         FOR i IN range(1, len(w))]) g
        |  FROM f),
        |c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
        |t2 AS (
        |  SELECT doc_id, c * (length(g) - 1) AS t2c FROM (
        |    SELECT doc_id, g, c,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY c DESC, g) rn
        |    FROM c2) WHERE rn = 1),
        |g5 AS (
        |  SELECT doc_id, unnest(range(1, len(w) - 3)) gpos,
        |    unnest([array_to_string(w[i:i+4], ' ')
        |            FOR i IN range(1, len(w) - 3)]) g
        |  FROM f),
        |occ AS (
        |  SELECT doc_id, gpos FROM (
        |    SELECT doc_id, gpos,
        |      count(*) OVER (PARTITION BY doc_id, g) c
        |    FROM g5) WHERE c >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, unnest(range(gpos, gpos + 5)) pos FROM occ)),
        |tok AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) pos, unnest(w) token
        |  FROM f),
        |d5 AS (
        |  SELECT tok.doc_id, sum(length(token)) d5c
        |  FROM tok JOIN cov ON tok.doc_id = cov.doc_id
        |                   AND tok.pos = cov.pos
        |  GROUP BY 1)
        |SELECT f.doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  round(t2c * 1.0 / chars, 4) AS top2_frac,
        |  round(coalesce(d5c, 0) * 1.0 / chars, 4) AS dup5_frac,
        |  round(t2c * 1.0 / chars, 4) <= 0.20
        |    AND round(coalesce(d5c, 0) * 1.0 / chars, 4) <= 0.15 AS keep
        |FROM f
        |JOIN t2 ON t2.doc_id = f.doc_id
        |LEFT JOIN d5 ON d5.doc_id = f.doc_id""".stripMargin)),

    // BPE vocabulary TRAINING (Sennrich et al. 2016 learn_bpe as
    // relational rounds): one corpus-sized job (tokenize + word count),
    // then each merge round is an (a, b)-keyed aggregation over the
    // DISTINCT-WORD vocab plus a one-row broadcast argmax applied as a
    // pure map — no corpus re-scan, no driver loop over data. Greedy
    // left-to-right non-overlapping merge application is ANSI `replace`
    // over a double-space-joined symbol string (replace never rescans
    // its own output — exactly learn_bpe's substitution), so DuckDB
    // replays all four rounds with the same `replace`.
    GraftQuery(
      "text_bpe_train",
      (s, dir) => graft.operators.GraftBpe.bpeTrain(
        t(s, dir, "documents"), merges = 4),
      Some("""WITH w0 AS (
        |  SELECT w, count(*) cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |v0 AS (SELECT cnt,
        |         array_to_string([c FOR c IN string_split(w, '')], '  ') s
        |       FROM w0),
        |p1 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v0)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b1 AS (SELECT a, b, pc FROM p1 ORDER BY pc DESC, a, b LIMIT 1),
        |v1 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
        |   ' ' || (SELECT a || b FROM b1) || ' ')) s FROM v0),
        |p2 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v1)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b2 AS (SELECT a, b, pc FROM p2 ORDER BY pc DESC, a, b LIMIT 1),
        |v2 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
        |   ' ' || (SELECT a || b FROM b2) || ' ')) s FROM v1),
        |p3 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v2)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b3 AS (SELECT a, b, pc FROM p3 ORDER BY pc DESC, a, b LIMIT 1),
        |v3 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b3) || '  ' || (SELECT b FROM b3) || ' ',
        |   ' ' || (SELECT a || b FROM b3) || ' ')) s FROM v2),
        |p4 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v3)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b4 AS (SELECT a, b, pc FROM p4 ORDER BY pc DESC, a, b LIMIT 1),
        |v4 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b4) || '  ' || (SELECT b FROM b4) || ' ',
        |   ' ' || (SELECT a || b FROM b4) || ' ')) s FROM v3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) merge_rank, a pair_a, b pair_b,
        |         CAST(pc AS BIGINT) pair_count FROM b1
        |  UNION ALL SELECT CAST(2 AS BIGINT), a, b, CAST(pc AS BIGINT) FROM b2
        |  UNION ALL SELECT CAST(3 AS BIGINT), a, b, CAST(pc AS BIGINT) FROM b3
        |  UNION ALL SELECT CAST(4 AS BIGINT), a, b, CAST(pc AS BIGINT) FROM b4)""".stripMargin)),

    // BPE SEGMENTATION with the learned table (train/apply split — the
    // DSIR pattern): merges collected once at setup (O(4), not O(data))
    // and folded into a chain of replace expressions, so application is
    // ONE stateless projection — streaming-ready, no join, no state.
    GraftQuery(
      "text_bpe_segment",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.GraftBpe.bpeSegment(
            docs, graft.operators.GraftBpe.bpeTrain(docs, merges = 4))
          .select(col("doc_id"),
                  size(col("bpe_tokens")).cast("long").as("n_subwords"),
                  md5(array_join(col("bpe_tokens"), "|")).as("seg_md5"))
      },
      Some("""WITH w0 AS (
        |  SELECT w, count(*) cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |v0 AS (SELECT cnt,
        |         array_to_string([c FOR c IN string_split(w, '')], '  ') s
        |       FROM w0),
        |p1 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v0)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b1 AS (SELECT a, b, pc FROM p1 ORDER BY pc DESC, a, b LIMIT 1),
        |v1 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
        |   ' ' || (SELECT a || b FROM b1) || ' ')) s FROM v0),
        |p2 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v1)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b2 AS (SELECT a, b, pc FROM p2 ORDER BY pc DESC, a, b LIMIT 1),
        |v2 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
        |   ' ' || (SELECT a || b FROM b2) || ' ')) s FROM v1),
        |p3 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v2)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b3 AS (SELECT a, b, pc FROM p3 ORDER BY pc DESC, a, b LIMIT 1),
        |v3 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b3) || '  ' || (SELECT b FROM b3) || ' ',
        |   ' ' || (SELECT a || b FROM b3) || ' ')) s FROM v2),
        |p4 AS (SELECT p.a a, p.b b, sum(cnt) pc FROM (
        |   SELECT cnt, unnest([{'a': l[i], 'b': l[i+1]}
        |                      FOR i IN range(1, len(l))]) p
        |   FROM (SELECT cnt, string_split(s, '  ') l FROM v3)
        |   WHERE len(l) >= 2)
        | GROUP BY 1, 2),
        |b4 AS (SELECT a, b, pc FROM p4 ORDER BY pc DESC, a, b LIMIT 1),
        |v4 AS (SELECT cnt, trim(replace(' ' || s || ' ',
        |   ' ' || (SELECT a FROM b4) || '  ' || (SELECT b FROM b4) || ' ',
        |   ' ' || (SELECT a || b FROM b4) || ' ')) s FROM v3)
        |SELECT doc_id,
        |  CAST(len(flatten([string_split(trim(replace(' ' || trim(replace(' ' || trim(replace(' ' || trim(replace(' ' || array_to_string([c FOR c IN string_split(w, '')], '  ') || ' ', ' ' || m1.a || '  ' || m1.b || ' ', ' ' || m1.a || m1.b || ' ')) || ' ', ' ' || m2.a || '  ' || m2.b || ' ', ' ' || m2.a || m2.b || ' ')) || ' ', ' ' || m3.a || '  ' || m3.b || ' ', ' ' || m3.a || m3.b || ' ')) || ' ', ' ' || m4.a || '  ' || m4.b || ' ', ' ' || m4.a || m4.b || ' ')), '  ')
        |    FOR w IN regexp_split_to_array(trim(text), '\s+')
        |    IF length(w) > 0])) AS BIGINT) AS n_subwords,
        |  md5(array_to_string(flatten([string_split(trim(replace(' ' || trim(replace(' ' || trim(replace(' ' || trim(replace(' ' || array_to_string([c FOR c IN string_split(w, '')], '  ') || ' ', ' ' || m1.a || '  ' || m1.b || ' ', ' ' || m1.a || m1.b || ' ')) || ' ', ' ' || m2.a || '  ' || m2.b || ' ', ' ' || m2.a || m2.b || ' ')) || ' ', ' ' || m3.a || '  ' || m3.b || ' ', ' ' || m3.a || m3.b || ' ')) || ' ', ' ' || m4.a || '  ' || m4.b || ' ', ' ' || m4.a || m4.b || ' ')), '  ')
        |    FOR w IN regexp_split_to_array(trim(text), '\s+')
        |    IF length(w) > 0]), '|')) AS seg_md5
        |FROM documents, b1 m1, b2 m2, b3 m3, b4 m4""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al. 2003, the MOSS local
    // fingerprinting algorithm): word-3-gram xxhash64 stream, window-4
    // minimum selection, sorted distinct fingerprints per document —
    // every shared run of >= 6 tokens is GUARANTEED to surface as a
    // shared fingerprint while keeping only ~2/(w+1) of the gram hashes.
    // Pure projection (zero shuffle); the oracle replays the gram-string
    // xxhash64 chain and maps its unsigned values onto Spark's signed
    // order before taking window minima.
    GraftQuery(
      "text_winnow_fingerprint",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs
          .select(col("doc_id"),
                  graft.operators.GraftText.whitespaceTokens(col("text"))
                    .as("__tk"))
          .filter(size(col("__tk")) >= 3)
          .select(col("doc_id"),
                  (size(col("__tk")) - 2).cast("long").as("n_grams"),
                  graft.operators.GraftText.winnowFingerprints(
                    col("__tk"), k = 3, w = 4).as("__fp"))
          .select(col("doc_id"), col("n_grams"),
                  size(col("__fp")).cast("long").as("n_fps"),
                  md5(array_join(transform(col("__fp"),
                    x => x.cast("string")), ",")).as("fp_md5"))
      },
      Some("""WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN octet_length(encode(text)) != length(text)
        |         THEN error('text_winnow_fingerprint oracle: non-ASCII '
        |                    || 'text for doc_id ' || doc_id)
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(range(1, len(w) - 1)) AS pos,
        |    unnest([array_to_string(w[i:i+2], ' ')
        |            FOR i IN range(1, len(w) - 1)]) AS g
        |  FROM docs WHERE len(w) >= 3),
        |wn_in AS (SELECT DISTINCT g AS t FROM gr),
        |""".stripMargin +
        XxHash64Sql.chain("wn_", "42", "text_winnow_fingerprint oracle") +
        """gh AS (
        |  SELECT doc_id, list(hs ORDER BY pos) AS gh FROM (
        |    SELECT gr.doc_id, gr.pos,
        |      CAST(CASE WHEN h >= 9223372036854775808
        |                THEN h - 18446744073709551616 ELSE h END
        |           AS BIGINT) AS hs
        |    FROM gr JOIN wn_ht ON wn_ht.t = gr.g)
        |  GROUP BY doc_id),
        |fp AS (
        |  SELECT doc_id, len(gh) AS n_grams,
        |    list_sort(list_distinct(
        |      CASE WHEN len(gh) >= 4
        |           THEN [list_min(gh[j:j+3]) FOR j IN range(1, len(gh) - 2)]
        |           ELSE [list_min(gh)] END)) AS fps
        |  FROM gh)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(len(fps) AS BIGINT) AS n_fps,
        |  md5(array_to_string(fps, ',')) AS fp_md5
        |FROM fp""".stripMargin)),

    // N-gram heavy hitters via the mergeable frequent-items sketch
    // ([[graft.functions.GraftFreqAgg]]): top word-bigrams of the corpus
    // WITHOUT shuffling bigram cardinality — each partition folds its
    // grams into one capacity-bounded counter map and only maxMapSize
    // (term, count) pairs per partial cross the wire, vs groupBy(term)
    // shipping every distinct n-gram (billions of keys at 100 TB).
    // ORACLED in exact mode, the theta-sketch convention
    // (`dedup_source_overlap_exact`): under the purge threshold every
    // estimate is the exact count, the precondition is ENFORCED in-plan
    // by graft_freq_is_exact, and DuckDB replays plain GROUP BY counts.
    // The bounded (purging) tier's error contract is FreqSketchSpec's
    // job, not a hash row.
    GraftQuery(
      "text_heavy_hitters",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        graft.GraftSession.ensureExtensions(s)
        val grams = spread(t(s, dir, "documents"))
          .select(GraftText.whitespaceTokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(tk) - 2),
               i -> concat(tk[i], ' ', tk[i + 1]))""")).as("term"))
        val sk = grams.agg(expr("graft_freq_sketch(term, 32768)").as("sk"))
        // one sketch row explodes to ≤ maxMapSize items — the
        // unpartitioned window ranks that bounded set, never the corpus
        sk.select(explode(expr(
            """CASE WHEN graft_freq_is_exact(sk) THEN graft_freq_items(sk)
              |ELSE cast(assert_true(false, concat('text_heavy_hitters: ',
              |       'sketch left exact mode — raise maxMapSize or use ',
              |       'the bounded tier')) AS
              |     array<struct<term: string, est: bigint,
              |                  lb: bigint, ub: bigint>>) END""".stripMargin))
            .as("it"))
          .select(col("it.term").as("term"), col("it.est").as("cnt"))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
          .filter(col("rnk") <= 50)
          .select(col("term"), col("cnt"), col("rnk"))
      },
      Some("""WITH d AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') tk FROM documents),
        |bg AS (
        |  SELECT unnest(tk[1:len(tk) - 1]) w1, unnest(tk[2:len(tk)]) w2
        |  FROM d WHERE len(tk) >= 2),
        |c AS (SELECT w1 || ' ' || w2 term, count(*) cnt FROM bg
        |      GROUP BY 1),
        |r AS (SELECT term, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, term) rnk
        |      FROM c)
        |SELECT term, cnt, rnk FROM r WHERE rnk <= 50""".stripMargin)),

    // Jaro–Winkler record linkage (entity resolution on names): distinct
    // part names blocked by their first word, pairs at jw ≥ 0.85. The
    // graft_jaro_winkler kernel is semantics-pinned to DuckDB's
    // jaro_winkler_similarity (match window ⌊max/2⌋−1, half-counted
    // transpositions, 0.1-scaled ≤4-char prefix boost above jaro 0.7),
    // so the oracle replays blocking + scoring and hash-matches.
    // Blocking is the documented recall contract — JW has no lossless
    // prefix-filter lemma, so production linkage always scopes pairs
    // with a blocking key; cost is Σ|block|² after one shuffle.
    GraftQuery(
      "text_jw_linkage",
      (s, dir) => {
        graft.GraftSession.ensureExtensions(s)
        val names = t(s, dir, "part").select(col("p_name")).distinct()
          .select(col("p_name").as("name"),
                  expr("split_part(p_name, ' ', 1)").as("block"))
        graft.operators.GraftDedup.jaroWinklerPairs(
          names, threshold = 0.85, idCol = "name", nameCol = "name",
          blockCol = "block")
      },
      Some("""WITH p AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, split_part(p_name, ' ', 1) w1 FROM p)
        |SELECT a.p_name AS a_id, b.p_name AS b_id,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |FROM b a JOIN b b ON a.w1 = b.w1 AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85""".stripMargin)),
  )
}
