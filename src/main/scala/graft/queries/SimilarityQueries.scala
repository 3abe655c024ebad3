package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{GraftSimilarity, ImpactObjectStore, IvfObjectStore}
import GraftQuery.{freshStore, reusedStore}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim) — catalog entries for the three
  * tiers of [[graft.operators.GraftSimilarity]]:
  *
  *   1. `ann_cosine_topk` — brute-force exact top-k (the correctness
  *      baseline; DuckDB oracle hash-match).
  *   2. `ann_ivf_topk` — IVF with √N deterministic centroids; the oracle
  *      runs the same algorithm in SQL, so this is also hash-matched.
  *   3. `ann_lsh_bucket` — SRP-LSH; the hyperplane matrix is a pure
  *      constant of (nbits, dim, seed), so the oracle inlines it and
  *      replays the signature walk — hash-matched like the others;
  *      SimilaritySpec additionally measures recall against tier 1.
  *
  * At 100 TB: tier 1 is a broadcast-map (no shuffle) per query batch;
  * tier 2 shuffles once on cell id; tier 3 shuffles once on (band, bucket).
  * All reranks are per-partition — see the operator scaladoc.
  */
object SimilarityQueries extends QueryModule {

  private def vecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def queryBlock(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** The hybrid rows' query minibatch (q_id, q_terms, qv): documents
    * 0–9 joined to their vectors in `e`, each carrying `terms` — by
    * default its whitespace tokens. */
  private def hybridQueries(docs: DataFrame, e: DataFrame,
                            terms: Column = graft.operators.GraftText
                              .whitespaceTokens(col("text"))): DataFrame =
    docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"), terms.as("q_terms"),
              col("v").as("qv"))

  /** The DuckDB replay of `ann_lsh_bucket` (srpTopK at nbits=16, bands=4,
    * k=5 over dim-64 embeddings): the 16×64 hyperplane matrix is a pure
    * constant — `GraftSrpSig.planes(16, 64, 42)`, the exact doubles the
    * Spark expression uses — inlined as literals (Scala's shortest
    * round-trip Double formatting parses back bit-identically). Per bit,
    * sign(list_dot_product(v, plane)) reproduces the kernel's ascending-
    * index accumulation; bands are 4-bit shift/mask slices of the one
    * signature; candidates collide in ANY band; exact-cosine rerank to
    * top-5 mirrors the other ANN oracles.
    */
  private lazy val lshBucketOracleSql: String = {
    val planes = graft.functions.GraftSrpSig.planes(16, 64, 42L)
    def planeList(p: Int): String =
      (0 until 64).map(i => planes(p * 64 + i).toString)
        .mkString("[", ",", "]")
    val sigExpr = (0 until 16).map { p =>
      s"(CASE WHEN list_dot_product(v, ${planeList(p)}) > 0 " +
      s"THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sg AS (SELECT vec_id, v, $sigExpr AS sig FROM e),
       |q AS (SELECT vec_id AS q_id, sig AS qsig FROM sg WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.q_id, s.vec_id AS n_id
       |  FROM q JOIN sg s ON s.vec_id != q.q_id AND (
       |       ((q.qsig >> 0) & 15) = ((s.sig >> 0) & 15)
       |    OR ((q.qsig >> 4) & 15) = ((s.sig >> 4) & 15)
       |    OR ((q.qsig >> 8) & 15) = ((s.sig >> 8) & 15)
       |    OR ((q.qsig >> 12) & 15) = ((s.sig >> 12) & 15))),
       |scored AS (
       |  SELECT c.q_id, c.n_id, list_cosine_similarity(qe.v, ne.v) AS c
       |  FROM cand c JOIN e qe ON qe.vec_id = c.q_id
       |              JOIN e ne ON ne.vec_id = c.n_id),
       |r AS (SELECT q_id, n_id, c,
       |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
       |      FROM scored)
       |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin
  }

  /** PQ train + encode + LUT replay (m=8, ksub=16, 2 Lloyd rounds on
    * the 2^20 grid, queries vec_id < 10), shared VERBATIM by
    * `ann_pq_adc` (flat ADC over every code word) and `ann_ivf_pq`
    * (ADC restricted to probed IVF cells): the coding pipeline is
    * identical in both tiers, only the candidate set differs. Ends at
    * the `lutd`/`lutn` CTEs; callers append their candidate join.
    * Expects an `e AS (SELECT vec_id, v ...)` CTE upstream.
    */
  private val pqTrainCtes: String =
    """g AS (SELECT vec_id, list_transform(v, x -> round(x * 1048576.0)) gv
      |      FROM e),
      |sx AS (SELECT unnest(range(0, 8)) s),
      |di AS (SELECT unnest(range(1, 9)) i),
      |subs AS (SELECT g.vec_id, sx.s sub_id,
      |           g.gv[sx.s * 8 + 1 : sx.s * 8 + 8] sv
      |         FROM g, sx),
      |sd AS (SELECT vec_id, code FROM (
      |         SELECT vec_id, row_number() OVER (
      |           ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 code
      |         FROM e) WHERE code < 16),
      |cb0 AS (SELECT s.sub_id, sd.code, s.sv cv
      |        FROM subs s JOIN sd USING (vec_id)),
      |a1 AS (SELECT vec_id, sub_id, sv, code FROM (
      |         SELECT s.vec_id, s.sub_id, s.sv, c.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.sub_id
      |             ORDER BY list_sum(list_transform(range(1, 9),
      |               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))),
      |             c.code) rnk
      |         FROM subs s JOIN cb0 c ON c.sub_id = s.sub_id)
      |       WHERE rnk = 1),
      |c1 AS (SELECT sub_id, code, list(rc ORDER BY i) cv FROM (
      |         SELECT sub_id, code, di.i i,
      |           round(sum(sv[di.i]) / count(*)) rc
      |         FROM a1, di GROUP BY sub_id, code, di.i)
      |       GROUP BY sub_id, code),
      |a2 AS (SELECT vec_id, sub_id, sv, code FROM (
      |         SELECT s.vec_id, s.sub_id, s.sv, c.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.sub_id
      |             ORDER BY list_sum(list_transform(range(1, 9),
      |               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))),
      |             c.code) rnk
      |         FROM subs s JOIN c1 c ON c.sub_id = s.sub_id)
      |       WHERE rnk = 1),
      |c2 AS (SELECT sub_id, code, list(rc ORDER BY i) cv FROM (
      |         SELECT sub_id, code, di.i i,
      |           round(sum(sv[di.i]) / count(*)) rc
      |         FROM a2, di GROUP BY sub_id, code, di.i)
      |       GROUP BY sub_id, code),
      |enc AS (SELECT vec_id, sub_id, code FROM (
      |         SELECT s.vec_id, s.sub_id, c.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.sub_id
      |             ORDER BY list_sum(list_transform(range(1, 9),
      |               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))),
      |             c.code) rnk
      |         FROM subs s JOIN c2 c ON c.sub_id = s.sub_id)
      |       WHERE rnk = 1),
      |q AS (SELECT vec_id q_id, gv qg,
      |        list_sum(list_transform(gv, x -> x * x)) qn
      |      FROM g WHERE vec_id < 10),
      |lutd AS (SELECT q.q_id, c.sub_id, c.code,
      |           list_sum(list_transform(range(1, 9),
      |             i -> q.qg[c.sub_id * 8 + i] * c.cv[i])) d
      |         FROM q, c2 c),
      |lutn AS (SELECT sub_id, code,
      |           list_sum(list_transform(cv, x -> x * x)) nn
      |         FROM c2)""".stripMargin

  /** The shared ADC tail: scored candidates → top-20 quantized cut →
    * exact rerank → top-5 rows. Expects an `sc(n_id, q_id, ad, an)`
    * CTE upstream (the candidate policy — flat or probed — lives
    * there).
    */
  /** The ADC CTE chain only (quantized cut → exact rerank ranking):
    * `ann_tier_recall` composes it with the q8 tier and the truth scan,
    * consuming `r` directly instead of the final projection. */
  private val pqServeCtes: String =
    """adc AS (SELECT q.q_id, sc.n_id,
      |          CASE WHEN sc.an = 0 OR q.qn = 0 THEN 0.0
      |               ELSE sc.ad / sqrt(q.qn * sc.an) END ac
      |        FROM sc JOIN q ON q.q_id = sc.q_id),
      |cand AS (SELECT q_id, n_id FROM (
      |          SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
      |            ORDER BY ac DESC, n_id) r FROM adc) WHERE r <= 20),
      |scored AS (SELECT c.q_id, c.n_id,
      |             list_cosine_similarity(qe.v, ne.v) cs
      |           FROM cand c JOIN e qe ON qe.vec_id = c.q_id
      |                       JOIN e ne ON ne.vec_id = c.n_id),
      |r AS (SELECT q_id, n_id, cs,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY cs DESC, n_id) rnk
      |      FROM scored)""".stripMargin

  private val pqServeTail: String =
    s"""$pqServeCtes
      |SELECT q_id, n_id, rnk, round(cs, 4) AS cos FROM r
      |WHERE rnk <= 5""".stripMargin

  /** Candidate CTEs for the MMR oracles — both bind `cand` as
    * (q_id, n_id, rel, v) at kCand = 20; the greedy tail is shared. */
  private val mmrBruteCandCte: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
      |cand AS (
      |  SELECT q_id, n_id, rel, v FROM (
      |    SELECT q.q_id, e.vec_id n_id,
      |      list_cosine_similarity(q.qv, e.v) rel, e.v,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) rnk
      |    FROM q JOIN e ON e.vec_id != q.q_id) WHERE rnk <= 20)""".stripMargin

  private val mmrIvfCandCte: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |cut AS (
      |  SELECT printf('%08x', CAST(least(
      |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
      |           4294967295) AS BIGINT)) h
      |  FROM e),
      |c AS (SELECT vec_id c_id, v cv FROM e
      |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
      |assign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT e.vec_id, e.v, c.c_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
      |    FROM e, c) WHERE arnk = 1),
      |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
      |probes AS (
      |  SELECT q_id, qv, c_id FROM (
      |    SELECT q.q_id, q.qv, c.c_id,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
      |    FROM q, c) WHERE prnk <= 4),
      |cand AS (
      |  SELECT q_id, n_id, rel, v FROM (
      |    SELECT p.q_id, a.vec_id n_id,
      |      list_cosine_similarity(p.qv, a.v) rel, a.v,
      |      row_number() OVER (PARTITION BY p.q_id
      |        ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.vec_id) rnk
      |    FROM probes p JOIN assign a ON p.c_id = a.c_id
      |    WHERE a.vec_id != p.q_id) WHERE rnk <= 20)""".stripMargin

  /** The filtered diversified-serve candidate CTE: [[mmrIvfCandCte]]
    * with the candidate population restricted to the predicate's rows —
    * probe geometry and the query block are filter-invariant, exactly
    * `mmrTopKWith(where = ...)`'s pre-filter semantics; the greedy then
    * diversifies within the allowed slice. */
  private lazy val mmrIvfFilteredCandCte: String =
    rewriteOnce(mmrIvfCandCte,
      "WHERE a.vec_id != p.q_id)",
      "WHERE a.vec_id != p.q_id AND a.vec_id IN " +
        "(SELECT vec_id FROM embeddings WHERE label = 3))",
      "mmrIvfFilteredCandCte")

  /** The MMR greedy walk as a recursive CTE over whichever candidate
    * tier `candCte` binds: step 1 is the no-penalty argmax of λ·rel,
    * each later step re-scores the remaining candidates with the TRUE
    * max-sim-to-selected (unclamped — it can be negative) and picks the
    * (score DESC, n_id ASC) winner, exactly the `graft_mmr` kernel's
    * fixed-order IEEE arithmetic. λ = 0.5 to match the catalog rows. */
  private def mmrOracleSql(candCte: String, k: Int = 5): String =
    s"""WITH RECURSIVE
      |$candCte,
      |sel AS (
      |  SELECT q_id, 1 AS rank, n_id, 0.5 * rel - (1 - 0.5) * 0.0 AS score,
      |         [n_id] AS sel_ids
      |  FROM (SELECT q_id, n_id, rel,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY 0.5 * rel - (1 - 0.5) * 0.0 DESC, n_id) rn
      |        FROM cand) WHERE rn = 1
      |  UNION ALL
      |  SELECT q_id, rank + 1, n_id, score, list_append(sel_ids, n_id)
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |               ORDER BY score DESC, n_id) rn
      |    FROM (
      |      SELECT p.q_id, p.rank, p.sel_ids, cd.n_id,
      |        0.5 * cd.rel
      |          - (1 - 0.5) * max(list_cosine_similarity(cd.v, sv.v)) AS score
      |      FROM sel p
      |      JOIN cand cd ON cd.q_id = p.q_id
      |                  AND NOT list_contains(p.sel_ids, cd.n_id)
      |      JOIN cand sv ON sv.q_id = p.q_id
      |                  AND list_contains(p.sel_ids, sv.n_id)
      |      GROUP BY p.q_id, p.rank, p.sel_ids, cd.n_id, cd.rel))
      |  WHERE rn = 1 AND rank < $k)
      |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
      |       round(score, 4) AS mmr
      |FROM sel""".stripMargin

  /** The full-collection IVF build + serve replay of
    * `ann_ivf_stored_manifest`: the store must preserve every value of
    * the in-memory build exactly, so the SQL replays the build alone.
    */
  private val ivfStoredOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |cut AS (
      |  SELECT printf('%08x', CAST(least(
      |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
      |           4294967295) AS BIGINT)) h
      |  FROM e),
      |c AS (SELECT vec_id c_id, v cv FROM e
      |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
      |assign AS (
      |  SELECT vec_id, v, c_id FROM (
      |    SELECT e.vec_id, e.v, c.c_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
      |    FROM e, c) WHERE arnk = 1),
      |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
      |probes AS (
      |  SELECT q_id, qv, c_id FROM (
      |    SELECT q.q_id, q.qv, c.c_id,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
      |    FROM q, c) WHERE prnk <= 4),
      |scored AS (
      |  SELECT p.q_id, a.vec_id n_id,
      |    list_cosine_similarity(p.qv, a.v) c
      |  FROM probes p JOIN assign a ON p.c_id = a.c_id
      |  WHERE a.vec_id != p.q_id),
      |r AS (SELECT q_id, n_id, c,
      |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
      |      FROM scored)
      |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin

  /** The hybrid (BM25 ⊕ IVF-probe semantic, RRF-fused) serve replay —
    * shared by `ann_hybrid_ivf` and, via anchored population rewrites,
    * `ann_hybrid_filtered`. */
  /** The fused-ranking CTE chain (both legs through the `f` RRF fold),
    * shared by the plain fusion oracle and the MMR-diversified fusion
    * oracle (which cuts `f` at kCand and re-ranks greedily). */
  private val hybridIvfFusedCtes: String =
    """ev AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (
        |  SELECT doc_id q_id,
        |    regexp_split_to_array(trim(text), '\s+') qtk, ev.v qv
        |  FROM documents JOIN ev ON vec_id = doc_id
        |  WHERE doc_id < 10),
        |qt AS (SELECT q_id, unnest(list_distinct(qtk)) term FROM q),
        |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |      FROM documents),
        |stats AS (SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |tr AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tr GROUP BY 1),
        |ls AS (
        |  SELECT qt.q_id, tr.doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score
        |  FROM tr JOIN qt USING (term) JOIN df USING (term), stats
        |  WHERE tr.doc_id != qt.q_id GROUP BY 1, 2),
        |lrk AS (
        |  SELECT q_id, doc_id, lex_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT)
        |      lex_rank
        |    FROM ls) WHERE lex_rank <= 30),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM ev),
        |c AS (SELECT vec_id c_id, v cv FROM ev
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT ev.vec_id, ev.v, c.c_id,
        |      row_number() OVER (PARTITION BY ev.vec_id
        |        ORDER BY list_cosine_similarity(ev.v, c.cv) DESC, c.c_id) arnk
        |    FROM ev, c) WHERE arnk = 1),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 4),
        |ss AS (
        |  SELECT p.q_id, a.vec_id doc_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |srk AS (
        |  SELECT q_id, doc_id, sem_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY c DESC, doc_id) AS BIGINT)
        |      sem_rank
        |    FROM ss) WHERE sem_rank <= 30),
        |f AS (
        |  SELECT q_id, doc_id, lex_rank, sem_rank,
        |    coalesce(CAST(round(1000000000.0 / (60 + lex_rank)) AS BIGINT),
        |             0)
        |    + coalesce(CAST(round(1000000000.0 / (60 + sem_rank)) AS BIGINT),
        |               0) rrf
        |  FROM lrk FULL OUTER JOIN srk USING (q_id, doc_id))""".stripMargin

  private val hybridIvfOracleSql: String =
    "WITH " + hybridIvfFusedCtes + "\n" +
    """SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM (
      |  SELECT q_id, doc_id, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) rank,
      |    rrf, lex_rank, sem_rank
      |  FROM f) WHERE rank <= 10""".stripMargin

  /** Candidate CTE for the MMR-diversified fusion oracle: the fused
    * ranking cut at kCand = 30 (candidacy), relevance re-derived as the
    * exact cosine to the query embedding (the diversity space). */
  private val hybridMmrCandCte: String =
    hybridIvfFusedCtes + ",\n" +
    """hc AS (SELECT q_id, doc_id FROM (
      |    SELECT q_id, doc_id, row_number() OVER (
      |      PARTITION BY q_id ORDER BY rrf DESC, doc_id) hrank
      |    FROM f) WHERE hrank <= 30),
      |cand AS (
      |  SELECT hc.q_id, hc.doc_id n_id,
      |    list_cosine_similarity(q.qv, ev.v) rel, ev.v
      |  FROM hc JOIN q ON q.q_id = hc.q_id
      |          JOIN ev ON ev.vec_id = hc.doc_id)""".stripMargin

  /** The MaxSim SERVING-path replay (tokenize → ±1 hash embed → composite
    * token ids → md5 centroid seed → token→centroid assignment → per-
    * query-token probes → probed-cell dots → max/sum/rank), shared by
    * `ann_maxsim_ivf` (index built in-memory per run) and
    * `ann_maxsim_stored` (index written at rest, read back, served) —
    * the store must preserve every value exactly, so ONE oracle certifies
    * both rows (the `ann_ivf_stored_manifest` precedent). */
  private val maxSimIvfOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      |  FROM documents),
      |dt AS (
      |  SELECT doc_id, tok,
      |    [CASE WHEN substr(md5(tok || '_' || j), 1, 1) < '8'
      |          THEN 1 ELSE -1 END FOR j IN range(0, 8)] tv
      |  FROM (SELECT doc_id, unnest(list_distinct(tk[1:16])) tok
      |        FROM toks)
      |  WHERE len(tok) > 0),
      |tid AS (
      |  SELECT doc_id * 1048576 +
      |           (row_number() OVER (PARTITION BY doc_id ORDER BY tok)
      |            - 1) tok_id,
      |         doc_id, tok, tv
      |  FROM dt),
      |cut AS (
      |  SELECT printf('%08x', CAST(least(
      |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
      |           4294967295) AS BIGINT)) h
      |  FROM tid),
      |c AS (SELECT tok_id c_id, tv cv FROM tid
      |      WHERE substr(md5(tok_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
      |assign AS (
      |  SELECT tok_id, doc_id, tv, c_id FROM (
      |    SELECT t.tok_id, t.doc_id, t.tv, c.c_id,
      |      row_number() OVER (PARTITION BY t.tok_id ORDER BY
      |        list_sum(list_transform(range(1, 9), i -> t.tv[i] * c.cv[i]))
      |          DESC, c.c_id) arnk
      |    FROM tid t, c) WHERE arnk = 1),
      |qt AS (SELECT doc_id q_id, tok qtok, tv qtv FROM dt
      |       WHERE doc_id < 10),
      |probes AS (
      |  SELECT q_id, qtok, qtv, c_id FROM (
      |    SELECT q.q_id, q.qtok, q.qtv, c.c_id,
      |      row_number() OVER (PARTITION BY q.q_id, q.qtok ORDER BY
      |        list_sum(list_transform(range(1, 9), i -> q.qtv[i] * c.cv[i]))
      |          DESC, c.c_id) prnk
      |    FROM qt q, c) WHERE prnk <= 4),
      |pair AS (
      |  SELECT p.q_id, p.qtok, a.doc_id,
      |    list_sum(list_transform(range(1, 9), i -> p.qtv[i] * a.tv[i])) dot
      |  FROM probes p JOIN assign a ON a.c_id = p.c_id
      |  WHERE a.doc_id != p.q_id),
      |mx AS (SELECT q_id, qtok, doc_id, max(dot) m FROM pair
      |       GROUP BY 1, 2, 3),
      |sc AS (SELECT q_id, doc_id, sum(m) s FROM mx GROUP BY 1, 2),
      |r AS (SELECT q_id, doc_id, s, row_number() OVER (
      |        PARTITION BY q_id ORDER BY s DESC, doc_id) rnk FROM sc)
      |SELECT q_id, doc_id, CAST(rnk AS BIGINT) rnk,
      |       CAST(s AS BIGINT) score
      |FROM r WHERE rnk <= 10""".stripMargin

  /** The q8-tier hybrid replay (lexical BM25 CTEs composed with
    * ann_ivf_stored_q8's quantized probe/cut/rerank at the hybrid's
    * kCand·rerankFactor = 120) — shared by `ann_hybrid_q8` and, via
    * anchored population rewrites, `ann_hybrid_filtered_q8`. */
  private val hybridQ8OracleSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |qd AS (
        |  SELECT doc_id q_id, regexp_split_to_array(trim(text), '\s+') qtk
        |  FROM documents WHERE doc_id < 10),
        |qt AS (SELECT q_id, unnest(list_distinct(qtk)) term FROM qd),
        |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |      FROM documents),
        |stats AS (SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |trm AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM trm GROUP BY 1),
        |ls AS (
        |  SELECT qt.q_id, trm.doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score
        |  FROM trm JOIN qt USING (term) JOIN df USING (term), stats
        |  WHERE trm.doc_id != qt.q_id GROUP BY 1, 2),
        |lrk AS (
        |  SELECT q_id, doc_id, lex_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT)
        |      lex_rank
        |    FROM ls) WHERE lex_rank <= 30),
        |mx AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) m FROM e),
        |q8 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 127.0 / m)) END q
        |       FROM mx),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |qq AS (SELECT vec_id q_id, v qv, q qq8 FROM q8 WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, qq8, c_id FROM (
        |    SELECT qq.q_id, qq.qv, qq.qq8, c.c_id,
        |      row_number() OVER (PARTITION BY qq.q_id
        |        ORDER BY list_cosine_similarity(qq.qv, c.cv) DESC, c.c_id) prnk
        |    FROM qq, c) WHERE prnk <= 4),
        |ap AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    CASE WHEN list_dot_product(a8.q, a8.q) = 0
        |           OR list_dot_product(p.qq8, p.qq8) = 0 THEN 0.0
        |         ELSE list_dot_product(p.qq8, a8.q)
        |              / sqrt(list_dot_product(a8.q, a8.q)
        |                     * list_dot_product(p.qq8, p.qq8)) END ac
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  JOIN q8 a8 ON a8.vec_id = a.vec_id
        |  WHERE a.vec_id != p.q_id),
        |qcand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 120),
        |qscored AS (
        |  SELECT cd.q_id, cd.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM qcand cd
        |  JOIN qq ON qq.q_id = cd.q_id
        |  JOIN e ON e.vec_id = cd.n_id),
        |srk AS (
        |  SELECT q_id, doc_id, sem_rank FROM (
        |    SELECT q_id, n_id doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY cs DESC, n_id) AS BIGINT)
        |      sem_rank
        |    FROM qscored) WHERE sem_rank <= 30),
        |f AS (
        |  SELECT q_id, doc_id, lex_rank, sem_rank,
        |    coalesce(CAST(round(1000000000.0 / (60 + lex_rank)) AS BIGINT),
        |             0)
        |    + coalesce(CAST(round(1000000000.0 / (60 + sem_rank)) AS BIGINT),
        |               0) rrf
        |  FROM lrk FULL OUTER JOIN srk USING (q_id, doc_id))
        |SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM (
        |  SELECT q_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) rank,
        |    rrf, lex_rank, sem_rank
        |  FROM f) WHERE rank <= 10""".stripMargin

  /** The BM25 ⊕ MaxSim fusion replay: the lexical CTEs of the hybrid
    * family composed with the MaxSim serving CTEs of
    * [[maxSimIvfOracleSql]] (the late-interaction leg renamed `mdt`/`mqt`
    * to keep the lexical `d`/`qt` names free) under the shared RRF tail —
    * both legs cut at kCand = 30, fused top-10. */
  private val hybridMaxSimOracleSql: String =
    """WITH qd AS (
      |  SELECT doc_id q_id, regexp_split_to_array(trim(text), '\s+') qtk
      |  FROM documents WHERE doc_id < 10),
      |qt AS (SELECT q_id, unnest(list_distinct(qtk)) term FROM qd),
      |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      |      FROM documents),
      |stats AS (SELECT count(*) n, avg(len(tk)) avgdl FROM d),
      |trm AS (
      |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
      |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
      |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
      |df AS (SELECT term, count(*) df FROM trm GROUP BY 1),
      |ls AS (
      |  SELECT qt.q_id, trm.doc_id,
      |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
      |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |          * 1000000.0) AS BIGINT)) score
      |  FROM trm JOIN qt USING (term) JOIN df USING (term), stats
      |  WHERE trm.doc_id != qt.q_id GROUP BY 1, 2),
      |lrk AS (
      |  SELECT q_id, doc_id, lex_rank FROM (
      |    SELECT q_id, doc_id, CAST(row_number() OVER (
      |      PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT)
      |      lex_rank
      |    FROM ls) WHERE lex_rank <= 30),
      |mdt AS (
      |  SELECT doc_id, tok,
      |    [CASE WHEN substr(md5(tok || '_' || j), 1, 1) < '8'
      |          THEN 1 ELSE -1 END FOR j IN range(0, 8)] tv
      |  FROM (SELECT doc_id, unnest(list_distinct(tk[1:16])) tok FROM d)
      |  WHERE len(tok) > 0),
      |tid AS (
      |  SELECT doc_id * 1048576 +
      |           (row_number() OVER (PARTITION BY doc_id ORDER BY tok)
      |            - 1) tok_id,
      |         doc_id, tok, tv
      |  FROM mdt),
      |cut AS (
      |  SELECT printf('%08x', CAST(least(
      |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
      |           4294967295) AS BIGINT)) h
      |  FROM tid),
      |c AS (SELECT tok_id c_id, tv cv FROM tid
      |      WHERE substr(md5(tok_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
      |assign AS (
      |  SELECT tok_id, doc_id, tv, c_id FROM (
      |    SELECT t.tok_id, t.doc_id, t.tv, c.c_id,
      |      row_number() OVER (PARTITION BY t.tok_id ORDER BY
      |        list_sum(list_transform(range(1, 9), i -> t.tv[i] * c.cv[i]))
      |          DESC, c.c_id) arnk
      |    FROM tid t, c) WHERE arnk = 1),
      |mqt AS (SELECT doc_id q_id, tok qtok, tv qtv FROM mdt
      |        WHERE doc_id < 10),
      |probes AS (
      |  SELECT q_id, qtok, qtv, c_id FROM (
      |    SELECT q.q_id, q.qtok, q.qtv, c.c_id,
      |      row_number() OVER (PARTITION BY q.q_id, q.qtok ORDER BY
      |        list_sum(list_transform(range(1, 9), i -> q.qtv[i] * c.cv[i]))
      |          DESC, c.c_id) prnk
      |    FROM mqt q, c) WHERE prnk <= 4),
      |pair AS (
      |  SELECT p.q_id, p.qtok, a.doc_id,
      |    list_sum(list_transform(range(1, 9), i -> p.qtv[i] * a.tv[i])) dot
      |  FROM probes p JOIN assign a ON a.c_id = p.c_id
      |  WHERE a.doc_id != p.q_id),
      |mx AS (SELECT q_id, qtok, doc_id, max(dot) m FROM pair
      |       GROUP BY 1, 2, 3),
      |sc AS (SELECT q_id, doc_id, sum(m) s FROM mx GROUP BY 1, 2),
      |srk AS (
      |  SELECT q_id, doc_id, sem_rank FROM (
      |    SELECT q_id, doc_id, CAST(row_number() OVER (
      |      PARTITION BY q_id ORDER BY s DESC, doc_id) AS BIGINT)
      |      sem_rank
      |    FROM sc) WHERE sem_rank <= 30),
      |f AS (
      |  SELECT q_id, doc_id, lex_rank, sem_rank,
      |    coalesce(CAST(round(1000000000.0 / (60 + lex_rank)) AS BIGINT),
      |             0)
      |    + coalesce(CAST(round(1000000000.0 / (60 + sem_rank)) AS BIGINT),
      |               0) rrf
      |  FROM lrk FULL OUTER JOIN srk USING (q_id, doc_id))
      |SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM (
      |  SELECT q_id, doc_id, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) rank,
      |    rrf, lex_rank, sem_rank
      |  FROM f) WHERE rank <= 10""".stripMargin

  /** The token-level IVF store at `sub`, built once and reused
    * ([[GraftQuery.reusedStore]]): the first caller pays the N^1.5 token
    * index build + store write, every later run — and every OTHER row
    * sharing the same store — serves the amortized DPP-pruned read. */
  private def storedTokenIndex(s: SparkSession, dir: String, sub: String,
                               dt: DataFrame,
                               metaCols: Seq[String] = Nil)
      : GraftSimilarity.IvfIndex =
    IvfObjectStore.read(s, reusedStore(s, dir, sub, IvfObjectStore)(
      IvfObjectStore.create(s, graft.operators.LateInteraction.tokenIndex(
        dt, metaCols = metaCols), _)))

  /** Rewrite exactly ONE occurrence of `anchor` in `base` (ADVICE r12:
    * `String.replace` substitutes every occurrence and a changed-string
    * check cannot see a second match — a future duplicate of the anchor
    * text would silently corrupt the derived oracle). Fails loudly when
    * the anchor is missing (moved) or ambiguous (duplicated). */
  private def rewriteOnce(base: String, anchor: String, replacement: String,
                          ctx: String): String = {
    val first = base.indexOf(anchor)
    require(first >= 0, s"$ctx: rewrite anchor moved in the base oracle")
    require(base.indexOf(anchor, first + 1) < 0,
      s"$ctx: rewrite anchor matches more than once in the base oracle — " +
      "an all-occurrence substitution would corrupt it")
    base.substring(0, first) + replacement +
      base.substring(first + anchor.length)
  }

  /** The filtered-fusion oracle: [[hybridIvfOracleSql]] with BOTH leg
    * populations restricted to lang = 'en' — the lexical corpus CTE
    * gains the predicate (so BM25's n/avgdl/df describe exactly the
    * filtered corpus: pre-filter statistics, the semantics of passing a
    * filtered `docs`), and the semantic candidate set gains the same
    * restriction (the `where` serve over the lang-carrying index). The
    * query block and the index geometry stay UNfiltered, exactly like
    * the Spark side. */
  private lazy val hybridFilteredOracleSql: String = {
    val s1 = rewriteOnce(hybridIvfOracleSql,
      """d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      FROM documents),""",
      """d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      FROM documents WHERE lang = 'en'),""",
      "hybridFilteredOracleSql(lexical)")
    rewriteOnce(s1,
      "WHERE a.vec_id != p.q_id),",
      "WHERE a.vec_id != p.q_id AND a.vec_id IN " +
        "(SELECT doc_id FROM documents WHERE lang = 'en')),",
      "hybridFilteredOracleSql(semantic)")
  }

  /** The filtered fusion through the QUANTIZED rung (VERDICT r12 #8):
    * [[hybridQ8OracleSql]] with the same two population rewrites as
    * [[hybridFilteredOracleSql]] — the lexical corpus CTE gains the
    * predicate (pre-filter BM25 statistics) and the q8 candidate scan
    * gains the same restriction BEFORE the quantized cut (the cut ranks
    * only filter-satisfying candidates — where a post-filter bug would
    * hide, since a post-cut filter could come up short of kCand). */
  private lazy val hybridFilteredQ8OracleSql: String = {
    val s1 = rewriteOnce(hybridQ8OracleSql,
      """d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      FROM documents),""",
      """d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      FROM documents WHERE lang = 'en'),""",
      "hybridFilteredQ8OracleSql(lexical)")
    rewriteOnce(s1,
      "WHERE a.vec_id != p.q_id),",
      "WHERE a.vec_id != p.q_id AND a.vec_id IN " +
        "(SELECT doc_id FROM documents WHERE lang = 'en')),",
      "hybridFilteredQ8OracleSql(semantic)")
  }

  /** THE PRODUCTION SERVE oracle (VERDICT r15 stretch #9): the
    * everything-at-rest composition replayed end to end — derived from
    * [[hybridFilteredQ8OracleSql]] (pre-filter BM25 statistics + the
    * filtered q8 probe/cut/rerank + RRF) by three anchored rewrites:
    * the lexical corpus gains the Zipf-head augmentation (' the' in
    * every doc, ' uncommonmark' in every 5th — the text_bm25_pruned_skew
    * convention at the density that keeps the FILTERED candidate pool
    * above kCand), the queries carry the payoff term shape
    * [uncommonmark, the] instead of their doc tokens, and the fused
    * ranking is cut at kCand = 30 into the [[mmrOracleSql]] recursive
    * greedy. The oracle serve is UNPRUNED — hash-equality is the
    * pruning-completeness proof for the Spark side's per-query MaxScore
    * cut, exactly the text_bm25_pruned stance lifted through fusion and
    * diversification. */
  private lazy val serveProductionOracleSql: String = {
    val s1 = rewriteOnce(hybridFilteredQ8OracleSql,
      """d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
      FROM documents WHERE lang = 'en'),""",
      """d AS (SELECT doc_id, regexp_split_to_array(
        trim(text) || ' the' ||
        CASE WHEN doc_id % 5 = 0 THEN ' uncommonmark' ELSE '' END,
        '\s+') tk
      FROM documents WHERE lang = 'en'),""",
      "serveProductionOracleSql(corpus)")
    val s2 = rewriteOnce(s1,
      """SELECT doc_id q_id, regexp_split_to_array(trim(text), '\s+') qtk""",
      """SELECT doc_id q_id, ['uncommonmark', 'the'] qtk""",
      "serveProductionOracleSql(queries)")
    val tail = "SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM ("
    val cut = s2.indexOf(tail)
    require(cut >= 0 && s2.indexOf(tail, cut + 1) < 0,
      "serveProductionOracleSql: fused tail anchor moved or duplicated")
    require(s2.startsWith("WITH "),
      "serveProductionOracleSql: base oracle no longer starts with WITH")
    val ctes = s2.substring("WITH ".length, cut).trim
    mmrOracleSql(ctes + ",\n" +
      """hc AS (SELECT q_id, doc_id FROM (
        |    SELECT q_id, doc_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY rrf DESC, doc_id) hrank
        |    FROM f) WHERE hrank <= 30),
        |cand AS (
        |  SELECT hc.q_id, hc.doc_id n_id,
        |    list_cosine_similarity(qq.qv, e.v) rel, e.v
        |  FROM hc JOIN qq ON qq.q_id = hc.q_id
        |          JOIN e ON e.vec_id = hc.doc_id)""".stripMargin,
      k = 10)
  }

  /** The int4 fusion oracle: [[hybridQ8OracleSql]] with the ONE
    * arithmetic difference between the rungs rewritten — the
    * quantization constant (codes in [-127, 127] → [-7, 7]); the
    * integer-cosine cut, rerank, and fusion replay identically. The
    * nibble PACKING is an at-rest representation detail the serve's
    * arithmetic is independent of (quantExpressions pins `graft_q4b_cos`
    * ≡ the unpacked integer formula bit-for-bit). */
  private lazy val hybridQ4OracleSql: String =
    rewriteOnce(hybridQ8OracleSql,
      "round(x * 127.0 / m)",
      "round(x * 7.0 / m)",
      "hybridQ4OracleSql")

  /** The 1-bit fusion oracle: [[hybridQ8OracleSql]] with the TWO
    * arithmetic differences between the rungs rewritten — the quantize
    * step becomes the ±1 sign transform and the candidate score becomes
    * the sign-dot surrogate (dot(sign(q), sign(v))/64 = (bits−2·ham)/
    * bits exactly at dim 64, a dyadic rational — see `graft_b1_cos`);
    * the cut, exact rerank, and fusion replay identically. The bit
    * PACKING is an at-rest representation detail the serve's arithmetic
    * is independent of (quantExpressions pins `graft_b1_cos` ≡ the
    * sign-vector formula bit-for-bit). */
  private lazy val hybridB1OracleSql: String = {
    val s1 = rewriteOnce(hybridQ8OracleSql,
      """q8 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 127.0 / m)) END q
        |       FROM mx),""".stripMargin,
      """q8 AS (SELECT vec_id, v,
        |         list_transform(v, x -> CASE WHEN x > 0 THEN 1.0
        |                                     ELSE -1.0 END) q
        |       FROM mx),""".stripMargin,
      "hybridB1OracleSql/quantize")
    rewriteOnce(s1,
      """CASE WHEN list_dot_product(a8.q, a8.q) = 0
        |           OR list_dot_product(p.qq8, p.qq8) = 0 THEN 0.0
        |         ELSE list_dot_product(p.qq8, a8.q)
        |              / sqrt(list_dot_product(a8.q, a8.q)
        |                     * list_dot_product(p.qq8, p.qq8)) END ac""".stripMargin,
      "list_dot_product(p.qq8, a8.q) / 64.0 ac",
      "hybridB1OracleSql/score")
  }

  /** The filtered late-interaction oracle: [[maxSimIvfOracleSql]] with
    * the candidate TOKEN population restricted to the predicate's
    * documents — probe geometry, centroid seed, and the query block are
    * filter-invariant, exactly the `maxSimTopKWith(where)` semantics
    * (per-token maxima over filter-satisfying documents' tokens only;
    * everything else reverts to the absent-pair 0). */
  private lazy val maxSimFilteredOracleSql: String =
    rewriteOnce(maxSimIvfOracleSql,
      "WHERE a.doc_id != p.q_id),",
      "WHERE a.doc_id != p.q_id AND a.doc_id IN " +
        "(SELECT doc_id FROM documents WHERE lang = 'en')),",
      "maxSimFilteredOracleSql")

  /** The filtered-serve oracle: [[ivfStoredOracleSql]] with the
    * candidate population restricted to the predicate's rows — the
    * centroid build, the probe set, and the query block are all
    * filter-INVARIANT (the filter applies to candidates, not to the
    * index geometry), so the anchored rewrite is exactly the semantics
    * of `ivfTopKWith(where = ...)`. */
  private lazy val ivfFilteredOracleSql: String =
    rewriteOnce(ivfStoredOracleSql,
      "WHERE a.vec_id != p.q_id)",
      "WHERE a.vec_id != p.q_id AND a.vec_id IN " +
        "(SELECT vec_id FROM embeddings WHERE label = 3))",
      "ivfFilteredOracleSql")

  /** The delete-lifecycle oracle: [[ivfStoredOracleSql]] (build on the
    * FULL collection — centroids and the query block are delete-invariant)
    * with the candidate population filtered to the surviving ids. The
    * anchored rewrite keeps the shared provenance explicit: any drift in
    * the stored oracle flows into this one or fails loudly. */
  private lazy val ivfDeleteOracleSql: String =
    rewriteOnce(ivfStoredOracleSql,
      "WHERE a.vec_id != p.q_id)",
      "WHERE a.vec_id != p.q_id AND a.vec_id % 7 != 3)",
      "ivfDeleteOracleSql")

  override def all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "ann_cosine_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.bruteForceTopK(e, queryBlock(e), k = 5)
      },
      Some("""WITH q AS (
        |  SELECT vec_id q_id, embedding qe FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q_id, e.vec_id n_id,
        |    list_cosine_similarity(qe::DOUBLE[], e.embedding::DOUBLE[]) c
        |  FROM q JOIN embeddings e ON e.vec_id != q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM s)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    GraftQuery(
      "ann_ivf_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.ivfTopK(e, queryBlock(e), k = 5, nprobe = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 4),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    // Two-level (coarse-quantizer) IVF serve as an ORACLED row — the
    // high-dim probe tier (r7): ⌈√M⌉ super-centroids hash-picked over the
    // M centroids (md5 of c_id || 'sc' — the second-level salt keeps the
    // pick independent of the level-1 threshold), each centroid assigned
    // to its nearest super, queries probe their top-2 supers and then the
    // top-4 cells WITHIN those supers, exact rerank inside the probed
    // cells. The Spark side's per-super in-row slice + global graft_topk
    // equals a single global top-nprobe over the probed supers' cells (a
    // globally-top cell is top-nprobe in its own super), which is the
    // form the DuckDB oracle replays. Every stage is deterministic — no
    // RNG, no float aggregation — so the row is hash-certified, and it
    // exercises sProbe < supers (the genuinely two-level regime), not the
    // covering degenerate case the parity spec pins.
    GraftQuery(
      "ann_ivf_coarse",
      (s, dir) => {
        val e = vecs(s, dir)
        val idx = GraftSimilarity.buildIvfIndex(e)
        val coarse = GraftSimilarity.buildCoarseQuantizer(idx.centroids)
        GraftSimilarity.ivfTopKWithCoarse(idx, coarse, queryBlock(e),
                                          k = 5, sProbe = 2, nprobe = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |mcut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM c),
        |sc AS (SELECT c_id sc_id, cv scv FROM c
        |       WHERE substr(md5(c_id::VARCHAR || 'sc'), 1, 8)
        |             < (SELECT h FROM mcut)),
        |cassign AS (
        |  SELECT c_id, cv, sc_id FROM (
        |    SELECT c.c_id, c.cv, sc.sc_id,
        |      row_number() OVER (PARTITION BY c.c_id
        |        ORDER BY list_cosine_similarity(c.cv, sc.scv) DESC, sc.sc_id) srnk
        |    FROM c, sc) WHERE srnk = 1),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |sprobes AS (
        |  SELECT q_id, qv, sc_id FROM (
        |    SELECT q.q_id, q.qv, sc.sc_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, sc.scv) DESC, sc.sc_id) prnk
        |    FROM q, sc) WHERE prnk <= 2),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT s.q_id, s.qv, ca.c_id, ca.cv,
        |      row_number() OVER (PARTITION BY s.q_id
        |        ORDER BY list_cosine_similarity(s.qv, ca.cv) DESC, ca.c_id) crnk
        |    FROM sprobes s JOIN cassign ca ON ca.sc_id = s.sc_id)
        |  WHERE crnk <= 4),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    // METADATA-FILTERED vector search over the at-rest store — the
    // predicate ("label = 3" standing in for lang/source/license
    // filters) rides INSIDE the index: buildIvfIndex(metaCols) lands the
    // label beside each vector in the cell files, and the where-serve
    // pushes the predicate down to the parquet scan (PushedFilters on
    // label, spec-pinned) where it composes with the DPP cell pruning —
    // the pre-filtered-ANN shape every production vector store serves
    // (top-k over exactly the filter-satisfying population, never
    // post-filtering a top-k that can come up short). The oracle is the
    // stored-serve SQL with candidates restricted to the predicate.
    GraftQuery(
      "ann_ivf_filtered",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"),
                  expr("transform(embedding, x -> cast(x AS double))")
                    .as("v"),
                  col("label"))
        val out = freshStore(s, dir, "ivf_filtered")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e, metaCols = Seq("label")), _))
        GraftSimilarity.ivfTopKWith(
          IvfObjectStore.read(s, out), queryBlock(vecs(s, dir)),
          k = 5, nprobe = 4, where = Some(col("label") === 3))
      },
      Some(ivfFilteredOracleSql)),

    // IVF index AT REST as an oracled row: build on the full collection,
    // IvfObjectStore.create (direct-write commit protocol — no renames,
    // no _temporary), read the manifest snapshot back, serve. The served
    // output is identical to ann_ivf_topk (same centroid/assign/probe
    // math), so the oracle SQL is shared VERBATIM — what this row adds to
    // the oracle gate is the store path: task-reported file lists, the
    // checksummed manifest chain, the partition-column type round-trip,
    // and the dynamic-partition-pruned serve off the explicit-file-list
    // read must preserve every value (OperatorLibSpec pins the
    // dynamicpruning plan and the cell layout).
    // ManifestStoreSpec covers the mutation lifecycle (append, compact,
    // vacuum) and ManifestProtocolSpec the crash/torn/race protocol on a
    // mock object store.
    GraftQuery(
      "ann_ivf_stored_manifest",
      (s, dir) => {
        val e = vecs(s, dir)
        val out = freshStore(s, dir, "ivf_manifest_store")(
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), _))
        GraftSimilarity.ivfTopKWith(IvfObjectStore.read(s, out),
                                    queryBlock(e), k = 5, nprobe = 4)
      },
      Some(ivfStoredOracleSql)),

    // ROW DELETION from the at-rest store — the takedown/opt-out path a
    // production embedding store runs routinely (VERDICT r11 missing #1).
    // Serve-after-delete ≡ serve over the filtered population under the
    // unchanged centroids (deletes never move cells), which is what the
    // oracle replays. The delete publishes a version with the touched cell
    // slivers rewritten (snapshot-scoped physical removal; time travel
    // keeps pre-delete versions until vacuum — the compliance knob).
    GraftQuery(
      "ann_ivf_delete_manifest",
      (s, dir) => {
        val e = vecs(s, dir)
        val out = freshStore(s, dir, "ivf_delete_manifest")(
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), _))
        IvfObjectStore.delete(
          s, out, e.filter(col("vec_id") % 7 === 3).select("vec_id"))
        GraftSimilarity.ivfTopKWith(IvfObjectStore.read(s, out),
                                    queryBlock(e), k = 5, nprobe = 4)
      },
      Some(ivfDeleteOracleSql)),

    // The QUANTIZED at-rest serve tier (ivfTopKWithQ8): the store's cell
    // files carry q8 = graft_q8(v) next to the exact vectors; candidates
    // in the probed cells are scored with the pure-integer graft_q8_cos
    // off that column (~8× fewer vector bytes in the candidate scan),
    // the top k·rerankFactor per query rerank with exact cosine, and
    // only those survivors' full vectors are fetched (literal n_id
    // pushdown onto the n_id-sorted cell files — row-group stats prune
    // the read; spec pins PushedFilters). Both stages are cross-engine
    // exact (the q8 estimate is integer arithmetic with one division, as
    // ann_quantized_topk certifies in-flight), so the oracle replays
    // build + probe + quantized cut + exact rerank and hash-matches.
    GraftQuery(
      "ann_ivf_stored_q8",
      (s, dir) => {
        val e = vecs(s, dir)
        val out = freshStore(s, dir, "ivf_index_q8")(
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), _))
        GraftSimilarity.ivfTopKWithQ8(IvfObjectStore.read(s, out),
                                      queryBlock(e), k = 5, nprobe = 4,
                                      rerankFactor = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |mx AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) m FROM e),
        |q8 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 127.0 / m)) END q
        |       FROM mx),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |qq AS (SELECT vec_id q_id, v qv, q qq8 FROM q8 WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, qq8, c_id FROM (
        |    SELECT qq.q_id, qq.qv, qq.qq8, c.c_id,
        |      row_number() OVER (PARTITION BY qq.q_id
        |        ORDER BY list_cosine_similarity(qq.qv, c.cv) DESC, c.c_id) prnk
        |    FROM qq, c) WHERE prnk <= 4),
        |ap AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    CASE WHEN list_dot_product(a8.q, a8.q) = 0
        |           OR list_dot_product(p.qq8, p.qq8) = 0 THEN 0.0
        |         ELSE list_dot_product(p.qq8, a8.q)
        |              / sqrt(list_dot_product(a8.q, a8.q)
        |                     * list_dot_product(p.qq8, p.qq8)) END ac
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  JOIN q8 a8 ON a8.vec_id = a.vec_id
        |  WHERE a.vec_id != p.q_id),
        |cand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 20),
        |scored AS (
        |  SELECT cd.q_id, cd.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM cand cd
        |  JOIN qq ON qq.q_id = cd.q_id
        |  JOIN e ON e.vec_id = cd.n_id),
        |r AS (SELECT q_id, n_id, cs,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(cs, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // The int4 rung of the same at-rest serve (ivfTopKWithQ4): the
    // store's cell files carry q4 = nibble-packed round(x·7/max|x|)
    // beside q8 — HALF a byte per component, 16× less candidate I/O
    // than the raw doubles — and the serve is the identical two-stage
    // shape (integer nibble cut at k·rerankFactor, gated exact rerank).
    // The coarser codes make this the recall-sensitive rung: ann_tier
    // _recall measures the price, this row certifies the arithmetic —
    // the oracle replays the 4-bit quantization (round(x·7/m)), the
    // integer cosine cut, and the exact rerank, and hash-matches.
    GraftQuery(
      "ann_ivf_stored_q4",
      (s, dir) => {
        val e = vecs(s, dir)
        // the int4 tier is opt-in at write (stores that never serve it
        // skip the second quantization pass — VERDICT r12 #3)
        val out = freshStore(s, dir, "ivf_index_q4")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e), _, q4 = true))
        GraftSimilarity.ivfTopKWithQ4(IvfObjectStore.read(s, out),
                                      queryBlock(e), k = 5, nprobe = 4,
                                      rerankFactor = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |mx AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) m FROM e),
        |q4 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 7.0 / m)) END q
        |       FROM mx),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |qq AS (SELECT vec_id q_id, v qv, q qq4 FROM q4 WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, qq4, c_id FROM (
        |    SELECT qq.q_id, qq.qv, qq.qq4, c.c_id,
        |      row_number() OVER (PARTITION BY qq.q_id
        |        ORDER BY list_cosine_similarity(qq.qv, c.cv) DESC, c.c_id) prnk
        |    FROM qq, c) WHERE prnk <= 4),
        |ap AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    CASE WHEN list_dot_product(a4.q, a4.q) = 0
        |           OR list_dot_product(p.qq4, p.qq4) = 0 THEN 0.0
        |         ELSE list_dot_product(p.qq4, a4.q)
        |              / sqrt(list_dot_product(a4.q, a4.q)
        |                     * list_dot_product(p.qq4, p.qq4)) END ac
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  JOIN q4 a4 ON a4.vec_id = a.vec_id
        |  WHERE a.vec_id != p.q_id),
        |cand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 20),
        |scored AS (
        |  SELECT cd.q_id, cd.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM cand cd
        |  JOIN qq ON qq.q_id = cd.q_id
        |  JOIN e ON e.vec_id = cd.n_id),
        |r AS (SELECT q_id, n_id, cs,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(cs, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // The ONE-BIT rung of the at-rest serve (ivfTopKWithB1): the store's
    // cell files carry b1 = sign-packed bits (opt-in at write, like q4)
    // — 1 bit per component, 64× less candidate I/O than the raw doubles
    // at dim 64 — and the serve is the identical two-stage shape
    // (XOR+POPCNT Hamming cut at k·rerankFactor, gated exact rerank).
    // The b1 surrogate (bits−2·ham)/bits is a dyadic rational, exact in
    // any engine, and a monotone image of Hamming distance — ties are
    // COMMON (65 distinct values at dim 64) and resolve by ascending id
    // on both sides, which is what makes the cut reproducible. The
    // oracle replays the sign quantization as a ±1 dot product over the
    // raw components (dot(sign(q),sign(v)) = bits − 2·ham exactly), the
    // probe walk, and the exact rerank, and hash-matches.
    GraftQuery(
      "ann_ivf_stored_b1",
      (s, dir) => {
        val e = vecs(s, dir)
        // the 1-bit tier is opt-in at write, same contract as q4
        val out = freshStore(s, dir, "ivf_index_b1")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e), _, b1 = true))
        GraftSimilarity.ivfTopKWithB1(IvfObjectStore.read(s, out),
                                      queryBlock(e), k = 5, nprobe = 4,
                                      rerankFactor = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |b1 AS (SELECT vec_id, v,
        |         list_transform(v, x -> CASE WHEN x > 0 THEN 1.0
        |                                     ELSE -1.0 END) s FROM e),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |qq AS (SELECT vec_id q_id, v qv, s qs FROM b1 WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, qs, c_id FROM (
        |    SELECT qq.q_id, qq.qv, qq.qs, c.c_id,
        |      row_number() OVER (PARTITION BY qq.q_id
        |        ORDER BY list_cosine_similarity(qq.qv, c.cv) DESC, c.c_id) prnk
        |    FROM qq, c) WHERE prnk <= 4),
        |ap AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_dot_product(p.qs, ab.s) / 64.0 ac
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  JOIN b1 ab ON ab.vec_id = a.vec_id
        |  WHERE a.vec_id != p.q_id),
        |cand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 20),
        |scored AS (
        |  SELECT cd.q_id, cd.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM cand cd
        |  JOIN qq ON qq.q_id = cd.q_id
        |  JOIN e ON e.vec_id = cd.n_id),
        |r AS (SELECT q_id, n_id, cs,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(cs, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // The 1-bit rung IN FLIGHT (quantizedTopKB1, no store): sign-pack
    // the whole corpus, Hamming-cut to k·rerankFactor per query, exact
    // rerank — the brute twin that certifies the b1 arithmetic the same
    // way ann_quantized_topk certifies q8's. At 100 TB this is the
    // candidate kernel whose scan reads 8 bytes per 64-dim vector.
    GraftQuery(
      "ann_b1_hamming_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.quantizedTopKB1(e, queryBlock(e), k = 5,
                                        rerankFactor = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |b1 AS (SELECT vec_id, v,
        |         list_transform(v, x -> CASE WHEN x > 0 THEN 1.0
        |                                     ELSE -1.0 END) s FROM e),
        |qq AS (SELECT vec_id q_id, v qv, s qs FROM b1 WHERE vec_id < 10),
        |ap AS (
        |  SELECT q_id, eb.vec_id n_id,
        |    list_dot_product(qq.qs, eb.s) / 64.0 ac
        |  FROM qq JOIN b1 eb ON eb.vec_id != qq.q_id),
        |cand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 20),
        |scored AS (
        |  SELECT c.q_id, c.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM cand c
        |  JOIN qq ON qq.q_id = c.q_id
        |  JOIN e ON e.vec_id = c.n_id),
        |r AS (SELECT q_id, n_id, cs,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(cs, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // IVF incremental-append flow as an ORACLED row: the index is built
    // on a seed split (centroids = md5-threshold pick over the SEED only,
    // √(N/4) of them), the remaining vectors arrive later via
    // GraftSimilarity.ivfAppend (assign-only, centroids fixed), and the
    // appended index serves the query batch. The DuckDB oracle replays
    // the same construction — seed-subset centroid cut, all-vector
    // assignment to those fixed centroids, probe + exact rerank — so the
    // daily-batch append path is hash-certified end-to-end, not just
    // spec-pinned (OperatorLibSpec additionally pins append≡from-scratch
    // and commutativity).
    GraftQuery(
      "ann_ivf_append",
      (s, dir) => {
        val e = vecs(s, dir)
        val idx = GraftSimilarity.ivfAppend(
          GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") % 4 === 0)),
          e.filter(col("vec_id") % 4 =!= 0))
        GraftSimilarity.ivfTopKWith(idx, queryBlock(e), k = 5, nprobe = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |seed AS (SELECT * FROM e WHERE vec_id % 4 = 0),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM seed),
        |c AS (SELECT vec_id c_id, v cv FROM seed
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 4),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    // SRP-LSH top-k. Long oracled rows-only ("hash bits are
    // engine-specific") — but they aren't: the hyperplane matrix is a
    // pure function of (nbits=16, dim=64, seed=42), so the oracle inlines
    // the very doubles the expression derives (computed by the same
    // `GraftSrpSig.planes` at SQL-authoring time — no RNG, no state) and
    // DuckDB replays the signature walk: per-bit sign of an in-order dot
    // product (list_dot_product accumulates left-to-right like the
    // codegen kernel — identical operands, identical order, identical
    // IEEE result), 4-bit band split via shift/mask, any-band collision,
    // exact rerank.
    GraftQuery(
      "ann_lsh_bucket",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.srpTopK(e, queryBlock(e), k = 5, nbits = 16, bands = 4)
      },
      Some(lshBucketOracleSql)),

    // The append→drift→REBUILD lifecycle end-to-end under the oracle:
    // build on the corpus, then append a CLONE BURST — every 5th
    // vector's id carrying vector 7's embedding (the one-hot-region
    // ingest drift ivfAppend's scaladoc warns about): all clones land in
    // v7's cell, max occupancy ≈ N/5 while the mean stays ≈ 1.2√N, so
    // ivfMaybeRebuild at ratio 1.5 fires deterministically at every SF
    // (the require guards the construction; the no-fire pass-through is
    // reference-identity-pinned in OperatorLibSpec). The rebuilt index is
    // definitionally a fresh build over the grown population, so DuckDB
    // replays the standard construction on the cloned-augmented corpus —
    // certifying the rebuild path restores the canonical index, values
    // and all.
    GraftQuery(
      "ann_ivf_rebuild",
      (s, dir) => {
        val e = vecs(s, dir)
        val off = broadcast(e.agg((max("vec_id") + 1).cast("long")
          .as("__off")))
        val v7 = broadcast(e.filter(col("vec_id") === 7)
          .select(col("v").as("__v7")))
        val clones = e.filter(col("vec_id") % 5 === 0)
          .crossJoin(off).crossJoin(v7)
          .select((col("vec_id") + col("__off")).as("vec_id"),
                  col("__v7").as("v"))
        val grown = GraftSimilarity.ivfAppend(
          GraftSimilarity.buildIvfIndex(e), clones)
        val idx = GraftSimilarity.ivfMaybeRebuild(grown,
                                                  maxOccupancyRatio = 1.5)
        require(!(idx eq grown), "drift construction must trip the rebuild")
        GraftSimilarity.ivfTopKWith(idx, queryBlock(e), k = 5, nprobe = 4)
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |e AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM base),
        |         (SELECT v FROM base WHERE vec_id = 7)
        |  FROM base WHERE vec_id % 5 = 0),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |q AS (SELECT vec_id q_id, v qv FROM base WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 4),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    // IVF with Lloyd-refined centroids (2 k-means rounds over the
    // hash-seeded init, [[GraftSimilarity.kmeansRefine]]) — the trained-
    // quantizer tier. ORACLED since the refinement went integer-exact:
    // members are rounded to the 2^20 fixed-point grid and each
    // centroid is the UN-DIVIDED component sum (cosine is
    // scale-invariant), so every partial sum is an integer-valued
    // double, exact in any merge order, and DuckDB replays both Lloyd
    // rounds bit-identically (unrolled CTEs: assign -> per-component
    // integer sum -> reassemble, twice). SimilaritySpec additionally
    // pins recall and the k-results-per-query shape.
    GraftQuery(
      "ann_ivf_kmeans",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.ivfTopK(e, queryBlock(e), k = 5, nprobe = 4,
                                refineIters = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c0 AS (SELECT vec_id c_id, v cv FROM e
        |       WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |d AS (SELECT unnest(range(1, array_length(v) + 1)) i
        |      FROM (SELECT v FROM e LIMIT 1)),
        |a1 AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c0.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c0.cv) DESC, c0.c_id) arnk
        |    FROM e, c0) WHERE arnk = 1),
        |c1 AS (
        |  SELECT c_id, list(s ORDER BY i) cv FROM (
        |    SELECT c_id, d.i i, sum(round(v[d.i] * 1048576.0)) s
        |    FROM a1, d GROUP BY c_id, d.i)
        |  GROUP BY c_id),
        |a2 AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c1.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c1.cv) DESC, c1.c_id) arnk
        |    FROM e, c1) WHERE arnk = 1),
        |c2 AS (
        |  SELECT c_id, list(s ORDER BY i) cv FROM (
        |    SELECT c_id, d.i i, sum(round(v[d.i] * 1048576.0)) s
        |    FROM a2, d GROUP BY c_id, d.i)
        |  GROUP BY c_id),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c2.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c2.cv) DESC, c2.c_id) arnk
        |    FROM e, c2) WHERE arnk = 1),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c2.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c2.cv) DESC, c2.c_id) prnk
        |    FROM q, c2) WHERE prnk <= 4),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, rnk, round(c, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    // Scalar-quantized tier: candidate scoring on int8-range vectors
    // (graft_q8 — scales cancel in the normalized cosine, so the estimate
    // is pure integer arithmetic and cross-engine exact), top-20 by
    // quantized score, exact-cosine rerank to top-5. The oracle replays
    // the same two-stage algorithm in SQL, so this tier hash-matches too.
    GraftQuery(
      "ann_quantized_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.quantizedTopK(e, queryBlock(e), k = 5,
                                      rerankFactor = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |mx AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) m FROM e),
        |q8 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 127.0 / m)) END q
        |       FROM mx),
        |qq AS (SELECT vec_id q_id, v qv, q qq8 FROM q8 WHERE vec_id < 10),
        |ap AS (
        |  SELECT q_id, e8.vec_id n_id,
        |    CASE WHEN list_dot_product(e8.q, e8.q) = 0
        |           OR list_dot_product(qq.qq8, qq.qq8) = 0 THEN 0.0
        |         ELSE list_dot_product(qq.qq8, e8.q)
        |              / sqrt(list_dot_product(e8.q, e8.q)
        |                     * list_dot_product(qq.qq8, qq.qq8)) END ac
        |  FROM qq JOIN q8 e8 ON e8.vec_id != qq.q_id),
        |cand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) r
        |    FROM ap) WHERE r <= 20),
        |scored AS (
        |  SELECT c.q_id, c.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM cand c
        |  JOIN qq ON qq.q_id = c.q_id
        |  JOIN e ON e.vec_id = c.n_id),
        |r AS (SELECT q_id, n_id, cs,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) rnk
        |      FROM scored)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(cs, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // DIVERSIFIED serving: Maximal Marginal Relevance re-rank of the
    // exact top-20 candidate pool (λ=0.5, k=5) — greedy
    // λ·rel − (1−λ)·max-sim-to-selected with the true (unclamped) max
    // and lower-id ties, per Carbonell & Goldstein 1998. Every score is
    // a fixed-order IEEE expression over the same cosines both engines
    // compute bit-identically, so the DuckDB oracle replays the greedy
    // walk as a recursive CTE and hash-matches rank-for-rank.
    GraftQuery(
      "ann_mmr_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.mmrTopK(e, queryBlock(e), k = 5, kCand = 20,
                                lambda = 0.5)
      },
      Some(mmrOracleSql(mmrBruteCandCte))),

    // The same diversification served from the at-rest IVF store: the
    // candidate pool is ivfTopKWith at kCand (DPP-pruned probe scan +
    // exact rerank), the greedy stage is identical — the MMR serve a
    // 100-TB corpus actually runs. Oracle = the IVF probe replay
    // feeding the same recursive-CTE greedy.
    GraftQuery(
      "ann_mmr_ivf",
      (s, dir) => {
        val e = vecs(s, dir)
        val out = freshStore(s, dir, "ivf_index_mmr")(
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), _))
        GraftSimilarity.mmrTopKWith(IvfObjectStore.read(s, out),
                                    queryBlock(e), k = 5, kCand = 20,
                                    lambda = 0.5, nprobe = 4)
      },
      Some(mmrOracleSql(mmrIvfCandCte))),

    // METADATA-FILTERED diversified serve (mmrTopKWith(where)): the
    // label predicate restricts the candidate population through the
    // store's pre-filter contract (pushed to the reader, composing with
    // DPP), the MMR greedy then diversifies WITHIN the allowed slice —
    // "k varied results from the permitted sources", the filtered-RAG
    // serving shape. Oracle = the filtered candidate CTE (anchored
    // rewrite of the IVF MMR replay) into the same recursive greedy.
    GraftQuery(
      "ann_mmr_filtered",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"),
                  expr("transform(embedding, x -> cast(x AS double))")
                    .as("v"),
                  col("label"))
        val out = freshStore(s, dir, "mmr_filtered")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e, metaCols = Seq("label")), _))
        GraftSimilarity.mmrTopKWith(
          IvfObjectStore.read(s, out), queryBlock(vecs(s, dir)),
          k = 5, kCand = 20, lambda = 0.5, nprobe = 4,
          where = Some(col("label") === 3))
      },
      Some(mmrOracleSql(mmrIvfFilteredCandCte))),

    // NDCG@5 of the IVF serve vs exact truth at nprobe=2 — the
    // position-sensitive companion of ann_recall_eval (recall counts
    // hits; NDCG weights them by where they landed, which is what a
    // context window consumes). Gains are rank-derived (k−t+1), the
    // irrational log₂ discounts are inlined as round(1e6/log₂(pos+1))
    // LITERALS computed once in Scala and shared verbatim by the plan
    // and this SQL (the SRP-plane technique) — every sum is an exact
    // integer and ndcg_micro = dcg·1e6 div idcg hashes identically.
    GraftQuery(
      "ann_ndcg_eval",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.ndcgAtK(e, queryBlock(e), k = 5, nprobe = 2)
      },
      Some {
        val disc = GraftSimilarity.ndcgDiscounts(5)
        val idcg = (1 to 5).map(i => (5 - i + 1).toLong * disc(i - 1)).sum
        val discCase = (1 to 5)
          .map(i => s"WHEN ${i} THEN ${disc(i - 1)}")
          .mkString("CASE s.rnk ", " ", " ELSE 0 END")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |bf AS (
        |  SELECT q_id, n_id, rnk FROM (
        |    SELECT q_id, e.vec_id n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) rnk
        |    FROM q JOIN e ON e.vec_id != q_id) WHERE rnk <= 5),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 2),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |ivf AS (
        |  SELECT q_id, n_id, rnk FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |g AS (
        |  SELECT s.q_id, coalesce(6 - bf.rnk, 0) * ($discCase) AS d
        |  FROM ivf s LEFT JOIN bf
        |    ON bf.q_id = s.q_id AND bf.n_id = s.n_id)
        |SELECT q_id,
        |  CAST(sum(d) * 1000000 // $idcg AS BIGINT) AS ndcg_micro
        |FROM g GROUP BY q_id""".stripMargin
      }),

    // MRR@5 of the IVF serve vs exact truth at nprobe=2 — the third leg
    // of the eval trio (recall / NDCG / MRR): how deep a consumer reads
    // before the first true neighbor. Pure integer arithmetic
    // (10⁶ div first-hit rank, 0 when none surfaced), same replay CTEs
    // as ann_ndcg_eval.
    GraftQuery(
      "ann_mrr_eval",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.mrrAtK(e, queryBlock(e), k = 5, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |bf AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, e.vec_id n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) rnk
        |    FROM q JOIN e ON e.vec_id != q_id) WHERE rnk <= 5),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 2),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |ivf AS (
        |  SELECT q_id, n_id, rnk FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |fr AS (
        |  SELECT s.q_id, min(CASE WHEN bf.n_id IS NOT NULL
        |                          THEN s.rnk END) AS f
        |  FROM ivf s LEFT JOIN bf
        |    ON bf.q_id = s.q_id AND bf.n_id = s.n_id
        |  GROUP BY s.q_id)
        |SELECT q_id,
        |  CAST(coalesce(1000000 // f, 0) AS BIGINT) AS mrr_micro
        |FROM fr""".stripMargin)),

    // Embedding-proximity data selection (SemDeDup / DCLM-style): score
    // every vector by cosine to the integer-exact centroid of the seed
    // subset (vec_id % 10 == 0 — the "curated reference" stand-in) and
    // keep the global top 50. The centroid is the seed sum on the 2^20
    // fixed-point grid (exact in any merge order; cosine scale-invariance
    // makes division unnecessary), so the oracle replays it bit-for-bit.
    // Plan: 1-row centroid broadcast → map-side cosines → TakeOrdered;
    // zero wide shuffles at any corpus size.
    GraftQuery(
      "pipeline_embed_select",
      (s, dir) =>
        GraftSimilarity.centroidSelect(
          vecs(s, dir), isSeed = col("vec_id") % 10 === 0, k = 50),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |d AS (SELECT unnest(range(1, array_length(v) + 1)) i
        |      FROM (SELECT v FROM e LIMIT 1)),
        |cv AS (
        |  SELECT list(s ORDER BY i) cv FROM (
        |    SELECT d.i i, sum(round(v[d.i] * 1048576.0)) s
        |    FROM e, d WHERE vec_id % 10 = 0 GROUP BY d.i)),
        |sc AS (
        |  SELECT vec_id, list_cosine_similarity(e.v, cv.cv) c
        |  FROM e, cv),
        |r AS (SELECT vec_id, c,
        |        row_number() OVER (ORDER BY c DESC, vec_id) rank
        |      FROM sc)
        |SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(c, 4) AS cos
        |FROM r WHERE rank <= 50""".stripMargin)),

    // Hard-negative mining for contrastive training: per anchor, the
    // top-5 most-similar DIFFERENT-label vectors with cosine < 0.98 (the
    // false-negative guard — a different-label vector at cosine ~1 is a
    // labeling error, not a negative). The anchor minibatch broadcasts
    // into a pure map over the collection scan; label and band filters
    // run map-side; graft_topk moves k rows per anchor per partition —
    // zero corpus shuffle at any collection size.
    GraftQuery(
      "pipeline_hard_negatives",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"),
                  expr("transform(embedding, x -> cast(x AS double))").as("v"),
                  col("label"))
        GraftSimilarity.hardNegatives(
          e,
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
                    col("label").as("q_label")),
          k = 5, simHi = 0.98)
      },
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings),
        |q AS (SELECT vec_id q_id, v qv, label ql FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT q_id, e.vec_id n_id, list_cosine_similarity(qv, e.v) c
        |  FROM q JOIN e ON e.vec_id != q_id AND e.label != q.ql),
        |b AS (SELECT * FROM s WHERE c < 0.98),
        |r AS (SELECT q_id, n_id, c,
        |        row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |      FROM b)
        |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, round(c, 4) AS cos
        |FROM r WHERE rnk <= 5""".stripMargin)),

    // Exact second-moment (gram) matrix of the embedding corpus on the
    // 2^10 fixed-point grid — the distributed half of PCA/whitening:
    // per-row outer products fold map-side into ONE d(d+1)/2 Int64
    // accumulator (graft_vec_sum_long, overflow-checked), so the only
    // exchange is O(d²) longs and the corpus never shuffles. The grid is
    // a power of two, so quantization is exact in double and DuckDB
    // replays every product bit-for-bit; centered covariance is the
    // client-side exact rational (n·sxy − sx·sy)/n²·grid².
    GraftQuery(
      "embed_gram_matrix",
      (s, dir) =>
        GraftSimilarity.gramMatrix(
          t(s, dir, "embeddings").select(
            expr("transform(embedding, x -> cast(x AS double))").as("v")),
          "v", grid = 1024L),
      Some("""WITH e AS (
        |  SELECT [CAST(round(x * 1024) AS BIGINT)
        |          FOR x IN embedding::DOUBLE[]] q
        |  FROM embeddings),
        |d AS (SELECT unnest(range(0, len(q))) i FROM (SELECT q FROM e LIMIT 1)),
        |sq AS (SELECT d.i i, CAST(sum(q[d.i + 1]) AS BIGINT) s
        |       FROM e, d GROUP BY d.i),
        |sxy AS (
        |  SELECT a.i i, b.i j,
        |    CAST(sum(e.q[a.i + 1] * e.q[b.i + 1]) AS BIGINT) sxy
        |  FROM e, d a, d b WHERE b.i >= a.i GROUP BY a.i, b.i)
        |SELECT CAST(sxy.i AS BIGINT) AS i, CAST(sxy.j AS BIGINT) AS j,
        |  sxy.sxy AS sxy, sa.s AS sx, sb.s AS sy,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n
        |FROM sxy
        |JOIN sq sa ON sa.i = sxy.i
        |JOIN sq sb ON sb.i = sxy.j""".stripMargin)),

    // Recall@k of the IVF serving path against brute-force ground truth —
    // the nprobe-tuning measurement as a first-class query. Ground truth
    // is one eval-block-sized linear scan (the price of truth); the IVF
    // side is exactly the serving path. Deterministic end to end
    // (hash-picked centroids, stated tie-breaks), so the oracle replays
    // both pipelines and the recall numbers hash-match: a change in them
    // is a real index regression, never noise.
    GraftQuery(
      "ann_recall_eval",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.recallAtK(e, queryBlock(e), k = 5, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |bf AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, e.vec_id n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) rnk
        |    FROM q JOIN e ON e.vec_id != q_id) WHERE rnk <= 5),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |probes AS (
        |  SELECT q_id, qv, c_id FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 2),
        |scored AS (
        |  SELECT p.q_id, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |ivf AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) rnk
        |    FROM scored) WHERE rnk <= 5)
        |SELECT b.q_id, CAST(count(i.n_id) AS BIGINT) AS n_hits,
        |  round(count(i.n_id) / count(*), 4) AS recall
        |FROM bf b LEFT JOIN ivf i USING (q_id, n_id)
        |GROUP BY b.q_id""".stripMargin)),

    // Recall@k across an nprobe SWEEP over ONE built index — the actual
    // nprobe-tuning loop ([[GraftSimilarity.recallAtKWith]]): one probe
    // pass at max(nprobes), every (query, candidate) cosine computed
    // once, each row fanning out only into the sweep values that probe
    // its cell; ground truth one linear scan shared by the whole sweep.
    // The one-shot ann_recall_eval rebuilt the index per nprobe value —
    // this is the fixed-index cost shape its use case needs (VERDICT
    // r10). Deterministic end to end, so the oracle replays the build,
    // the ranked probe list, and the per-nprobe rerank exactly.
    GraftQuery(
      "ann_recall_sweep",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.recallAtKWith(
          GraftSimilarity.buildIvfIndex(e), queryBlock(e), k = 5,
          nprobes = Seq(1, 2, 4))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |bf AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, e.vec_id n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY list_cosine_similarity(qv, e.v) DESC, e.vec_id) rnk
        |    FROM q JOIN e ON e.vec_id != q_id) WHERE rnk <= 5),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |c AS (SELECT vec_id c_id, v cv FROM e
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |assign AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT e.vec_id, e.v, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.c_id) arnk
        |    FROM e, c) WHERE arnk = 1),
        |probes AS (
        |  SELECT q_id, qv, c_id, prnk FROM (
        |    SELECT q.q_id, q.qv, c.c_id,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.c_id) prnk
        |    FROM q, c) WHERE prnk <= 4),
        |scored AS (
        |  SELECT p.q_id, p.prnk, a.vec_id n_id,
        |    list_cosine_similarity(p.qv, a.v) c
        |  FROM probes p JOIN assign a ON p.c_id = a.c_id
        |  WHERE a.vec_id != p.q_id),
        |nps AS (SELECT unnest([1, 2, 4]) AS np),
        |ivf AS (
        |  SELECT np, q_id, n_id FROM (
        |    SELECT nps.np, s.q_id, s.n_id,
        |      row_number() OVER (PARTITION BY nps.np, s.q_id
        |        ORDER BY s.c DESC, s.n_id) rnk
        |    FROM scored s JOIN nps ON s.prnk <= nps.np) WHERE rnk <= 5)
        |SELECT CAST(t.np AS BIGINT) AS nprobe, t.q_id,
        |  CAST(count(i.n_id) AS BIGINT) AS n_hits,
        |  round(count(i.n_id) / count(*), 4) AS recall
        |FROM (SELECT b.q_id, b.n_id, nps.np FROM bf b, nps) t
        |LEFT JOIN ivf i ON i.np = t.np AND i.q_id = t.q_id
        |              AND i.n_id = t.n_id
        |GROUP BY t.np, t.q_id""".stripMargin)),

    // Hybrid lexical+semantic retrieval fused by reciprocal rank — the
    // RAG serving recipe ([[graft.operators.HybridRetrieval.hybridTopK]];
    // scale notes there: each leg is the already-audited retrieval
    // kernel, fusion touches ≤ 2·kCand rows per query at any corpus
    // size). Every output column is an integer or an integer-grid sum,
    // so the oracle replays both legs and the fusion exactly.
    GraftQuery(
      "ann_hybrid_rrf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        graft.operators.HybridRetrieval.hybridTopK(
          docs, e, queries, k = 10, kCand = 30, rrfK = 60)
      },
      Some("""WITH q AS (
        |  SELECT doc_id q_id,
        |    regexp_split_to_array(trim(text), '\s+') qtk, embedding qe
        |  FROM documents JOIN embeddings ON vec_id = doc_id
        |  WHERE doc_id < 10),
        |qt AS (SELECT q_id, unnest(list_distinct(qtk)) term FROM q),
        |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |      FROM documents),
        |stats AS (SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |tr AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tr GROUP BY 1),
        |ls AS (
        |  SELECT qt.q_id, tr.doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score
        |  FROM tr JOIN qt USING (term) JOIN df USING (term), stats
        |  WHERE tr.doc_id != qt.q_id GROUP BY 1, 2),
        |lrk AS (
        |  SELECT q_id, doc_id, lex_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT)
        |      lex_rank
        |    FROM ls) WHERE lex_rank <= 30),
        |ss AS (
        |  SELECT q_id, e.vec_id doc_id,
        |    list_cosine_similarity(qe::DOUBLE[], e.embedding::DOUBLE[]) c
        |  FROM q JOIN embeddings e ON e.vec_id != q_id),
        |srk AS (
        |  SELECT q_id, doc_id, sem_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY c DESC, doc_id) AS BIGINT)
        |      sem_rank
        |    FROM ss) WHERE sem_rank <= 30),
        |f AS (
        |  SELECT q_id, doc_id, lex_rank, sem_rank,
        |    coalesce(CAST(round(1000000000.0 / (60 + lex_rank)) AS BIGINT),
        |             0)
        |    + coalesce(CAST(round(1000000000.0 / (60 + sem_rank)) AS BIGINT),
        |               0) rrf
        |  FROM lrk FULL OUTER JOIN srk USING (q_id, doc_id))
        |SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM (
        |  SELECT q_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) rank,
        |    rrf, lex_rank, sem_rank
        |  FROM f) WHERE rank <= 10""".stripMargin)),

    // The SERVED hybrid tier ([[HybridRetrieval.hybridTopKWith]]): same
    // BM25 + RRF contract as ann_hybrid_rrf, but the semantic leg probes
    // a built IVF index through ivfTopKWith — against the at-rest store
    // that is the DPP-pruned serve path, so a RAG deployment fuses BM25
    // with the index it already serves instead of a corpus scan.
    // Documents in unprobed cells can only surface via the lexical leg
    // (the IVF recall trade, confined to one leg); with nprobe covering
    // every cell the output equals ann_hybrid_rrf's (SimilaritySpec pins
    // it). Deterministic end to end — integer rank/score grid fused over
    // the hash-picked-centroid probe replay — so the oracle hash-matches.
    GraftQuery(
      "ann_hybrid_ivf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        graft.operators.HybridRetrieval.hybridTopKWith(
          GraftSimilarity.buildIvfIndex(e), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4)
      },
      Some(hybridIvfOracleSql)),

    // The SAME fused serve with the LEXICAL leg off the AT-REST impact
    // store ([[graft.operators.ImpactObjectStore]] — build-once/serve-many
    // for BM25, beside the vector store, VERDICT r13 #1c):
    // hybridTopKWithImpacts sums the store's precomputed per-(term, doc)
    // addends instead of re-tokenizing the corpus, reading only the query
    // terms' buckets (literal partition predicates from the collected
    // minibatch term set). Addends are the shared kernel's — bit-equal by
    // construction — so the ann_hybrid_ivf oracle certifies this row
    // VERBATIM: the store preserved every value, and the fused output is
    // rank-for-rank the corpus-fold serve. The store is the one
    // text_bm25_stored_manifest serves (built once, reused).
    GraftQuery(
      "ann_hybrid_impact_manifest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        graft.operators.HybridRetrieval.hybridTopKWithImpacts(
          GraftSimilarity.buildIvfIndex(e),
          TextQueries.impactStore(s, dir), queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4)
      },
      Some(hybridIvfOracleSql)),

    // FILTERED FUSION: the hybrid serve restricted to one slice of the
    // corpus (lang = 'en' standing in for any metadata predicate) — the
    // RAG deployment shape "retrieve only from the allowed sources".
    // The lexical leg gets the PRE-FILTERED docs frame (BM25's df/avgdl
    // then describe exactly the filtered corpus — post-hoc filtering
    // would keep the unfiltered corpus's term weights and rank wrong);
    // the semantic leg filters through the lang-carrying index (`where`
    // serve — buildIvfIndex(metaCols) with the lang column joined from
    // documents). Queries and index geometry stay unfiltered.
    GraftQuery(
      "ann_hybrid_filtered",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val eMeta = e.join(
          docs.select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("v"), col("lang"))
        val queries = hybridQueries(docs, e)
        graft.operators.HybridRetrieval.hybridTopKWith(
          GraftSimilarity.buildIvfIndex(eMeta, metaCols = Seq("lang")),
          docs.filter(col("lang") === "en"), queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4,
          where = Some(col("lang") === "en"))
      },
      Some(hybridFilteredOracleSql)),

    // The filtered fusion through the QUANTIZED rung: same pre-filter
    // contract as ann_hybrid_filtered (BM25 stats over the filtered
    // corpus, `where` serve through the lang-carrying index), but the
    // semantic leg is ivfTopKWithQ8 — the integer q8 cut runs over the
    // FILTERED candidate population before the exact rerank, certifying
    // that the quantized cut composes with pre-filter semantics (a
    // post-filter would rank with unfiltered candidates and could ship
    // short lists). Store written q4-less (the tier served is q8).
    GraftQuery(
      "ann_hybrid_filtered_q8",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val eMeta = e.join(
          docs.select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("v"), col("lang"))
        val queries = hybridQueries(docs, e)
        val out = freshStore(s, dir, "hybrid_filtered_q8_store")(
          IvfObjectStore.create(
            s, GraftSimilarity.buildIvfIndex(eMeta, metaCols = Seq("lang")), _))
        graft.operators.HybridRetrieval.hybridTopKWithQ8(
          IvfObjectStore.read(s, out),
          docs.filter(col("lang") === "en"), queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4,
          where = Some(col("lang") === "en"))
      },
      Some(hybridFilteredQ8OracleSql)),

    // The int4 rung of the fusion matrix (hybridTopKWithQ4): BM25 fused
    // with candidates scored off the store's nibble-packed q4 column —
    // the matrix is now brute / IVF / q8 / q4 / PQ behind ONE rank-only
    // fusion contract. Store written with q4 = true (the tier is opt-in
    // at write); the oracle is the q8 fusion replay with the one
    // arithmetic difference — the quantization constant — rewritten.
    GraftQuery(
      "ann_hybrid_q4",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        val out = freshStore(s, dir, "hybrid_q4_store")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e), _, q4 = true))
        graft.operators.HybridRetrieval.hybridTopKWithQ4(
          IvfObjectStore.read(s, out), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
      },
      Some(hybridQ4OracleSql)),

    // The ONE-BIT rung of the fusion matrix (hybridTopKWithB1): BM25
    // fused with candidates scored by XOR+POPCNT Hamming off the
    // store's sign-packed b1 column — the matrix bottoms out the
    // vector-bytes ladder (brute / IVF / q8 / q4 / b1 / PQ / MaxSim)
    // behind ONE rank-only fusion. The oracle rewrites exactly the two
    // arithmetic differences from the q8 fusion replay (sign quantize,
    // sign-dot surrogate score) — cut, rerank, and fusion replay
    // identically, hash-green.
    GraftQuery(
      "ann_hybrid_b1",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        val out = freshStore(s, dir, "hybrid_b1_store")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e), _, b1 = true))
        graft.operators.HybridRetrieval.hybridTopKWithB1(
          IvfObjectStore.read(s, out), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
      },
      Some(hybridB1OracleSql)),

    // LATE-INTERACTION (ColBERT-style MaxSim) retrieval
    // ([[graft.operators.LateInteraction]]): documents and queries are
    // BAGS of per-token vectors, score = Σ over query tokens of the max
    // dot against the doc's tokens — token-granular matching that a
    // single pooled vector averages away. Token vectors are ±1 md5-hash
    // embeddings, so every dot/max/sum is an exact integer and the
    // oracle replays the whole contraction (embed → pair dots → per-
    // token max → sum → rank) hash-for-hash. This row is the labeled
    // quadratic twin; maxSimTopKWith serves through the token-level IVF
    // index (covering-probe parity spec-pinned).
    GraftQuery(
      "ann_maxsim",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dt = graft.operators.LateInteraction.hashTokenVectors(
          docs, dim = 8, maxTokens = 16)
        val qt = dt.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
        graft.operators.LateInteraction.maxSimTopK(dt, qt, k = 10)
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
        |  FROM documents),
        |dt AS (
        |  SELECT doc_id, tok,
        |    [CASE WHEN substr(md5(tok || '_' || j), 1, 1) < '8'
        |          THEN 1 ELSE -1 END FOR j IN range(0, 8)] tv
        |  FROM (SELECT doc_id, unnest(list_distinct(tk[1:16])) tok
        |        FROM toks)
        |  WHERE len(tok) > 0),
        |qt AS (SELECT doc_id q_id, tok qtok, tv qtv FROM dt
        |       WHERE doc_id < 10),
        |pair AS (
        |  SELECT q_id, qtok, d.doc_id,
        |    list_sum(list_transform(range(1, 9), i -> qtv[i] * d.tv[i])) dot
        |  FROM qt, dt d WHERE d.doc_id != qt.q_id),
        |mx AS (SELECT q_id, qtok, doc_id, max(dot) m FROM pair
        |       GROUP BY 1, 2, 3),
        |sc AS (SELECT q_id, doc_id, sum(m) s FROM mx GROUP BY 1, 2),
        |r AS (SELECT q_id, doc_id, s, row_number() OVER (
        |        PARTITION BY q_id ORDER BY s DESC, doc_id) rnk FROM sc)
        |SELECT q_id, doc_id, CAST(rnk AS BIGINT) rnk,
        |       CAST(s AS BIGINT) score
        |FROM r WHERE rnk <= 10""".stripMargin)),

    // The MaxSim SERVING path as its own oracled row: token-level IVF
    // (composite ids doc·2²⁰ + tok ordinal), each query token probing
    // nprobe=4 cells, dots only inside probed cells, absent pairs = 0.
    // The oracle replays the ENTIRE serving pipeline — tokenize, embed,
    // ordinal/composite-id assembly, md5 centroid seed, token→centroid
    // assignment (cosine ties → lowest c_id; on the equal-norm ±1 grid
    // cosine order ≡ integer dot order), per-token probes, probed-cell
    // dots, max/sum/rank — certifying the scale path end-to-end, not
    // just its covering-probe degenerate case.
    GraftQuery(
      "ann_maxsim_ivf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dt = graft.operators.LateInteraction.hashTokenVectors(
          docs, dim = 8, maxTokens = 16)
        val qt = dt.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
        graft.operators.LateInteraction.maxSimTopKWith(
          graft.operators.LateInteraction.tokenIndex(dt), qt,
          k = 10, nprobe = 4)
      },
      Some(maxSimIvfOracleSql)),

    // The token-level index AT REST (VERDICT r12 top item): the MaxSim
    // serving path over an IvfObjectStore, certifying the array<int>
    // `tv` metadata column through the cell-partitioned write and back —
    // the lifecycle that converts the build-dominated ann_maxsim_ivf row
    // into the build-once/serve-many shape the doc-level stores have. The
    // store is REUSED across runs once it has a manifest: run 1 pays the
    // token-index build + write, later runs (and bench medians) measure
    // the amortized serve — exactly the deployment shape. Values are
    // store-invariant, so the oracle is shared VERBATIM with
    // ann_maxsim_ivf.
    GraftQuery(
      "ann_maxsim_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dt = graft.operators.LateInteraction.hashTokenVectors(
          docs, dim = 8, maxTokens = 16)
        val qt = dt.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
        graft.operators.LateInteraction.maxSimTopKWith(
          storedTokenIndex(s, dir, "maxsim_token_store", dt),
          qt, k = 10, nprobe = 4)
      },
      Some(maxSimIvfOracleSql)),

    // METADATA-FILTERED late interaction — "retrieve only from the
    // allowed sources" at TOKEN granularity: the lang column rides the
    // token-level index beside `tv` (tokenIndex(metaCols)), the `where`
    // serve cuts the candidate token population BEFORE the probe join
    // (per-token maxima over exactly the filter-satisfying documents'
    // tokens — pre-filter semantics; probe geometry filter-invariant),
    // and at rest the predicate would reach the reader beside the DPP
    // cell prune, the ann_ivf_filtered composition. Oracle = the MaxSim
    // serving replay with the pair population restricted.
    GraftQuery(
      "ann_maxsim_filtered",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dt = graft.operators.LateInteraction.hashTokenVectors(
          docs, dim = 8, maxTokens = 16)
        val dtMeta = dt.join(docs.select(col("doc_id"), col("lang")),
                             "doc_id")
        val qt = dt.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
        // the lang-carrying token store: build-or-reuse, so the row
        // measures the amortized AT-REST filtered serve — the lang
        // predicate pushes to the cell-file scan beside the DPP cell
        // prune, the ann_ivf_filtered composition at token granularity
        graft.operators.LateInteraction.maxSimTopKWith(
          storedTokenIndex(s, dir, "maxsim_token_store_lang", dtMeta,
                           metaCols = Seq("lang")),
          qt, k = 10, nprobe = 4, where = Some(col("lang") === "en"))
      },
      Some(maxSimFilteredOracleSql)),

    // BM25 ⊕ MaxSim fusion — the ColBERT deployment shape (lexical
    // recall + token-granular semantic evidence behind the ONE rank-only
    // RRF contract every other rung uses): both legs derive from the
    // query TEXT, the semantic leg serves through the token-level IVF
    // index, and swapping pooled-vector retrieval for late interaction
    // is a one-call change. The oracle composes the hybrid family's
    // lexical CTEs with the MaxSim serving replay under the shared
    // fusion tail.
    GraftQuery(
      "ann_hybrid_maxsim",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dt = graft.operators.LateInteraction.hashTokenVectors(
          docs, dim = 8, maxTokens = 16)
        val queries = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("text"))
        // fuse against the SAME stored token index ann_maxsim_stored
        // serves (identical build): whichever row runs first pays the
        // build once, and this row measures the deployment shape —
        // BM25 fused with the index already being served at rest
        graft.operators.HybridRetrieval.hybridTopKWithMaxSim(
          storedTokenIndex(s, dir, "maxsim_token_store", dt),
          docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4,
          dim = 8, maxTokens = 16)
      },
      Some(hybridMaxSimOracleSql)),

    // DIVERSIFIED fusion (hybridTopKWithMmr): the fused lexical∪semantic
    // top-30 (candidacy) re-ranked by the MMR greedy with relevance =
    // exact cosine to the query embedding (diversity in embedding space
    // — RRF's rank grid is too coarse and too small to trade against
    // cosine penalties directly). The serving shape for duplicate-heavy
    // RAG corpora: hybrid decides what is relevant, MMR stops the k
    // slots all going to one near-dup cluster. Oracle = the shared fused
    // CTE chain cut at kCand feeding the same recursive-CTE greedy.
    GraftQuery(
      "ann_hybrid_mmr",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        graft.operators.HybridRetrieval.hybridTopKWithMmr(
          GraftSimilarity.buildIvfIndex(e), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, lambda = 0.5)
      },
      Some(mmrOracleSql(hybridMmrCandCte, k = 10))),

    // THE PRODUCTION SERVE (VERDICT r15 stretch #9): everything r15
    // completed, composed as ONE oracled row — metadata filter (lang =
    // 'en', pre-filter statistics on both legs) + MaxScore-PRUNED
    // lexical leg off the MANIFEST impact store (per-query essential
    // split, covering guard in-plan) + q8 IVF leg off the MANIFEST
    // vector store (integer cut before the gated exact rerank, the
    // predicate on the candidate scan beside the DPP cell prune) + RRF
    // fusion at kCand + the bounded fold/explode MMR greedy. Corpus is
    // the Zipf-head augmentation at %5 (the filtered candidate pool
    // must cover kCand = 30: 36-41 en docs carry the rare term at the
    // bench SFs) and queries carry the payoff shape [rare term,
    // stopword] — essential = 1 makes the stopword's corpus-wide
    // posting mass skippable, PROVEN skippable by the unpruned oracle
    // hash-matching. Both stores build once and are reused
    // (GraftQuery.reusedStore), so the row measures the
    // amortized serve — what a RAG node runs per minibatch when both
    // stores live beside each other on an object store.
    GraftQuery(
      "ann_serve_production",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val aug = docs.select(
          col("doc_id"), col("lang"),
          concat(col("text"), lit(" the"),
                 when(col("doc_id") % 5 === 0, lit(" uncommonmark"))
                   .otherwise(lit(""))).as("text"))
        val e = vecs(s, dir)
        val impDir = reusedStore(s, dir, "impact_manifest_prod",
                                 ImpactObjectStore)(
          ImpactObjectStore.rebuild(aug.filter(col("lang") === "en"), _))
        val ivfDir = reusedStore(s, dir, "ivf_manifest_lang", IvfObjectStore)(
          IvfObjectStore.create(
            s, GraftSimilarity.buildIvfIndex(
                 e.join(docs.select(col("doc_id"), col("lang")),
                        col("vec_id") === col("doc_id"))
                   .select(col("vec_id"), col("v"), col("lang")),
                 metaCols = Seq("lang")),
            _))
        val queries = hybridQueries(docs, e,
                                    expr("array('uncommonmark', 'the')"))
        graft.operators.HybridRetrieval.serveProduction(
          IvfObjectStore.read(s, ivfDir), ImpactObjectStore.read(s, impDir),
          queries, essential = 1,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4,
          lambda = 0.5, where = Some(col("lang") === "en"))
      },
      Some(serveProductionOracleSql)),

    // Product-quantization ADC tier ([[graft.operators.GraftPq]]): m=8
    // subspaces × ksub=16 codes trained with 2 Lloyd rounds on the 2^20
    // fixed-point grid (centroid = round(sum/count) — one IEEE division
    // + one half-away round per component, identical in DuckDB), codes
    // packed to 8 at-rest bytes, candidates scored by graft_pq_adc
    // lookups (exact integer sums), top-20 reranked exactly to top-5.
    // The oracle replays seed pick, both Lloyd rounds, encode, ADC and
    // rerank — hash-checked end to end like ann_ivf_kmeans.
    GraftQuery(
      "ann_pq_adc",
      (s, dir) => {
        val e = vecs(s, dir)
        graft.operators.GraftPq.pqTopK(e, queryBlock(e), k = 5,
                                       m = 8, ksub = 16, iters = 2,
                                       rerankFactor = 4)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |$pqTrainCtes,
        |sc AS (SELECT en.vec_id n_id, ld.q_id, sum(ld.d) ad, sum(ln.nn) an
        |       FROM enc en
        |       JOIN lutd ld ON ld.sub_id = en.sub_id AND ld.code = en.code
        |       JOIN lutn ln ON ln.sub_id = en.sub_id AND ln.code = en.code
        |       WHERE en.vec_id != ld.q_id
        |       GROUP BY en.vec_id, ld.q_id),
        |$pqServeTail""".stripMargin)),

    // IVF × PQ — the FAISS-IVFPQ cost shape ([[GraftPq.ivfPqTopK]]):
    // probe the 4 nearest cells per query, ADC-score only the probed
    // cells' members, exact-rerank top-20 to top-5. One codebook (raw
    // vectors, not residuals) serves every cell, so the encode is
    // cell-independent and appends never retrain. The oracle composes
    // the proven IVF CTEs (hash-cut centroids, argmax assign, ranked
    // probes) with the shared PQ train/LUT CTEs; only the candidate
    // join differs from ann_pq_adc. The SAME oracle certifies the
    // at-rest variant below — serving from the store is
    // result-identical to the in-memory composition by construction.
    GraftQuery(
      "ann_ivf_pq",
      (s, dir) => {
        val e = vecs(s, dir)
        graft.operators.GraftPq.ivfPqTopK(e, queryBlock(e), k = 5,
                                          nprobe = 4, m = 8, ksub = 16,
                                          iters = 2, rerankFactor = 4)
      },
      Some(ivfPqOracleSql)),

    // The at-rest PQ serving tier: IvfObjectStore.create(…, pq = Some(cb))
    // stages cell files carrying the m-byte code word `cw` beside
    // (n_id, v, q8) and persists the immutable codebook at
    // $dir/pq_codebook; candidates in the probed cells are ADC-scored off
    // the stored bytes (the stage-1 scan column-prunes to (n_id, c_id,
    // cw) — ~64× fewer vector bytes than raw, ~8× fewer than the q8
    // tier), and only the k·rerankFactor survivors' full vectors are
    // fetched via the literal n_id pushdown onto the n_id-sorted cell
    // files. Same parameters as ann_ivf_pq, so the SAME oracle
    // hash-certifies the store roundtrip: folded at-rest encode ≡
    // in-flight encode, stored serve ≡ composed serve, bit for bit.
    GraftQuery(
      "ann_ivf_pq_manifest",
      (s, dir) => {
        val e = vecs(s, dir)
        val out = freshStore(s, dir, "ivf_pq_manifest") { out =>
          val cb = graft.operators.GraftPq.trainPq(e, m = 8, ksub = 16,
                                                   iters = 2)
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), out,
                                pq = Some(cb))
        }
        graft.operators.GraftPq.ivfPqTopKWithCw(
          IvfObjectStore.read(s, out),
          graft.operators.GraftPq.readPqCodebook(s, out),
          queryBlock(e), k = 5, nprobe = 4, rerankFactor = 4)
      },
      Some(ivfPqOracleSql)),

    // Quantization-tier recall eval ([[GraftSimilarity.tierRecall]]):
    // how much of the EXACT top-5 each compressed serving tier keeps at
    // the shared rerank budget (k·rerankFactor = 20) — q8's int8 cut vs
    // q4's nibble cut vs PQ's ADC cut, all exact-reranked, measured
    // against the brute truth scan. The deploy-time decision row for
    // the vector-bytes ladder (q8 ≈ 5.7× fewer candidate bytes at
    // rest, q4 ≈ 2× that again, PQ ≈ 36×): pick the deepest rung whose
    // recall holds on YOUR data. The oracle replays truth + all three
    // full tier pipelines + per-query hit counting; recall divides by
    // the per-query truth count (the recallAtK convention).
    GraftQuery(
      "ann_tier_recall",
      (s, dir) => {
        val e = vecs(s, dir)
        GraftSimilarity.tierRecall(e, queryBlock(e), k = 5,
                                   rerankFactor = 4, m = 8, ksub = 16,
                                   iters = 2)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q0 AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |tr AS (SELECT q_id, n_id FROM (
        |         SELECT q0.q_id, e.vec_id n_id,
        |           row_number() OVER (PARTITION BY q0.q_id
        |             ORDER BY list_cosine_similarity(q0.qv, e.v) DESC,
        |                      e.vec_id) rnk
        |         FROM q0 JOIN e ON e.vec_id != q0.q_id) WHERE rnk <= 5),
        |tn AS (SELECT q_id, count(*) t_n FROM tr GROUP BY q_id),
        |mx AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) m FROM e),
        |q8 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 127.0 / m)) END q
        |       FROM mx),
        |qq AS (SELECT vec_id q_id, v qv, q qq8 FROM q8 WHERE vec_id < 10),
        |zap AS (
        |  SELECT q_id, e8.vec_id n_id,
        |    CASE WHEN list_dot_product(e8.q, e8.q) = 0
        |           OR list_dot_product(qq.qq8, qq.qq8) = 0 THEN 0.0
        |         ELSE list_dot_product(qq.qq8, e8.q)
        |              / sqrt(list_dot_product(e8.q, e8.q)
        |                     * list_dot_product(qq.qq8, qq.qq8)) END ac
        |  FROM qq JOIN q8 e8 ON e8.vec_id != qq.q_id),
        |zcand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) rr
        |    FROM zap) WHERE rr <= 20),
        |zscored AS (
        |  SELECT c.q_id, c.n_id, list_cosine_similarity(qq.qv, e.v) cs
        |  FROM zcand c
        |  JOIN qq ON qq.q_id = c.q_id
        |  JOIN e ON e.vec_id = c.n_id),
        |zr AS (SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cs DESC, n_id) rnk
        |       FROM zscored),
        |q4 AS (SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x * 7.0 / m)) END q
        |       FROM mx),
        |qq4 AS (SELECT vec_id q_id, v qv, q qq4 FROM q4 WHERE vec_id < 10),
        |wap AS (
        |  SELECT q_id, e4.vec_id n_id,
        |    CASE WHEN list_dot_product(e4.q, e4.q) = 0
        |           OR list_dot_product(qq4.qq4, qq4.qq4) = 0 THEN 0.0
        |         ELSE list_dot_product(qq4.qq4, e4.q)
        |              / sqrt(list_dot_product(e4.q, e4.q)
        |                     * list_dot_product(qq4.qq4, qq4.qq4)) END ac
        |  FROM qq4 JOIN q4 e4 ON e4.vec_id != qq4.q_id),
        |wcand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) rr
        |    FROM wap) WHERE rr <= 20),
        |wscored AS (
        |  SELECT c.q_id, c.n_id, list_cosine_similarity(qq4.qv, e.v) cs
        |  FROM wcand c
        |  JOIN qq4 ON qq4.q_id = c.q_id
        |  JOIN e ON e.vec_id = c.n_id),
        |wr AS (SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cs DESC, n_id) rnk
        |       FROM wscored),
        |b1 AS (SELECT vec_id, v,
        |         list_transform(v, x -> CASE WHEN x > 0 THEN 1.0
        |                                     ELSE -1.0 END) s FROM e),
        |qqb AS (SELECT vec_id q_id, v qv, s qs FROM b1 WHERE vec_id < 10),
        |vap AS (
        |  SELECT q_id, eb.vec_id n_id,
        |    list_dot_product(qqb.qs, eb.s) / 64.0 ac
        |  FROM qqb JOIN b1 eb ON eb.vec_id != qqb.q_id),
        |vcand AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) rr
        |    FROM vap) WHERE rr <= 20),
        |vscored AS (
        |  SELECT c.q_id, c.n_id, list_cosine_similarity(qqb.qv, e.v) cs
        |  FROM vcand c
        |  JOIN qqb ON qqb.q_id = c.q_id
        |  JOIN e ON e.vec_id = c.n_id),
        |vr AS (SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cs DESC, n_id) rnk
        |       FROM vscored),
        |$pqTrainCtes,
        |sc AS (SELECT en.vec_id n_id, ld.q_id, sum(ld.d) ad, sum(ln.nn) an
        |       FROM enc en
        |       JOIN lutd ld ON ld.sub_id = en.sub_id AND ld.code = en.code
        |       JOIN lutn ln ON ln.sub_id = en.sub_id AND ln.code = en.code
        |       WHERE en.vec_id != ld.q_id
        |       GROUP BY en.vec_id, ld.q_id),
        |$pqServeCtes,
        |h8 AS (SELECT s.q_id, count(*) n_hits FROM zr s
        |       JOIN tr ON tr.q_id = s.q_id AND tr.n_id = s.n_id
        |       WHERE s.rnk <= 5 GROUP BY s.q_id),
        |h4 AS (SELECT s.q_id, count(*) n_hits FROM wr s
        |       JOIN tr ON tr.q_id = s.q_id AND tr.n_id = s.n_id
        |       WHERE s.rnk <= 5 GROUP BY s.q_id),
        |hb1 AS (SELECT s.q_id, count(*) n_hits FROM vr s
        |        JOIN tr ON tr.q_id = s.q_id AND tr.n_id = s.n_id
        |        WHERE s.rnk <= 5 GROUP BY s.q_id),
        |hpq AS (SELECT s.q_id, count(*) n_hits FROM r s
        |        JOIN tr ON tr.q_id = s.q_id AND tr.n_id = s.n_id
        |        WHERE s.rnk <= 5 GROUP BY s.q_id)
        |SELECT 'q8' AS tier, tn.q_id, coalesce(h8.n_hits, 0) AS n_hits,
        |       round(coalesce(h8.n_hits, 0) * 1.0 / tn.t_n, 4) AS recall
        |FROM tn LEFT JOIN h8 USING (q_id)
        |UNION ALL
        |SELECT 'q4' AS tier, tn.q_id, coalesce(h4.n_hits, 0) AS n_hits,
        |       round(coalesce(h4.n_hits, 0) * 1.0 / tn.t_n, 4) AS recall
        |FROM tn LEFT JOIN h4 USING (q_id)
        |UNION ALL
        |SELECT 'b1' AS tier, tn.q_id, coalesce(hb1.n_hits, 0) AS n_hits,
        |       round(coalesce(hb1.n_hits, 0) * 1.0 / tn.t_n, 4) AS recall
        |FROM tn LEFT JOIN hb1 USING (q_id)
        |UNION ALL
        |SELECT 'pq' AS tier, tn.q_id, coalesce(hpq.n_hits, 0) AS n_hits,
        |       round(coalesce(hpq.n_hits, 0) * 1.0 / tn.t_n, 4) AS recall
        |FROM tn LEFT JOIN hpq USING (q_id)""".stripMargin)),

    // Hybrid retrieval over the q8 tier ([[HybridRetrieval
    // .hybridTopKWithQ8]]): BM25 fused with the integer-scored candidate
    // tier served off the store's byte-packed q8 column — completes the
    // serving matrix (brute / IVF / q8 / PQ, one fusion contract). The
    // oracle composes the lexical CTEs with ann_ivf_stored_q8's quantized
    // probe/cut/rerank replay at the hybrid's kCand·rerankFactor = 120.
    GraftQuery(
      "ann_hybrid_q8",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        val out = freshStore(s, dir, "hybrid_q8_store")(
          IvfObjectStore.create(s, GraftSimilarity.buildIvfIndex(e), _))
        graft.operators.HybridRetrieval.hybridTopKWithQ8(
          IvfObjectStore.read(s, out), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
      },
      Some(hybridQ8OracleSql)),

    // Rerank-budget SWEEP for the PQ tier ([[GraftPq.pqBudgetSweep]] —
    // the measurement pqAutoBudget picks deployment budgets from): ONE
    // train/encode/ADC pass at the largest budget, every smaller budget
    // replays the single ranked candidate set as a prefix cut, recall
    // against the exact truth aggregated over the eval block. The 64×
    // tier's recall price as a function of the budget knob, as a query.
    // The oracle replays seed pick, both Lloyd rounds, encode, ADC
    // ranking, each budget's prefix rerank, and the truth join.
    GraftQuery(
      "ann_pq_budget_sweep",
      (s, dir) => {
        val e = vecs(s, dir)
        graft.operators.GraftPq.pqBudgetSweep(
          e, queryBlock(e), k = 5, rerankFactors = Seq(1, 2, 4),
          m = 8, ksub = 16, iters = 2)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |$pqTrainCtes,
        |sc AS (SELECT en.vec_id n_id, ld.q_id, sum(ld.d) ad, sum(ln.nn) an
        |       FROM enc en
        |       JOIN lutd ld ON ld.sub_id = en.sub_id AND ld.code = en.code
        |       JOIN lutn ln ON ln.sub_id = en.sub_id AND ln.code = en.code
        |       WHERE en.vec_id != ld.q_id
        |       GROUP BY en.vec_id, ld.q_id),
        |adc AS (SELECT q.q_id, sc.n_id,
        |          CASE WHEN sc.an = 0 OR q.qn = 0 THEN 0.0
        |               ELSE sc.ad / sqrt(q.qn * sc.an) END ac
        |        FROM sc JOIN q ON q.q_id = sc.q_id),
        |ar AS (SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY ac DESC, n_id) arnk
        |       FROM adc),
        |rfs AS (SELECT unnest([1, 2, 4]) rf),
        |pc AS (SELECT rfs.rf, ar.q_id, ar.n_id
        |       FROM ar, rfs WHERE ar.arnk <= rfs.rf * 5),
        |ps AS (SELECT c.rf, c.q_id, c.n_id,
        |         list_cosine_similarity(qe.v, ne.v) cs
        |       FROM pc c JOIN e qe ON qe.vec_id = c.q_id
        |                 JOIN e ne ON ne.vec_id = c.n_id),
        |srv AS (SELECT rf, q_id, n_id FROM (
        |          SELECT rf, q_id, n_id,
        |            row_number() OVER (PARTITION BY rf, q_id
        |              ORDER BY cs DESC, n_id) rnk
        |          FROM ps) WHERE rnk <= 5),
        |tq AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |tru AS (SELECT q_id, n_id FROM (
        |         SELECT t.q_id, e.vec_id n_id,
        |           row_number() OVER (PARTITION BY t.q_id
        |             ORDER BY list_cosine_similarity(t.qv, e.v) DESC,
        |                      e.vec_id) rnk
        |         FROM tq t JOIN e ON e.vec_id != t.q_id) WHERE rnk <= 5),
        |tx AS (SELECT rfs.rf, tru.q_id, tru.n_id FROM tru CROSS JOIN rfs),
        |h AS (SELECT tx.rf, srv.n_id IS NOT NULL hit
        |      FROM tx LEFT JOIN srv ON srv.rf = tx.rf
        |                           AND srv.q_id = tx.q_id
        |                           AND srv.n_id = tx.n_id)
        |SELECT CAST(rf AS BIGINT) AS rerank_factor,
        |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hits,
        |       CAST(count(*) AS BIGINT) AS n_truth,
        |       round(sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1.0
        |             / count(*), 4) AS recall
        |FROM h GROUP BY rf""".stripMargin)),

    // Hybrid retrieval over the 64× PQ tier
    // ([[HybridRetrieval.hybridTopKWithPq]]): BM25 fused (RRF) with the
    // ADC leg served straight off an at-rest PQ store — write store,
    // read, serve, fuse, one row. Same fusion contract as ann_hybrid_ivf;
    // only the semantic leg's candidate tier differs (stored code words +
    // exact rerank instead of raw vectors). The oracle composes the
    // proven lexical CTEs, the IVF probe CTEs, the shared PQ train/LUT
    // CTEs, the ADC cut at kCand·rerankFactor = 120, and the fusion.
    GraftQuery(
      "ann_hybrid_pq",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val queries = hybridQueries(docs, e)
        val out = freshStore(s, dir, "hybrid_pq_store")(IvfObjectStore.create(
          s, GraftSimilarity.buildIvfIndex(e), _,
          pq = Some(graft.operators.GraftPq.trainPq(e, m = 8, ksub = 16,
                                                    iters = 2))))
        graft.operators.HybridRetrieval.hybridTopKWithPq(
          IvfObjectStore.read(s, out),
          graft.operators.GraftPq.readPqCodebook(s, out), docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |qd AS (
        |  SELECT doc_id q_id, regexp_split_to_array(trim(text), '\\s+') qtk
        |  FROM documents WHERE doc_id < 10),
        |qt AS (SELECT q_id, unnest(list_distinct(qtk)) term FROM qd),
        |d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') tk
        |      FROM documents),
        |stats AS (SELECT count(*) n, avg(len(tk)) avgdl FROM d),
        |trm AS (
        |  SELECT doc_id, term, count(*) tf, max(dl) dl FROM (
        |    SELECT doc_id, len(tk) dl, unnest(tk) term FROM d)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM trm GROUP BY 1),
        |ls AS (
        |  SELECT qt.q_id, trm.doc_id,
        |    sum(CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |          * 1000000.0) AS BIGINT)) score
        |  FROM trm JOIN qt USING (term) JOIN df USING (term), stats
        |  WHERE trm.doc_id != qt.q_id GROUP BY 1, 2),
        |lrk AS (
        |  SELECT q_id, doc_id, lex_rank FROM (
        |    SELECT q_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT)
        |      lex_rank
        |    FROM ls) WHERE lex_rank <= 30),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |ic AS (SELECT vec_id c_id, v cv FROM e
        |       WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |ia AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT e.vec_id, ic.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.c_id) arnk
        |    FROM e, ic) WHERE arnk = 1),
        |q0 AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q0.q_id, ic.c_id,
        |      row_number() OVER (PARTITION BY q0.q_id
        |        ORDER BY list_cosine_similarity(q0.qv, ic.cv) DESC, ic.c_id) prnk
        |    FROM q0, ic) WHERE prnk <= 4),
        |$pqTrainCtes,
        |sc AS (SELECT en.vec_id n_id, p.q_id, sum(ld.d) ad, sum(ln.nn) an
        |       FROM ia a
        |       JOIN probes p ON p.c_id = a.c_id
        |       JOIN enc en ON en.vec_id = a.vec_id
        |       JOIN lutd ld ON ld.q_id = p.q_id
        |                   AND ld.sub_id = en.sub_id AND ld.code = en.code
        |       JOIN lutn ln ON ln.sub_id = en.sub_id AND ln.code = en.code
        |       WHERE a.vec_id != p.q_id
        |       GROUP BY en.vec_id, p.q_id),
        |adc AS (SELECT q.q_id, sc.n_id,
        |          CASE WHEN sc.an = 0 OR q.qn = 0 THEN 0.0
        |               ELSE sc.ad / sqrt(q.qn * sc.an) END ac
        |        FROM sc JOIN q ON q.q_id = sc.q_id),
        |pc AS (SELECT q_id, n_id FROM (
        |         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |           ORDER BY ac DESC, n_id) r FROM adc) WHERE r <= 120),
        |ps AS (SELECT c.q_id, c.n_id, list_cosine_similarity(qe.v, ne.v) cs
        |       FROM pc c JOIN e qe ON qe.vec_id = c.q_id
        |                 JOIN e ne ON ne.vec_id = c.n_id),
        |srk AS (
        |  SELECT q_id, doc_id, sem_rank FROM (
        |    SELECT q_id, n_id doc_id, CAST(row_number() OVER (
        |      PARTITION BY q_id ORDER BY cs DESC, n_id) AS BIGINT)
        |      sem_rank
        |    FROM ps) WHERE sem_rank <= 30),
        |f AS (
        |  SELECT q_id, doc_id, lex_rank, sem_rank,
        |    coalesce(CAST(round(1000000000.0 / (60 + lex_rank)) AS BIGINT),
        |             0)
        |    + coalesce(CAST(round(1000000000.0 / (60 + sem_rank)) AS BIGINT),
        |               0) rrf
        |  FROM lrk FULL OUTER JOIN srk USING (q_id, doc_id))
        |SELECT q_id, doc_id, rank, rrf, lex_rank, sem_rank FROM (
        |  SELECT q_id, doc_id, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) rank,
        |    rrf, lex_rank, sem_rank
        |  FROM f) WHERE rank <= 10""".stripMargin)),
  )

  /** The IVF×PQ oracle — hash-cut centroids, argmax assign, ranked
    * probes (the proven IVF CTEs) composed with the shared PQ train/LUT
    * CTEs; candidates restricted to probed cells. Shared VERBATIM by
    * `ann_ivf_pq` (in-memory composition) and `ann_ivf_pq_manifest`
    * (at-rest store roundtrip): identical parameters, identical results
    * by construction — that identity is exactly what the stored row
    * certifies.
    */
  private lazy val ivfPqOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM e),
        |ic AS (SELECT vec_id c_id, v cv FROM e
        |       WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |ia AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT e.vec_id, ic.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, ic.cv) DESC, ic.c_id) arnk
        |    FROM e, ic) WHERE arnk = 1),
        |q0 AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q0.q_id, ic.c_id,
        |      row_number() OVER (PARTITION BY q0.q_id
        |        ORDER BY list_cosine_similarity(q0.qv, ic.cv) DESC, ic.c_id) prnk
        |    FROM q0, ic) WHERE prnk <= 4),
        |$pqTrainCtes,
        |sc AS (SELECT en.vec_id n_id, p.q_id, sum(ld.d) ad, sum(ln.nn) an
        |       FROM ia a
        |       JOIN probes p ON p.c_id = a.c_id
        |       JOIN enc en ON en.vec_id = a.vec_id
        |       JOIN lutd ld ON ld.q_id = p.q_id
        |                   AND ld.sub_id = en.sub_id AND ld.code = en.code
        |       JOIN lutn ln ON ln.sub_id = en.sub_id AND ln.code = en.code
        |       WHERE a.vec_id != p.q_id
        |       GROUP BY en.vec_id, p.q_id),
        |$pqServeTail""".stripMargin
}
