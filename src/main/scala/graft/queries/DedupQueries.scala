package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Deduplication operators over `documents` / `embeddings` — exact dedup,
  * MinHash+LSH near-dup, SimHash, character-n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *   - exact dedup: hash-groupBy on a 128-bit digest — one shuffle keyed by
  *     digest, map-side partial agg; never ships full text twice.
  *   - MinHash+LSH: signatures via the native codegen expression
  *     `graft_minhash` (graft.functions.GraftMinHash) — a pure map, no
  *     shuffle; the candidate join shuffles on (band_id, band_hash), so only
  *     documents sharing a bucket ever meet and the pair space stays
  *     ~linear. 128 hashes in bands of 2 ⇒ P(miss | J≥0.8) = (1−J²)^64
  *     ≤ 4e-13, so the LSH output equals the brute-force oracle with
  *     overwhelming probability — which is what makes it DuckDB-checkable.
  *   - SimHash: one 64-bit signature per doc (`graft_simhash`), 4×16-bit
  *     band index for candidates, Hamming verify. Hash-oracled since r8:
  *     [[SimHashOracle]] replays Spark's XXH64 in HUGEINT mod-2⁶⁴ SQL;
  *     DedupSpec additionally asserts the planted near-dup pairs are
  *     recovered.
  *   - embedding cosine: brute-force all-pairs via a distributed
  *     block-nested-loop kernel — vectors hashed into B blocks, one shuffle
  *     group per unordered block pair, tight double loop per group. No
  *     driver materialization; task memory = 2 blocks. The sub-quadratic
  *     path is SimilarityQueries' LSH.
  */
object DedupQueries extends QueryModule {

  /** The CDC oracle's gear table: low 6 bits of each
    * [[graft.functions.GraftCdc.Gear]] entry, inlined into the DuckDB SQL —
    * generated FROM the kernel's own table so the two cannot drift (the
    * `ann_lsh_bucket` pattern: deterministic constants become oracle
    * literals). Only 6 bits matter because the catalog query's mask is 63.
    */
  private val gearMod64: String =
    graft.functions.GraftCdc.Gear.map(_ & 63L).mkString(", ")

  /** (doc_id, shingles): distinct word-3-shingles per document. Pure map
    * (`spread` only equalizes parallelism for the per-doc compute).
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"))
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
              expr("""array_distinct(transform(sequence(0, size(tk) - 3),
                     i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))""")
                .as("shingles"))

  /** LSH-verified near-dup pairs at word-3-shingle Jaccard ≥ 0.8, as a
    * fresh lazy checkpoint leaf per call: a row that runs several actions
    * over the pairs (keep-set create → increment → read, the curation
    * pipeline) mines them once, and the blocks are freed with the row's
    * frames. Rows with a single consumer call [[buildLshPairs]] directly.
    */
  def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    buildLshPairs(s, dir).localCheckpoint(eager = false)

  /** The twin-augmented embedding corpus shared by `dedup_embedding_cosine`
    * and `dedup_semantic_scale`: the raw table has no true near-dups (its
    * densest pairs sit at cos ≤ 0.52), so every 10th vector gets a planted
    * near-dup twin — second half doubled ⇒ cos(v, twin) = (1+r)/√(1+3r)
    * ∈ [0.9428, 1] for r = tail mass share, exact-in-IEEE in both engines.
    * Twin ids offset by max(vec_id) + 1 computed IN-PLAN (broadcast 1-row
    * aggregate, no driver collect) so the construction can never collide
    * with real ids at any scale factor — a fixed +100000 offset would
    * silently alias once vec_id reaches it (ADVICE r5). The oracle
    * replicates the offset with a scalar subquery.
    */
  private[graft] def twinAugmented(base0: DataFrame): DataFrame = {
    val base = base0.select("vec_id", "embedding")
    // a 1-row broadcast attach plans as BroadcastNestedLoopJoin (constant
    // join keys fold away) — benign at any scale; PlanSpec pins that every
    // BNLJ in this query is exactly such a max-aggregate attach
    val off = broadcast(base.agg((max("vec_id") + 1).cast("long").as("__off")))
    val twins = base.filter(col("vec_id") % 10 === 0).crossJoin(off)
      .select((col("vec_id") + col("__off")).as("vec_id"),
              concat(slice(col("embedding"), 1, 32),
                     transform(slice(col("embedding"), 33, 32),
                               x => x * lit(2))).as("embedding"))
    base.unionAll(twins)
  }

  /** The LSH DAG itself — exposed so plan-quality specs can inspect the
    * physical plan without a checkpoint leaf hiding it. Delegates to the
    * library operator ([[graft.operators.GraftDedup.nearDupPairs]]):
    * threshold 0.8 picks b=64 bands of r=2 ⇒ P(miss | J≥0.8) ≤ 4e-13 and
    * sigFilter 0.6, the exact parameters the DuckDB oracle is argued
    * against.
    */
  private[graft] def buildLshPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraftDedup.nearDupPairs(
      shingled(s, dir), "doc_id", "shingles", threshold = 0.8)

  override def all: Seq[GraftQuery] = Seq(

    // Exact dedup: group by content digest, keep first doc_id as the
    // representative. One digest-keyed shuffle at any scale.
    GraftQuery(
      "dedup_exact",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_md5"))
          .agg(count("*").as("n_copies"), min("doc_id").as("keep_doc_id")),
      Some("""SELECT md5(text) AS text_md5, count(*) AS n_copies,
        |  min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY md5(text)""".stripMargin)),

    // MinHash + LSH near-duplicate pairs at word-3-shingle Jaccard ≥ 0.8.
    GraftQuery(
      "dedup_minhash_lsh",
      (s, dir) => buildLshPairs(s, dir),
      Some("""WITH toks AS (
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
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM pair
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8""".stripMargin)),

    // Transitive dedup clusters: connected components over the LSH pair
    // list (a≈b, b≈c ⇒ one cluster {a,b,c} even though a≉c directly) —
    // hash-min label propagation, O(cluster diameter) rounds, one skinny
    // (id, label) shuffle per round. The oracle computes the same closure
    // with a recursive CTE over the brute-force pair set.
    GraftQuery(
      "dedup_components",
      (s, dir) =>
        graft.operators.GraftDedup.connectedComponents(buildLshPairs(s, dir))
          .withColumnRenamed("id", "doc_id"),
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s)
        |SELECT s AS doc_id, least(s, min(d)) AS component
        |FROM reach GROUP BY s""".stripMargin)),

    // The END-TO-END fuzzy-dedup job: MinHash-LSH pairs -> transitive
    // closure -> a keep/drop decision for EVERY document (singletons keep
    // trivially; the min-id member of each near-dup cluster survives).
    // This is the decision table a 100-TB corpus dedup run actually
    // ships: filter(keep) is the deduplicated corpus, and !keep rows name
    // their canonical replacement. Scale: components label only the
    // dup-involved sliver; the corpus-wide keep flag is a gated-broadcast
    // left join (a pure map over the scan while the sliver is small).
    GraftQuery(
      "dedup_neardup_clusters",
      (s, dir) =>
        graft.operators.GraftDedup.keepSet(
          t(s, dir, "documents"), buildLshPairs(s, dir)),
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS component
        |  FROM reach GROUP BY s)
        |SELECT d.doc_id,
        |  coalesce(c.component, d.doc_id) AS cluster_id,
        |  d.doc_id = coalesce(c.component, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // INCREMENTAL keep-set maintenance (VERDICT r13 #3): an md5-routed
    // half of the corpus plays the EXISTING corpus (its keep-set table
    // stored), the other half arrives as the increment with every pair
    // that touches it — keepSetIncremental folds the new pairs into the
    // stored table through the CONTRACTED graph (old components are
    // supernodes named by their min id), touching only affected
    // clusters, never recomputing the corpus closure. The oracle is the
    // FROM-SCRATCH keep-set over the union (the dedup_neardup_clusters
    // replay verbatim): hash-equality IS the increment ≡ from-scratch
    // proof, including increments that BRIDGE two old clusters.
    GraftQuery(
      "dedup_keepset_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = minhashLshPairs(s, dir)
        def isOld(c: org.apache.spark.sql.Column) =
          substring(md5(c.cast("string")), 1, 1) < "8"
        val prev = graft.operators.GraftDedup.keepSet(
          docs.filter(isOld(col("doc_id"))),
          pairs.filter(isOld(col("a_id")) && isOld(col("b_id"))))
        graft.operators.GraftDedup.keepSetIncremental(
          prev,
          newIds = docs.filter(!isOld(col("doc_id"))),
          newPairs = pairs.filter(!(isOld(col("a_id")) &&
                                    isOld(col("b_id")))))
      },
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS component
        |  FROM reach GROUP BY s)
        |SELECT d.doc_id,
        |  coalesce(c.component, d.doc_id) AS cluster_id,
        |  d.doc_id = coalesce(c.component, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // The VERSIONED AT-REST keep-set (r15 — [[KeepSetStore]]): the same
    // day-0/day-1 split persisted through the manifest-committed store —
    // create(v1) from the old half's keep-set, increment(v2) staging
    // ONLY the changed sliver (new ids + remapped old rows; the
    // contraction kernel shared with keepSetIncremental), read resolving
    // per-id last-wins. The oracle is the SAME from-scratch recursive-CTE
    // keep-set over the union — hash-equality proves the store's
    // base ⊕ delta resolution reconstructs the full decision table
    // exactly (the text_bm25_stored_manifest precedent, applied to the
    // dedup decision table).
    GraftQuery(
      "dedup_keepset_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = minhashLshPairs(s, dir)
        def isOld(c: org.apache.spark.sql.Column) =
          substring(md5(c.cast("string")), 1, 1) < "8"
        val out = GraftQuery.freshStore(s, dir, "keepset_stored") { out =>
          graft.operators.KeepSetStore.create(
            graft.operators.GraftDedup.keepSet(
              docs.filter(isOld(col("doc_id"))),
              pairs.filter(isOld(col("a_id")) && isOld(col("b_id")))),
            out)
          graft.operators.KeepSetStore.increment(
            s, out,
            newIds = docs.filter(!isOld(col("doc_id"))),
            newPairs = pairs.filter(!(isOld(col("a_id")) &&
                                      isOld(col("b_id")))),
            batchTag = Some("increment1"))
        }
        graft.operators.KeepSetStore.read(s, out)
      },
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS component
        |  FROM reach GROUP BY s)
        |SELECT d.doc_id,
        |  coalesce(c.component, d.doc_id) AS cluster_id,
        |  d.doc_id = coalesce(c.component, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // TAKEDOWN from the versioned keep-set (r16 — the tri-store
    // compliance story's third leg: vector cells, BM25 postings, and
    // now dedup DECISIONS all carry the mask-until-purge contract):
    // create + increment as dedup_keepset_stored, then delete a
    // deterministic id slice — the manifest gains an O(ids) tombstone
    // sliver every read masks immediately; survivors serve
    // BIT-UNCHANGED (labels are opaque cluster identities — a cluster
    // whose keeper was taken down serves with no kept member until the
    // upstream rebuild, the conservative training-data stance). The
    // oracle is the from-scratch recursive-CTE keep-set over the FULL
    // corpus (components computed with the deleted ids' pairs — exactly
    // the stale-label semantics) restricted to survivors: hash-equality
    // proves the mask drops precisely the deleted rows and nothing else.
    GraftQuery(
      "dedup_keepset_delete",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = minhashLshPairs(s, dir)
        def isOld(c: org.apache.spark.sql.Column) =
          substring(md5(c.cast("string")), 1, 1) < "8"
        val out = GraftQuery.freshStore(s, dir, "keepset_delete") { out =>
          graft.operators.KeepSetStore.create(
            graft.operators.GraftDedup.keepSet(
              docs.filter(isOld(col("doc_id"))),
              pairs.filter(isOld(col("a_id")) && isOld(col("b_id")))),
            out)
          graft.operators.KeepSetStore.increment(
            s, out,
            newIds = docs.filter(!isOld(col("doc_id"))),
            newPairs = pairs.filter(!(isOld(col("a_id")) &&
                                      isOld(col("b_id")))),
            batchTag = Some("increment1"))
          graft.operators.KeepSetStore.delete(
            s, out, docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
            batchTag = Some("takedown1"))
        }
        graft.operators.KeepSetStore.read(s, out)
      },
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS component
        |  FROM reach GROUP BY s)
        |SELECT d.doc_id,
        |  coalesce(c.component, d.doc_id) AS cluster_id,
        |  d.doc_id = coalesce(c.component, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |WHERE d.doc_id % 7 != 3""".stripMargin)),

    // CLUSTER-disjoint train/test split: documents route by a hash of
    // their near-dup CLUSTER id, so a near-duplicate pair can never
    // straddle the train/eval boundary — the per-id hash split
    // (pipeline_train_test_split) is deterministic but still leaks when
    // two ids hold near-identical text; routed by cluster the leak is
    // structurally impossible. Same md5-hex cut as splitByHexHash
    // (floor(0.8*16^4) = 0xcccc), so DuckDB replays the routing exactly.
    GraftQuery(
      "pipeline_split_cluster_safe",
      (s, dir) =>
        graft.operators.GraftDedup.clusterSafeSplit(
          t(s, dir, "documents"), buildLshPairs(s, dir),
          trainFraction = 0.8),
      Some("""WITH RECURSIVE toks AS (
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
        |np AS (
        |  SELECT a_id, b_id FROM pair
        |  JOIN sz sa ON sa.doc_id = a_id
        |  JOIN sz sb ON sb.doc_id = b_id
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |ed AS (SELECT a_id s, b_id d FROM np
        |       UNION SELECT b_id, a_id FROM np),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS component
        |  FROM reach GROUP BY s),
        |lab AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, cluster_id,
        |  CASE WHEN substr(md5(cluster_id::VARCHAR), 1, 4) < 'cccc'
        |       THEN 'train' ELSE 'test' END AS split
        |FROM lab""".stripMargin)),

    // SimHash near-dup candidates: 64-bit signature, 4×16-bit bands,
    // Hamming-distance verify. ORACLE-UPGRADED in r8 (was rows-only
    // "DuckDB has no XXH64"): the oracle now replays Spark's XXH64 over
    // each token's UTF-8 bytes in HUGEINT mod-2^64 SQL — the same
    // technique that oracled `src_synth_scan`'s xorshift64* draw. Every
    // multiply in xxh64 is value × prime-constant, so the 32-bit-split
    // `mulmod` trick applies throughout; tokens are < 32 bytes on this
    // corpus, so only the short-input path is unrolled (3 word steps +
    // 4-byte step + 3 byte steps + avalanche, all CASE-guarded — no
    // recursion), with loud error() guards on non-ASCII text and ≥32-byte
    // tokens so a corpus change fails the oracle instead of silently
    // diverging. Verified bit-identical to `graft_simhash` per document
    // at sf0.001 AND sf0.01 before wiring. DedupSpec keeps the
    // planted-pair recall check.
    GraftQuery(
      "dedup_simhash",
      (s, dir) =>
        graft.operators.GraftDedup.simHashPairs(
          spread(t(s, dir, "documents"))
            .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("tk")),
          "doc_id", "tk", maxHamming = 12, bands = 4),
      Some(SimHashOracle.sql)),

    // Content-defined-chunking near-dup pairs: Gear rolling-hash chunk
    // boundaries move WITH the content, so local edits leave the rest of a
    // long document's chunks aligned (the storage-dedup construction).
    // ORACLE-UPGRADED (r7): the xxhash64 chunk HASHES are engine-specific,
    // but chunk IDENTITY is equally the chunk SUBSTRING — equal substrings
    // hash equal, distinct substrings collide w.p. ~2⁻⁶⁴ — so DuckDB can
    // replay the whole operator if it can replay the BOUNDARIES. It can:
    // with maskBits = 6 the cut test `(h & 63) == 0` depends only on the
    // rolling hash MOD 64, and h' = (h << 1) + gear[b] gives the tiny-int
    // recurrence hm' = (2·(hm mod 32) + (gear[b] & 63)) mod 64 — no 64-bit
    // wraparound needed, just the gear table's low 6 bits inlined as
    // literals (generated from GraftCdc.Gear itself, so kernel and oracle
    // cannot drift; the corpus is ASCII so chars == bytes, which the
    // recursion's substr-ord addressing relies on). Jaccard over distinct
    // chunk substrings then equals Jaccard over distinct chunk hashes.
    GraftQuery(
      "dedup_cdc_chunks",
      (s, dir) =>
        graft.operators.GraftDedup.cdcChunkPairs(
          spread(t(s, dir, "documents")), "doc_id", "text",
          threshold = 0.5, minLen = 32, maskBits = 6),
      Some(s"""WITH RECURSIVE gear AS (
        |  SELECT unnest(range(256)) AS b, unnest([$gearMod64]) AS g
        |),
        |docs AS (
        |  SELECT doc_id, text, length(text) AS n,
        |         CASE WHEN octet_length(encode(text)) != length(text)
        |              THEN error('dedup_cdc_chunks oracle: non-ASCII text '
        |                         || 'for doc_id ' || doc_id
        |                         || ' — the mod-64 Gear replay addresses '
        |                         || 'BYTES via substr/ord, which only '
        |                         || 'equals the kernel on ASCII')
        |              ELSE 1 END AS ascii_ok
        |  FROM documents),
        |walk AS (
        |  SELECT doc_id, 0 * ascii_ok AS i, 0 AS hm, 1 AS st,
        |         CAST(NULL AS VARCHAR) AS chunk
        |  FROM docs
        |  UNION ALL
        |  SELECT doc_id, i,
        |         CASE WHEN cut THEN 0 ELSE hm2 END AS hm,
        |         CASE WHEN cut THEN i + 1 ELSE st END AS st,
        |         CASE WHEN cut THEN substring(text, st, i - st + 1) END AS chunk
        |  FROM (
        |    SELECT w.doc_id, w.i + 1 AS i, w.st AS st, d.text,
        |           (2 * (w.hm % 32) + g.g) % 64 AS hm2,
        |           ((w.i + 1 - w.st + 1 >= 32) AND
        |            (2 * (w.hm % 32) + g.g) % 64 = 0) AS cut
        |    FROM walk w
        |    JOIN docs d USING (doc_id)
        |    JOIN gear g ON g.b = ord(substr(d.text, w.i + 1, 1))
        |    WHERE w.i < d.n
        |  )
        |),
        |cs AS (
        |  SELECT DISTINCT doc_id, chunk FROM (
        |    SELECT doc_id, chunk FROM walk WHERE chunk IS NOT NULL
        |    UNION ALL
        |    SELECT w.doc_id, substring(d.text, w.st, d.n - w.st + 1) AS chunk
        |    FROM walk w JOIN docs d USING (doc_id)
        |    WHERE w.i = d.n AND w.st <= d.n)
        |),
        |sz AS (SELECT doc_id, count(*) AS m FROM cs GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS c
        |  FROM cs x JOIN cs y ON x.chunk = y.chunk AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT i.a_id, i.b_id,
        |       round(CAST(i.c AS DOUBLE) / (sa.m + sb.m - i.c), 4) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.a_id
        |JOIN sz sb ON sb.doc_id = i.b_id
        |WHERE CAST(i.c AS DOUBLE) / (sa.m + sb.m - i.c) >= 0.5""".stripMargin)),

    // Character-5-gram Jaccard near-dup pairs at J ≥ 0.75, lang-blocked.
    // Same LSH machinery over char-grams (lang joins the bucket key), exact
    // verify on the candidate set only — no explode-join pair blowup on hot
    // grams. Shingle size is the signal/background separator: measured on
    // this corpus, within-lang background J is 0.43 mean / 0.64 p99 at
    // n=3 (nearly every pair becomes an LSH candidate — quadratic), but
    // 0.17 mean / 0.26 p99 at n=5 while true near-dups stay at J ≥ 0.9 —
    // candidate volume drops ~20× and scales with the real near-dup count.
    GraftQuery(
      "dedup_ngram_jaccard",
      (s, dir) => {
        val grams = spread(t(s, dir, "documents"))
          .filter(length(col("text")) >= 5)
          .select(col("doc_id"), col("lang"),
                  expr("""array_distinct(transform(sequence(1, length(text) - 4),
                         i -> substring(text, i, 5)))""").as("grams"))
        // 32 bands × 4 rows: P(miss | J ≥ 0.75) = (1 − 0.75⁴)^32 < 6e-6,
        // and at the n=5 background (J ≈ 0.17) a pair collides in a band
        // with probability 0.17⁴ ≈ 8e-4 — background stays out of the
        // candidate stream without risking recall at the threshold.
        graft.operators.GraftDedup.nearDupPairs(
          grams, "doc_id", "grams", threshold = 0.75,
          blockCols = Seq("lang"), rowsPerBand = 4, sigFilter = 0.55)
      },
      Some("""WITH g AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct([substr(text, i, 5)
        |                          FOR i IN range(1, length(text) - 3)])) gr
        |  FROM documents WHERE length(text) >= 5),
        |sz AS (SELECT doc_id, count(*) n FROM g GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) i
        |  FROM g a JOIN g b ON a.gr = b.gr AND a.lang = b.lang
        |                   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM pair
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.75""".stripMargin)),

    // Corpus-level similarity via the MERGEABLE sketch: one MinHash
    // signature per source aggregated with graft_minhash_agg (custom
    // TypedImperativeAggregate — partial/final, k longs per group cross the
    // shuffle), then pairwise signature agreement estimates the Jaccard of
    // entire sources' shingle sets. ORACLE-UPGRADED in r8 (was rows-only
    // "sketch bits are engine-specific"): the bits stopped being
    // engine-specific once the XXH64 replay existed — [[SourceSigOracle]]
    // recomputes the k=128 Kirsch–Mitzenmacher slots as signed mins of
    // (h1 + j·(h2|1)) mod 2⁶⁴ over each source's shingle set, which is
    // order-independent and therefore partial/merge-tree-independent.
    // FunctionsSpec keeps the agg == scalar-minhash-of-union law and the
    // estimate's error bound.
    GraftQuery(
      "dedup_source_signature",
      (s, dir) => {
        GraftSession.ensureExtensions(s)
        val sigs = t(s, dir, "documents")
          .select(col("source"), expr("split(trim(text), '\\\\s+')").as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("source"),
                  explode(expr(
                    """transform(sequence(0, size(tk) - 3),
                       i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))"""))
                    .as("shingle"))
          .groupBy("source")
          .agg(expr("graft_minhash_agg(shingle, 128)").as("sig"))
        sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("a_src"), col("b.source").as("b_src"),
                  round(expr("graft_sig_agree(a.sig, b.sig)"), 4)
                    .as("est_jaccard"))
      },
      Some(SourceSigOracle.sql)),

    // Corpus-overlap set algebra via mergeable THETA sketches: one sketch
    // per source (partial/final aggregated — ≤ 2^12 · 8 bytes per group
    // crosses the shuffle), then pairwise INTERSECTION estimates answer
    // "how many distinct shingles do sources share" without any
    // shingle-level join — the set operation HLL sketches cannot do.
    // Estimator output ⇒ rows-only driver check; FunctionsSpec pins
    // exact-mode equality (< 2^lgK distinct items ⇒ estimate == exact)
    // and cross-partition merge consistency.
    GraftQuery(
      "dedup_source_overlap",
      (s, dir) => {
        GraftSession.ensureExtensions(s)
        val sk = t(s, dir, "documents")
          .select(col("source"), expr("split(trim(text), '\\\\s+')").as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("source"),
                  explode(expr(
                    """transform(sequence(0, size(tk) - 3),
                       i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))"""))
                    .as("shingle"))
          .groupBy("source")
          .agg(expr("graft_theta_sketch(shingle)").as("sk"))
        sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("a_src"), col("b.source").as("b_src"),
                  round(expr("graft_theta_est(a.sk)"), 1).as("a_distinct"),
                  round(expr("graft_theta_est(b.sk)"), 1).as("b_distinct"),
                  round(expr("graft_theta_intersect_est(a.sk, b.sk)"), 1)
                    .as("shared_est"))
      },
      None),

    // Exact-mode twin of dedup_source_overlap, oracled: at lgK=18 the
    // nominal entry count (262144) exceeds every source's distinct-shingle
    // count across the whole certified envelope (~1.3k at sf0.01, ~11k at
    // sf0.1, ~110k at the 10×-sweep sf1 — the r9 guard below actually
    // FIRED at lgK=15 on the sf1 sweep, which is why the capacity moved
    // and why the precondition is enforced, not assumed), so theta
    // stays 1.0 and every sketch retains its full hash set — estimates
    // ARE exact distinct counts and the pairwise intersection IS exact
    // set intersection. DuckDB replays the whole thing with plain
    // distinct-count set algebra, certifying the complete sketch →
    // serialize → partial/final merge → intersect pipeline at the driver
    // gate (the lgK=12 row above keeps demonstrating real estimation,
    // which is the production mode and inherently engine-specific).
    GraftQuery(
      "dedup_source_overlap_exact",
      (s, dir) => {
        GraftSession.ensureExtensions(s)
        val sk = t(s, dir, "documents")
          .select(col("source"), expr("split(trim(text), '\\\\s+')").as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("source"),
                  explode(expr(
                    """transform(sequence(0, size(tk) - 3),
                       i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))"""))
                    .as("shingle"))
          .groupBy("source")
          .agg(expr("graft_theta_sketch(shingle, 18)").as("sk"))
          // ENFORCED exactness precondition (not assumed from test SFs):
          // any source whose distinct-shingle count pushes the lgK=18
          // sketch into estimation mode fails loudly instead of silently
          // desyncing from the set-algebra oracle
          .filter(expr("""isnull(assert_true(graft_theta_is_exact(sk),
            'dedup_source_overlap_exact: a source sketch left exact mode
             (distinct 3-shingles exceeded the lgK=18 capacity); raise lgK
             or use the estimating dedup_source_overlap tier'))"""))
        sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("a_src"), col("b.source").as("b_src"),
                  round(expr("graft_theta_est(a.sk)"), 1).as("a_distinct"),
                  round(expr("graft_theta_est(b.sk)"), 1).as("b_distinct"),
                  round(expr("graft_theta_intersect_est(a.sk, b.sk)"), 1)
                    .as("shared"))
      },
      Some("""WITH b AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |    unnest([array_to_string(w[i:i+2], ' ')
        |            FOR i IN range(1, len(w) - 1)]) s
        |  FROM b WHERE len(w) >= 3),
        |c AS (SELECT source, count(*) n FROM g GROUP BY 1),
        |sh AS (
        |  SELECT x.source a_src, y.source b_src, count(*) n
        |  FROM g x JOIN g y ON x.s = y.s AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT ca.source AS a_src, cb.source AS b_src,
        |  round(CAST(ca.n AS DOUBLE), 1) AS a_distinct,
        |  round(CAST(cb.n AS DOUBLE), 1) AS b_distinct,
        |  round(CAST(coalesce(sh.n, 0) AS DOUBLE), 1) AS shared
        |FROM c ca JOIN c cb ON ca.source < cb.source
        |LEFT JOIN sh ON sh.a_src = ca.source AND sh.b_src = cb.source"""
        .stripMargin)),

    // Incremental dedup against an existing corpus: split the documents
    // into "history" and "incoming" by md5 route, then keep only incoming
    // docs whose text is NOT in history. The bloom filter over history
    // digests routes most genuinely-new rows past the join entirely
    // (might_contain miss = definitely new); only probable dups anti-join
    // the digest set — so the per-increment shuffle scales with the
    // increment, not the 100-TB history. Result is exact ⇒ full oracle.
    GraftQuery(
      "dedup_incremental",
      (s, dir) => {
        val route = substring(md5(col("doc_id").cast("string")), 1, 4)
        val docs = t(s, dir, "documents").withColumn("route", route)
        graft.operators.CorpusCuration.incrementalNew(
            incoming = docs.filter(col("route") >= "cccc").drop("route"),
            corpus = docs.filter(col("route") < "cccc").drop("route"),
            expectedItems = 100000L, numBits = 800000L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_new"), min("doc_id").as("first_id"),
               sum("n_chars").cast("long").as("new_chars"))
      },
      Some("""WITH hist AS (
        |  SELECT text FROM documents
        |  WHERE substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc'),
        |inc AS (
        |  SELECT * FROM documents
        |  WHERE substr(md5(doc_id::VARCHAR), 1, 4) >= 'cccc'),
        |nw AS (
        |  SELECT * FROM inc WHERE text NOT IN (SELECT text FROM hist))
        |SELECT lang, count(*) AS n_new, min(doc_id) AS first_id,
        |  CAST(sum(n_chars) AS BIGINT) AS new_chars
        |FROM nw GROUP BY lang""".stripMargin)),

    // Embedding-cosine near-duplicate pairs — the SUB-QUADRATIC tier as
    // the catalog path (the thing a user copies): SRP-LSH banded
    // candidates + exact cosine verify ([[GraftSimilarity.srpPairs]]),
    // never an all-pairs scan. The raw table has no true near-dups (its
    // densest pairs sit at cos ≤ 0.52, where NO hash family separates
    // pairs from background), so — like dedup_prefix's planted
    // truncations — the corpus is augmented with deterministic near-dup
    // twins (second half of every 10th vector doubled: cos(v, twin) =
    // (1+r)/√(1+3r) ∈ [0.9428, 1] for r = tail mass share, exact-in-IEEE
    // in both engines) and mined at the realistic near-dup threshold 0.9.
    // Recall at these parameters is deterministic (hash-derived
    // hyperplanes): P(miss) = (1 − p¹²)⁴⁰ ≈ 1.4e-5 per pair at p(0.9428)
    // = 0.89; SimilaritySpec pins srpPairs ≡ exact cosinePairs on this
    // corpus, and the DuckDB oracle is the brute-force ground truth.
    // The labeled-exact quadratic kernel remains the oracle twin
    // (`dedup_semantic` runs it at its low-threshold regime).
    GraftQuery(
      "dedup_embedding_cosine",
      (s, dir) => {
        graft.operators.GraftSimilarity.srpPairs(
          twinAugmented(t(s, dir, "embeddings")), threshold = 0.9)
      },
      Some("""WITH aug AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
        |    list_concat(list_slice(embedding::DOUBLE[], 1, 32),
        |      list_transform(list_slice(embedding::DOUBLE[], 33, 64),
        |                     x -> x * 2))
        |  FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9""".stripMargin)),

    // Prefix/truncation dedup: docs whose text is a prefix of another
    // doc's — the crawl-truncation duplicate that n-gram Jaccard misses
    // ([[GraftDedup.prefixDups]]: one lexicographic window, zero joins).
    // The corpus is augmented with deterministic 100-char truncations of
    // every 50th doc so the operator has true positives to flag; both
    // engines compute the same augmentation.
    GraftQuery(
      "dedup_prefix",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        // truncation ids offset in-plan by max(doc_id) + 1 — same
        // no-collision-at-any-SF rationale as [[twinAugmented]]
        val off = broadcast(docs.agg((max("doc_id") + 1).cast("long")
          .as("__off")))
        val truncated = docs.filter(col("doc_id") % 50 === 0).crossJoin(off)
          .select((col("doc_id") + col("__off")).as("doc_id"),
                  substring(col("text"), 1, 100).as("text"))
        graft.operators.GraftDedup.prefixDups(
            docs.unionAll(truncated), "doc_id", "text")
          .select("doc_id", "is_prefix_dup")
      },
      Some("""WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |    substr(text, 1, 100) AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |w AS (
        |  SELECT doc_id,
        |    coalesce(starts_with(lead(text) OVER (ORDER BY text, doc_id),
        |                         text), false) AS is_prefix_dup
        |  FROM aug)
        |SELECT doc_id, is_prefix_dup FROM w""".stripMargin)),

    // SemDeDup-style semantic dedup: cosine-similar vectors cluster
    // transitively; each cluster keeps its min-id member, singletons are
    // always kept. Pair mining here is the exact cosine tier (so the
    // oracle can replicate it); at 100 TB callers feed the SRP-LSH pair
    // path into the same closure ([[GraftSimilarity.semanticAssignments]]).
    GraftQuery(
      "dedup_semantic",
      (s, dir) =>
        graft.operators.GraftSimilarity.semanticAssignments(
          t(s, dir, "embeddings"), threshold = 0.35),
      Some("""WITH RECURSIVE p AS (
        |  SELECT a.vec_id a_id, b.vec_id b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
        |                               b.embedding::DOUBLE[]) >= 0.35),
        |ed AS (SELECT a_id s, b_id d FROM p
        |       UNION SELECT b_id, a_id FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS vec_id, least(s, min(d)) AS cluster_id
        |  FROM reach GROUP BY s)
        |SELECT e.vec_id,
        |  coalesce(c.cluster_id, e.vec_id) AS cluster_id,
        |  coalesce(c.cluster_id, e.vec_id) = e.vec_id AS kept
        |FROM embeddings e LEFT JOIN comp c USING (vec_id)""".stripMargin)),

    // Semantic dedup, SCALE path: the same closure + keep-min-id
    // assignment as `dedup_semantic`, but pair mining is the
    // SUB-QUADRATIC SRP-LSH tier at a production near-dup threshold
    // (τ = 0.9) — the form a 100-TB corpus actually runs. The raw corpus
    // has no pairs at 0.9 (densest background cos ≤ 0.52), so it's
    // twin-augmented like `dedup_embedding_cosine`; at these parameters
    // SRP recall on the planted pairs is deterministic
    // (P(miss) ≈ 1.4e-5 per pair, SimilaritySpec pins srpPairs ≡ exact),
    // which is what lets the brute-force DuckDB oracle certify the whole
    // banded pipeline end-to-end. `dedup_semantic` remains the low-τ
    // labeled-exact twin; this row is the scale demonstration.
    GraftQuery(
      "dedup_semantic_scale",
      (s, dir) => {
        val aug = twinAugmented(t(s, dir, "embeddings"))
        graft.operators.GraftSimilarity.semanticAssignments(
          aug, threshold = 0.9,
          pairs = Some(graft.operators.GraftSimilarity
            .srpPairs(aug, threshold = 0.9).select("a_id", "b_id")))
      },
      Some("""WITH RECURSIVE aug AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
        |    list_concat(list_slice(embedding::DOUBLE[], 1, 32),
        |      list_transform(list_slice(embedding::DOUBLE[], 33, 64),
        |                     x -> x * 2))
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id a_id, b.vec_id b_id
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9),
        |ed AS (SELECT a_id s, b_id d FROM p
        |       UNION SELECT b_id, a_id FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
        |comp AS (
        |  SELECT s AS vec_id, least(s, min(d)) AS cluster_id
        |  FROM reach GROUP BY s)
        |SELECT a.vec_id,
        |  coalesce(c.cluster_id, a.vec_id) AS cluster_id,
        |  coalesce(c.cluster_id, a.vec_id) = a.vec_id AS kept
        |FROM aug a LEFT JOIN comp c USING (vec_id)""".stripMargin)),

    // Semantic near-dup pairs, STORE-REUSE path: candidate blocking by
    // IVF cell instead of SRP bands ([[GraftSimilarity.cellBlockedPairs]])
    // — the tier a corpus runs when it already maintains the at-rest
    // embedding store, whose cell-partitioned layout makes pairing
    // cell-local (no new sketch state; from the store the verify reads
    // each cell's files once). Multi-probe nprobe=2 narrows the
    // cell-boundary miss band. Unlike the SRP tier (probabilistic recall
    // certified against brute force), the candidate STRUCTURE here is
    // fully deterministic — hash-picked centroids, argmax assignment —
    // so the oracle replays the exact blocking: centroid cut, top-2
    // assignment with c_id tie-break, within-cell pairs, max-dedup
    // across shared cells.
    GraftQuery(
      "dedup_semantic_cells",
      (s, dir) =>
        graft.operators.GraftSimilarity.cellBlockedPairs(
          twinAugmented(t(s, dir, "embeddings")), threshold = 0.9,
          nprobe = 2),
      Some("""WITH aug AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
        |    list_concat(list_slice(embedding::DOUBLE[], 1, 32),
        |      list_transform(list_slice(embedding::DOUBLE[], 33, 64),
        |                     x -> x * 2))
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |cut AS (
        |  SELECT printf('%08x', CAST(least(
        |           ceil(4294967296 * ceil(sqrt(count(*))) / count(*)),
        |           4294967295) AS BIGINT)) h
        |  FROM aug),
        |c AS (SELECT vec_id c_id, v cv FROM aug
        |      WHERE substr(md5(vec_id::VARCHAR), 1, 8) < (SELECT h FROM cut)),
        |a AS (
        |  SELECT vec_id, v, c_id FROM (
        |    SELECT aug.vec_id, aug.v, c.c_id,
        |      row_number() OVER (PARTITION BY aug.vec_id
        |        ORDER BY list_cosine_similarity(aug.v, c.cv) DESC, c.c_id) arnk
        |    FROM aug, c) WHERE arnk <= 2),
        |p AS (
        |  SELECT x.vec_id a_id, y.vec_id b_id,
        |    max(list_cosine_similarity(x.v, y.v)) mc
        |  FROM a x JOIN a y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.v, y.v) >= 0.9
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, round(mc, 4) AS cos FROM p""".stripMargin)),

    // Keep-first repeated-substring dedup (Lee et al. 2022): the
    // canonical (lexicographically-smallest (doc_id, pos)) occurrence of
    // every duplicated word-8-gram survives; tokens covered by any OTHER
    // occurrence are cut. Contrast text_scrub_repeats, which deletes
    // every occurrence (boilerplate removal) — here each repeated passage
    // survives exactly once, the dedup semantics that paper measures.
    // The oracle encodes the struct-min canonical key as
    // doc_id·2³² + pos (exact for the testdata's id/doc ranges; the
    // operator itself uses a struct min with no range limit).
    GraftQuery(
      "dedup_substring_keepfirst",
      (s, dir) =>
        graft.operators.CorpusCuration.dedupSubstringSpans(
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
        |dup AS (
        |  SELECT gram, min(doc_id * 4294967296 + gpos) mk
        |  FROM g GROUP BY gram HAVING count(*) >= 2),
        |occ AS (
        |  SELECT g.doc_id, g.gpos FROM g JOIN dup USING (gram)
        |  WHERE g.doc_id * 4294967296 + g.gpos <> dup.mk),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.token FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM occ o
        |                    WHERE o.doc_id = t.doc_id
        |                      AND t.pos BETWEEN o.gpos AND o.gpos + 7)),
        |s AS (
        |  SELECT doc_id, count(*) n_kept,
        |    string_agg(token, ' ' ORDER BY pos) kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_dropped,
        |  md5(coalesce(kept_text, '')) AS kept_md5
        |FROM b LEFT JOIN s USING (doc_id)""".stripMargin)),

    // Winnowed-fingerprint overlap mining (the MOSS pairing stage):
    // documents sharing >= 3 winnowed 7-gram fingerprints, LOCAL overlap
    // semantics (a shared run of >= w+k-1 = 10 tokens always pairs
    // regardless of the rest) — the complement of the global-Jaccard
    // tiers. k=7 makes a chance gram collision vanishingly rare, so the
    // join output tracks TRUE shared passages, not vocabulary overlap
    // (k=3 on this shared-vocabulary corpus paired thousands of
    // unrelated docs — the catalog's fingerprint query keeps small-k
    // density; the PAIRING tier needs collision-free grams). The
    // doc-frequency cap (fingerprints in > 100 docs never join) is the
    // f² candidate-blowup guard boilerplate demands at corpus scale.
    // Oracle replays fingerprinting (gram-string xxhash64 chain mapped
    // onto signed order), the df cap, and the pairing join.
    GraftQuery(
      "dedup_winnow_pairs",
      (s, dir) => graft.operators.GraftDedup.winnowPairs(
        t(s, dir, "documents"), k = 7, minShared = 3, maxDocFreq = 100),
      Some("""WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN octet_length(encode(text)) != length(text)
        |         THEN error('dedup_winnow_pairs oracle: non-ASCII text '
        |                    || 'for doc_id ' || doc_id)
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(range(1, len(w) - 5)) AS pos,
        |    unnest([array_to_string(w[i:i+6], ' ')
        |            FOR i IN range(1, len(w) - 5)]) AS g
        |  FROM docs WHERE len(w) >= 7),
        |wp_in AS (SELECT DISTINCT g AS t FROM gr),
        |""".stripMargin +
        XxHash64Sql.chain("wp_", "42", "dedup_winnow_pairs oracle") +
        """gh AS (
        |  SELECT doc_id, list(hs ORDER BY pos) AS gh FROM (
        |    SELECT gr.doc_id, gr.pos,
        |      CAST(CASE WHEN h >= 9223372036854775808
        |                THEN h - 18446744073709551616 ELSE h END
        |           AS BIGINT) AS hs
        |    FROM gr JOIN wp_ht ON wp_ht.t = gr.g)
        |  GROUP BY doc_id),
        |fp AS (
        |  SELECT doc_id, unnest(list_sort(list_distinct(
        |      CASE WHEN len(gh) >= 4
        |           THEN [list_min(gh[j:j+3]) FOR j IN range(1, len(gh) - 2)]
        |           ELSE [list_min(gh)] END))) AS f
        |  FROM gh),
        |kept AS (
        |  SELECT doc_id, f FROM fp
        |  WHERE f IN (SELECT f FROM fp GROUP BY f HAVING count(*) <= 100))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // EXACT edit-distance join (typo-dup / record-linkage tier): every
    // pair at Levenshtein ≤ 8, found via ED-Join positional q-gram
    // prefix filtering (q·d+1 rarest grams probe the full positional
    // index under position ±d and length ±d filters — candidates are
    // ~1% of the pair space here) and verified with the banded-DP
    // levenshtein. The pruning is provably lossless, so the oracle is
    // the BRUTE twin: DuckDB levenshtein over the length-filtered self
    // join — any completeness bug in the prefix filter hash-fails.
    GraftQuery(
      "dedup_editdist_pairs",
      (s, dir) => graft.operators.GraftDedup.editDistancePairs(
        t(s, dir, "documents"), maxDist = 8, q = 3),
      Some("""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 8
        | AND levenshtein(a.text, b.text) <= 8""".stripMargin)),
  )
}

/** Spark-XXH64-in-DuckDB: generates a CTE chain that hashes the `t` column
  * of CTE `{pre}in` (ASCII strings, < 128 bytes) with a constant seed,
  * yielding `{pre}ht(t, h)` where `h` is the unsigned HUGEINT value of
  * Spark's `XXH64.hashUnsafeBytes` over the string's bytes.
  *
  * Technique (the `src_synth_scan` HUGEINT method, extended from fixed
  * 8-byte inputs to variable-length strings): every multiplication in
  * xxh64 is value × prime-CONSTANT, so `mulmod` splits the value at 32
  * bits and multiplies each half into a HUGEINT that cannot overflow;
  * rotations are (shift-mod + logical right shift) of disjoint bit
  * ranges; xor/shift of HUGEINT values < 2⁶⁴ are exact. The sequential
  * structure is fully UNROLLED with CASE guards — up to 3 accumulator
  * blocks (inputs 32..127 bytes: the v1..v4 lane loop, merge, and
  * mergeRounds), then ≤3 remaining 8-byte word steps, one 4-byte step,
  * ≤3 byte steps, and the avalanche — no recursion. Inputs ≥ 128 bytes
  * hit a loud error() (add block stages if a corpus ever needs them);
  * byte access is via unicode() so CALLERS must guard ASCII. Verified
  * bit-identical to the JVM kernel on every length 0..127 (random
  * contents) before wiring; consumed by [[SimHashOracle]] and
  * [[SourceSigOracle]].
  */
private[queries] object XxHash64Sql {
  val M = "18446744073709551616"
  private val P1 = "11400714785074694791"
  private val P2 = "14029467366897019727"
  private val P3 = "1609587929392839161"
  private val P4 = "9650029242287828579"
  private val P5 = "2870177450012600261"
  /** GraftHashing.Seed1 (0x9747b28c17ef4831) as unsigned decimal. */
  val Seed1 = "10900877737840298033"
  /** GraftHashing.Seed2 (0x8badf00d5ca1ab1e) as unsigned decimal. */
  val Seed2 = "10064964682422266654"

  def mulmod(v: String, c: String): String =
    s"((((($v) // 4294967296) * $c) % $M * 4294967296) % $M" +
    s" + ((($v) % 4294967296) * $c) % $M) % $M"
  private def rotl(v: String, r: Int): String =
    s"((($v) * ${1L << r}) % $M + (($v) >> ${64 - r}))"
  private def xorf(a: String, b: String): String =
    s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"

  def chain(pre: String, seed: String, guardCtx: String): String = {
    val keep = "t, n, nb, nw, has4, bws, ws, u32, tail"
    val nbExpr = "CASE WHEN n >= 32 THEN n // 32 ELSE 0 END"
    def word(off: String): String =
      s"list_sum([CAST(cs[$off + k] AS HUGEINT) << (8*(k-1)) FOR k IN range(1, 9)])"
    val sb = new StringBuilder
    sb.append(s"""${pre}b0 AS (
  SELECT t,
    CASE WHEN octet_length(encode(t)) >= 128
         THEN error('$guardCtx: item >= 128 bytes — the xxh64 replay unrolls at most 3 blocks')
         ELSE octet_length(encode(t)) END AS n,
    [unicode(x) FOR x IN string_split(t, '')] AS cs
  FROM ${pre}in),
${pre}wrd AS (
  SELECT t, n,
    $nbExpr AS nb,
    (n - 32 * ($nbExpr)) // 8 AS nw,
    n % 8 >= 4 AS has4,
    flatten([[${word("32*bi + 8*li")}
     FOR li IN range(0, 4)]
     FOR bi IN range(0, $nbExpr)]) AS bws,
    [${word(s"32*($nbExpr) + 8*j")}
     FOR j IN range(0, (n - 32 * ($nbExpr)) // 8)] AS ws,
    CASE WHEN n % 8 >= 4 THEN
      list_sum([CAST(cs[8*(n//8) + k] AS HUGEINT) << (8*(k-1)) FOR k IN range(1, 5)])
    END AS u32,
    [CAST(cs[8*(n//8) + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END + k] AS HUGEINT)
     FOR k IN range(1, n % 4 + 1)] AS tail
  FROM ${pre}b0),
${pre}v0 AS (SELECT $keep,
  CAST(($seed + $P1 + $P2) % $M AS HUGEINT) AS v1,
  CAST(($seed + $P2) % $M AS HUGEINT) AS v2,
  CAST($seed AS HUGEINT) AS v3,
  CAST(($seed + $M - $P1) % $M AS HUGEINT) AS v4
  FROM ${pre}wrd),
""")
    def lane(v: String, w: String): String =
      mulmod(rotl(s"(($v) + ${mulmod(w, P2)}) % $M", 31), P1)
    for (bi <- 1 to 3) {
      val cols = (0 until 4).map { li =>
        s"CASE WHEN nb >= $bi THEN ${lane(s"v${li + 1}", s"bws[${4 * (bi - 1) + li + 1}]")} ELSE v${li + 1} END AS v${li + 1}"
      }.mkString(",\n  ")
      sb.append(s"${pre}v$bi AS (SELECT $keep,\n  $cols FROM ${pre}v${bi - 1}),\n")
    }
    def mergeRound(h: String, v: String): String = {
      val k = mulmod(rotl(mulmod(v, P2), 31), P1)
      s"(${mulmod(xorf(h, k), P1)} + $P4) % $M"
    }
    sb.append(s"""${pre}m0 AS (SELECT $keep, v1, v2, v3, v4,
  CASE WHEN n >= 32 THEN (${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $M
       ELSE CAST(($seed + $P5) % $M AS HUGEINT) END AS h FROM ${pre}v3),
""")
    for (li <- 1 to 4) {
      sb.append(s"""${pre}m$li AS (SELECT $keep, v1, v2, v3, v4,
  CASE WHEN n >= 32 THEN ${mergeRound("h", s"v$li")} ELSE h END AS h FROM ${pre}m${li - 1}),
""")
    }
    sb.append(s"${pre}h0 AS (SELECT $keep, CAST((h + n) % $M AS HUGEINT) AS h FROM ${pre}m4),\n")
    for (i <- 1 to 3) {
      val k1 = mulmod(rotl(mulmod(s"ws[$i]", P2), 31), P1)
      sb.append(s"""${pre}k$i AS (SELECT $keep, h,
  CASE WHEN nw >= $i THEN $k1 END AS kk FROM ${pre}h${i - 1}),
${pre}h$i AS (SELECT $keep,
  CASE WHEN nw >= $i THEN (${mulmod(rotl(xorf("h", "kk"), 27), P1)} + $P4) % $M
       ELSE h END AS h FROM ${pre}k$i),
""")
    }
    sb.append(s"""${pre}h4 AS (SELECT $keep,
  CASE WHEN has4 THEN (${mulmod(rotl(xorf("h", mulmod("u32", P1)), 23), P2)} + $P3) % $M
       ELSE h END AS h FROM ${pre}h3),
""")
    for (i <- 1 to 3) {
      val hb = mulmod(rotl(xorf("h", s"(tail[$i] * $P5) % $M"), 11), P1)
      sb.append(s"""${pre}h${4 + i} AS (SELECT $keep,
  CASE WHEN len(tail) >= $i THEN $hb ELSE h END AS h FROM ${pre}h${3 + i}),
""")
    }
    sb.append(s"""${pre}f1 AS (SELECT t, ${xorf("h", "h >> 33")} AS h FROM ${pre}h7),
${pre}f2 AS (SELECT t, ${mulmod("h", P2)} AS h FROM ${pre}f1),
${pre}f3 AS (SELECT t, ${xorf("h", "h >> 29")} AS h FROM ${pre}f2),
${pre}f4 AS (SELECT t, ${mulmod("h", P3)} AS h FROM ${pre}f3),
${pre}ht AS (SELECT t, ${xorf("h", "h >> 32")} AS h FROM ${pre}f4),
""")
    sb.toString
  }
}

/** DuckDB replay of [[graft.functions.GraftSimHash]]: per-token XXH64 via
  * [[XxHash64Sql.chain]] (Seed1), per-document bit voting (bit b set iff
  * strictly more than half the token occurrences — duplicates count — have
  * it set), `bit_or` signature assembly (a HUGEINT SUM silently rounds
  * through DOUBLE and zeroes the low ~10 bits), then the exact
  * [[graft.operators.GraftDedup.simHashPairs]] replay: 4×16-bit bands,
  * distinct pairs, 64-bit Hamming ≤ 12. ASCII guarded at the document
  * level. Verified bit-identical to `graft_simhash` per document at
  * sf0.001 AND sf0.01 before wiring.
  */
private[queries] object SimHashOracle {
  val sql: String = {
    val M = XxHash64Sql.M
    s"""WITH docs AS (
  SELECT doc_id,
    CASE WHEN octet_length(encode(text)) != length(text)
         THEN error('dedup_simhash oracle: non-ASCII text for doc_id '
                    || doc_id || ' — the xxh64 replay addresses BYTES via '
                    || 'unicode(), which only equals UTF-8 on ASCII')
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tks
  FROM documents),
occ AS (
  SELECT doc_id, unnest(tks) AS t FROM docs),
ntok AS (SELECT doc_id, count(*) AS nt FROM occ GROUP BY doc_id),
sh_in AS (
  SELECT DISTINCT t FROM occ),
""" +
    XxHash64Sql.chain("sh_", XxHash64Sql.Seed1, "dedup_simhash oracle") +
    s"""bitcnt AS (
  SELECT o.doc_id, bb.b, sum(CAST((ht.h >> bb.b) % 2 AS BIGINT)) AS sc
  FROM occ o JOIN sh_ht ht ON ht.t = o.t
  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
  GROUP BY o.doc_id, bb.b),
sig AS (
  SELECT bc.doc_id,
    bit_or(CASE WHEN 2 * bc.sc > nt THEN CAST(1 AS HUGEINT) << CAST(bc.b AS INT)
                ELSE CAST(0 AS HUGEINT) END) AS sh
  FROM bitcnt bc JOIN ntok USING (doc_id)
  GROUP BY bc.doc_id),
bands AS (
  SELECT doc_id, sh, bb.b AS band_id, (sh >> CAST(16 * bb.b AS INT)) % 65536 AS bh
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
pairs AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
    bit_count(xor(x.sh, y.sh)) AS hamming
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.bh = y.bh AND x.doc_id < y.doc_id)
SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 12"""
  }
}

/** DuckDB replay of the `dedup_source_signature` row — the
  * [[graft.functions.GraftMinHashAgg]] corpus-level MinHash signature and
  * the pairwise `graft_sig_agree` estimate, previously rows-only
  * ("sketch bits are engine-specific"). The bits stopped being
  * engine-specific once [[XxHash64Sql]] existed: the aggregate's k=128
  * Kirsch–Mitzenmacher slots are sig[j] = min over shingles of the SIGNED
  * 64-bit value (h1 + j·(h2 | 1)) mod 2⁶⁴ with h1/h2 the two seeded
  * XXH64s — an order-independent pure function of the shingle SET, so the
  * oracle hashes each distinct (source, shingle) once (duplicates cannot
  * change a min), explodes j = 0..127, takes the signed min per
  * (source, j), and counts equal slots per source pair. Matches the
  * aggregate across ANY partial/merge tree by min-commutativity.
  */
private[queries] object SourceSigOracle {
  val sql: String = {
    val M = XxHash64Sql.M
    s"""WITH sh0 AS (
  SELECT source,
    CASE WHEN octet_length(encode(text)) != length(text)
         THEN error('dedup_source_signature oracle: non-ASCII text — byte '
                    || 'access via unicode() only equals UTF-8 on ASCII')
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
sg AS (
  SELECT DISTINCT source,
    unnest([array_to_string(tk[i:i+2], ' ')
            FOR i IN range(1, len(tk) - 1)]) AS t
  FROM sh0),
x_in AS (SELECT DISTINCT t FROM sg),
y_in AS (SELECT t FROM x_in),
""" +
    XxHash64Sql.chain("x_", XxHash64Sql.Seed1, "dedup_source_signature h1") +
    XxHash64Sql.chain("y_", XxHash64Sql.Seed2, "dedup_source_signature h2") +
    s"""hh AS (
  SELECT x.t, x.h AS h1, (y.h - y.h % 2 + 1) AS h2p
  FROM x_ht x JOIN y_ht y ON y.t = x.t),
g AS (
  SELECT sg.source, j.j,
    min(CAST(CASE WHEN gm >= 9223372036854775808 THEN gm - $M ELSE gm END AS BIGINT)) AS mn
  FROM sg
  JOIN hh ON hh.t = sg.t
  CROSS JOIN (SELECT unnest(range(0, 128)) AS j) j
  CROSS JOIN LATERAL (SELECT (hh.h1 + j.j * hh.h2p) % $M AS gm) gg
  GROUP BY sg.source, j.j),
agree AS (
  SELECT a.source AS a_src, b.source AS b_src,
    sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) / 128.0 AS frac
  FROM g a JOIN g b ON a.j = b.j AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT a_src, b_src, round(frac, 4) AS est_jaccard FROM agree"""
  }
}
