package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classification over hashed unigram
  * features — the classifier-based selection family of a training-data
  * pipeline (fastText-style language-ID / quality gates, the CCNet /
  * GPT-3-quality-filter pattern): train a tiny linear model on a labeled
  * reference corpus, then score every arriving document with a stateless
  * projection.
  *
  * Determinism — the whole model lives in integer fixed-point, so train
  * and apply are bit-identical across engines and partitionings:
  *   - features: `pmod(xxhash64(word), B)` bucket ids (B a power of two,
  *     so an unsigned-modulo oracle replays Spark's `pmod` exactly);
  *   - likelihoods: add-1-smoothed `(n_cb + 1) / (N_c + B)` floored onto
  *     the 2²⁰ fixed-point grid (DECIMAL(38,0) products — no 64-bit
  *     overflow at any corpus size);
  *   - logs: the integer fixed-point log₂ used by
  *     [[CorpusCuration.dsirWeights]] — `(w << 10) div 2^ilog2(w) +
  *     1024·ilog2(w) − 1024`, `ilog2` = binary-string length − 1;
  *   - argmax: per-document minimum of `(−score, label)` — deterministic
  *     tie-break (higher score wins, ties break to the ascending label).
  *
  * Scale shape: training is ONE corpus-sized gram explode aggregated on
  * the `(label, bucket)` key — a key space of C×B (thousands) regardless
  * of corpus size — plus C-row and 1-row side aggregates; the dense
  * model is C×B rows (a few hundred KB), always broadcastable, always
  * collectable. Classification joins the gram stream to the broadcast
  * B-row bucket→weight-vector table (map-side) and aggregates C running
  * sums per document — the only wide shuffle is the per-document sum,
  * carrying C longs per row. The streaming twin
  * ([[graft.streaming.CorpusStreams.nbClassifyStream]]) folds the model
  * into a constant array literal instead: zero joins, zero state.
  */
object GraftClassifier {

  /** Feature-bucket count. Power of two so the DuckDB oracle's unsigned
    * `%` replays Spark's `pmod` on xxhash64 outputs (same argument as
    * [[CorpusCuration.DsirDefaultBuckets]]). */
  val NbDefaultBuckets: Int = 4096
  require(Integer.bitCount(NbDefaultBuckets) == 1,
    "NbDefaultBuckets must be a power of two (unsigned-vs-pmod parity)")

  private val Grid = 1048576L // 2^20 fixed-point grid, shared with DSIR

  /** A trained model: `priors` = one row per label `(label, lp)` with
    * `lp` the fixed-point log of the label's document-frequency prior;
    * `weights` = DENSE `(bucket, label, lw)` — one row for EVERY
    * (bucket, label) pair in `[0, buckets) × labels`, so an apply-side
    * gram hashing into a bucket the training corpus never saw still
    * scores deterministically (the smoothed `1/(N_c+B)` floor) instead
    * of dropping. C×B rows total — broadcast/collect at will. */
  final case class NbModel(priors: DataFrame, weights: DataFrame,
                           buckets: Int)

  /** Append `outCol` = integer fixed-point log₂ (1024-scaled) of the
    * positive long column `inCol`: `(w << 10) div 2^ilog2(w) +
    * 1024·ilog2(w) − 1024`. Monotone, ~0.1% resolution, no libm — a SQL
    * engine replays it with a binary-string length. Caller guarantees
    * `1 ≤ w < 2^53` (true here: the grid bounds w ≤ 2^20). */
  private def withFxLog(df: DataFrame, inCol: String,
                        outCol: String): DataFrame =
    df.withColumn("__il",
        (length(conv(col(inCol), 10, 2)) - 1).cast("long"))
      .withColumn(outCol,
        expr(s"shiftleft($inCol, 10) div shiftleft(1L, CAST(__il AS INT))") +
          col("__il") * 1024L - 1024L)
      .drop("__il")

  /** Train on a labeled corpus: one gram explode, (label, bucket)
    * aggregation, densified smoothed fixed-point log-likelihoods.
    * Rows with a NULL label or empty text contribute nothing. */
  def nbTrain(docs: DataFrame, labelCol: String = "lang",
              buckets: Int = NbDefaultBuckets,
              textCol: String = "text"): NbModel = {
    require(buckets > 0 && Integer.bitCount(buckets) == 1,
      s"buckets must be a positive power of two, got $buckets")
    val spark = docs.sparkSession
    val base = docs
      .filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("label"),
              GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
    // (label, bucket) gram counts — the one corpus-sized job; the ≤ C×B
    // result is a leaf so the dense join + totals below don't re-scan the
    // corpus
    val counts = base
      .select(col("label"), explode(col("__tk")).as("__w"))
      .filter(length(col("__w")) > 0)
      .select(col("label"),
              pmod(xxhash64(col("__w")), lit(buckets.toLong)).as("__b"))
      .groupBy("label", "__b").agg(count(lit(1)).as("__n"))
      .localCheckpoint(eager = false)
    val labelTotals = counts.groupBy("label")
      .agg(sum("__n").as("__nc"))
      .select(col("label").as("__lt_label"), col("__nc"))
    // document-frequency priors (C rows + 1 scalar row)
    val docCounts = base.groupBy("label").agg(count(lit(1)).as("__dc"))
    val totalDocs = docCounts.agg(sum("__dc").as("__d"))
    val priors = withFxLog(
      docCounts.crossJoin(broadcast(totalDocs))
        .withColumn("__wp", greatest(lit(1L),
          expr(s"""CAST((CAST(__dc AS DECIMAL(38,0)) * $Grid)
                  |     div CAST(__d AS DECIMAL(38,0)) AS BIGINT)"""
            .stripMargin))),
      "__wp", "lp").select(col("label"), col("lp"))
    // densify: EVERY (bucket, label) scores, hit or not
    val dense = spark.range(buckets).select(col("id").as("bucket"))
      .crossJoin(broadcast(labelTotals))
      .join(counts,
            col("bucket") === col("__b") && col("__lt_label") === col("label"),
            "left")
      .select(col("bucket"), col("__lt_label").as("label"),
              coalesce(col("__n"), lit(0L)).as("__n"), col("__nc"))
    val weights = withFxLog(
      dense.withColumn("__w", greatest(lit(1L), expr(
        s"""CAST((CAST(__n + 1 AS DECIMAL(38,0)) * $Grid)
           |     div CAST(__nc + $buckets AS DECIMAL(38,0)) AS BIGINT)"""
          .stripMargin))),
      "__w", "lw").select(col("bucket"), col("label"), col("lw"))
    NbModel(priors, weights, buckets)
  }

  /** Collect the model driver-side as label-sorted constants:
    * `(labels, lp per label, bucket→per-label weight vector)`.
    * O(C + C×B) — a few hundred KB; used by the streaming twin and by
    * tests. Throws if the weight table is not dense. */
  private[graft] def collectModel(model: NbModel)
      : (Seq[String], Seq[Long], Array[Array[Long]]) = {
    val lp = model.priors.select(col("label").cast("string"), col("lp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val labels = lp.keys.toSeq.sorted
    val idx = labels.zipWithIndex.toMap
    val w = Array.fill(model.buckets)(null: Array[Long])
    var filled = 0L
    model.weights
      .select(col("bucket").cast("int"), col("label").cast("string"),
              col("lw"))
      .collect().foreach { r =>
        val b = r.getInt(0)
        require(b >= 0 && b < model.buckets,
          s"nb model: bucket $b outside [0, ${model.buckets})")
        if (w(b) == null) w(b) = Array.fill(labels.size)(Long.MinValue)
        val i = idx.getOrElse(r.getString(1),
          throw new IllegalArgumentException(
            s"nb model: weight label '${r.getString(1)}' missing a prior"))
        w(b)(i) = r.getLong(2); filled += 1
      }
    require(filled == model.buckets.toLong * labels.size &&
            w.forall(v => v != null && v.forall(_ != Long.MinValue)),
      s"nb model: weight table must be DENSE (${model.buckets}×" +
      s"${labels.size} rows expected, $filled found) — pass nbTrain's " +
      "output unfiltered")
    (labels, labels.map(lp), w)
  }

  /** Classify documents with a trained model. Emits one row per document
    * with ≥ 1 whitespace token: `(idCol, n_grams, pred_label, nb_score)`
    * — `nb_score` the winning label's fixed-point log-posterior (bigger
    * = more confident relative to the same document's other labels; NOT
    * comparable across documents of different lengths).
    *
    * Plan shape: gram stream ⋈ broadcast B-row bucket→weight-vector
    * table (map-side), then ONE per-document aggregation carrying C
    * running sums; the label argmax is a pure projection over the C
    * sums + broadcast priors. */
  def nbClassify(docs: DataFrame, model: NbModel,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    // label list + priors are C-sized: collect once at plan time (the
    // per-class sum columns need the label arity as a plan constant)
    val lp = model.priors.select(col("label").cast("string"), col("lp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(lp.nonEmpty, "nbClassify: model has no labels")
    val labels = lp.map(_._1)
    // bucket → label-sorted weight vector (B rows, broadcast); a missing
    // (bucket, label) pair poisons the vector with NULL — refuse loudly
    // instead of silently skipping the gram in the sum
    val wvec = model.weights
      .groupBy("bucket")
      .agg(map_from_entries(collect_list(
        struct(col("label").cast("string"), col("lw")))).as("__m"))
      .select(col("bucket"),
              array(labels.map(l => col("__m").getItem(l)): _*).as("__wv"))
      .select(col("bucket"),
              when(exists(col("__wv"), x => x.isNull),
                   expr("CAST(raise_error('nbClassify: weight table is " +
                        "not dense over (bucket, label) — pass the " +
                        "nbTrain output unfiltered') AS ARRAY<BIGINT>)"))
                .otherwise(col("__wv")).as("__wv"))
    val grams = docs
      .select(col(idCol),
              GraftText.whitespaceTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol), explode(col("__tk")).as("__w"))
      .filter(length(col("__w")) > 0)
      .select(col(idCol),
              pmod(xxhash64(col("__w")),
                   lit(model.buckets.toLong)).as("__b"))
    val aggs = count(lit(1)).as("n_grams") +:
      labels.indices.map(i =>
        sum(element_at(col("__wv"), i + 1)).as(s"__s$i"))
    val sums = grams
      .join(broadcast(wvec), col("__b") === col("bucket"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
    // argmax with the deterministic tie-break: min of (−score, label)
    val cand = array(lp.zipWithIndex.map { case ((lab, prior), i) =>
      struct((-(col(s"__s$i") + lit(prior))).as("ns"),
             lit(lab).as("lab"))
    }: _*)
    sums
      .withColumn("__min", array_min(cand))
      .select(col(idCol), col("n_grams"),
              col("__min.lab").as("pred_label"),
              (-col("__min.ns")).as("nb_score"))
  }
}
