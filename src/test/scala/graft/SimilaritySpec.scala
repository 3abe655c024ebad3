package graft

import org.apache.spark.sql.functions._

/** ANN tier checks: exact tier is internally consistent; approximate tiers
  * (IVF, LSH) are measured for recall against the exact tier.
  */
class SimilaritySpec extends GraftFunSuite with ManifestStoreFixture {

  private def topk(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sf0001)
      .orderBy("q_id", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("brute-force top-k: k results per query, self excluded, scores sorted") {
    val df = SparkEntry.queries("ann_cosine_topk")(spark, sf0001).collect()
    val byQ = df.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    for ((q, rows) <- byQ) {
      assert(rows.length == 5)
      assert(!rows.map(_.getLong(1)).contains(q), "self must be excluded")
      val scores = rows.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q=$q scores not descending: ${scores.toSeq}")
    }
  }

  test("IVF recall@5 vs brute force is reasonable at nprobe=4") {
    val exact = topk("ann_cosine_topk")
    val ivf = topk("ann_ivf_topk")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q).toSet & ivf.getOrElse(q, Nil).toSet).size.toDouble / 5
    }.sum / exact.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("k-means-refined IVF: recall reasonable, shape intact, " +
       "refinement really moves centroids") {
    val exact = topk("ann_cosine_topk")
    val km = topk("ann_ivf_kmeans")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q).toSet & km.getOrElse(q, Nil).toSet).size.toDouble / 5
    }.sum / exact.size
    info(s"kmeans-IVF recall@5 = $recall")
    assert(recall >= 0.3, s"recall=$recall")
    // shape: k rows per query, self excluded
    for ((q, rows) <- km) {
      assert(rows.length == 5, s"q=$q got ${rows.length}")
      assert(!rows.contains(q), "self must be excluded")
    }
    // the refinement is not a no-op: refined centroids differ from the
    // hash-seeded init (means move unless every cell was already centered)
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id AS n_id",
                  "transform(embedding, x -> cast(x AS double)) AS v")
    val init = e.filter(
      substring(md5(col("n_id").cast("string")), 1, 8) < "02000000")
      .select(col("n_id").as("c_id"), col("v").as("cv"))
    val refined = GraftSimilarity.kmeansRefine(e, init, iters = 1)
    val before = init.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    val after = refined.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(after.nonEmpty && after.keySet.subsetOf(before.keySet))
    assert(after.exists { case (id, v) => before(id) != v },
      "refinement left every centroid exactly at its seed vector")
  }

  test("LSH recall@5 vs brute force is reasonable") {
    val exact = topk("ann_cosine_topk")
    val lsh = topk("ann_lsh_bucket")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q).toSet & lsh.getOrElse(q, Nil).toSet).size.toDouble / 5
    }.sum / exact.size
    info(s"LSH recall@5 = $recall")
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("quantized top-k: near-perfect recall vs brute force") {
    val exact = topk("ann_cosine_topk")
    val qz = topk("ann_quantized_topk")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q).toSet & qz.getOrElse(q, Nil).toSet).size.toDouble / 5
    }.sum / exact.size
    info(s"quantized recall@5 = $recall")
    // int8 quantization error is ~1e-2 on cosine; a 4× rerank pool should
    // recover almost all of the true top-5
    assert(recall >= 0.8, s"recall=$recall")
    // reranked scores are the EXACT cosine: any (q, n) pair present in
    // both tiers must carry the same score
    val exactScores = SparkEntry.queries("ann_cosine_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val qzScores = SparkEntry.queries("ann_quantized_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val shared = exactScores.keySet & qzScores.keySet
    assert(shared.nonEmpty)
    assert(shared.forall(k => exactScores(k) == qzScores(k)))
  }

  test("GraftSimilarity library API works with caller-named columns") {
    import spark.implicits._
    import graft.operators.GraftSimilarity
    // three orthogonal-ish unit vectors + one near-duplicate of doc 1
    val coll = Seq(
      (10L, Array(1.0, 0.0, 0.0)),
      (11L, Array(0.0, 1.0, 0.0)),
      (12L, Array(0.0, 0.0, 1.0)),
      (13L, Array(0.9, 0.1, 0.0))).toDF("doc", "emb")
    val qs = Seq((10L, Array(1.0, 0.0, 0.0))).toDF("query", "qemb")
    val out = GraftSimilarity.bruteForceTopK(coll, qs, k = 2,
        idCol = "doc", vecCol = "emb", qIdCol = "query", qVecCol = "qemb")
      .orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // nearest neighbor of doc 10 is its near-duplicate 13, then anything else
    assert(out.length == 2 && out(0) == (10L, 13L, 1L), out.toSeq)
  }

  test("semanticAssignments: transitive clusters keep min id, singletons " +
       "kept, pre-mined pairs plug in") {
    import spark.implicits._
    // 1≈2 and 2≈3 (chain — 1 and 3 are NOT directly similar), 9 isolated
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.436f)),   // cos(1,2) ≈ 0.9, cos(2,3) ≈ 0.9
      (3L, Array(0.62f, 0.785f)),  // cos(1,3) ≈ 0.62 < 0.8
      (9L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.GraftSimilarity
      .semanticAssignments(vecs, threshold = 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map(1L -> ((1L, true)), 2L -> ((1L, false)),
                      3L -> ((1L, false)), 9L -> ((9L, true))), got)
    // the 100-TB path: an externally mined (LSH-tier) pair list drives the
    // same closure/assignment stages
    val minedPairs = Seq((1L, 3L)).toDF("a_id", "b_id")
    val viaPairs = graft.operators.GraftSimilarity
      .semanticAssignments(vecs, threshold = 0.8, pairs = Some(minedPairs))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(viaPairs == Map(1L -> ((1L, true)), 2L -> ((2L, true)),
                           3L -> ((1L, false)), 9L -> ((9L, true))), viaPairs)
  }

  test("srpPairs ≡ exact cosinePairs on the augmented near-dup corpus " +
       "(deterministic recall 1 at the catalog parameters)") {
    import org.apache.spark.sql.functions._
    // the dedup_embedding_cosine construction: plant near-dup twins
    // (cos ∈ [0.9428, 1]) by doubling the second half of every 10th vector
    def augmented(dir: String) = {
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val twins = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
                concat(slice(col("embedding"), 1, 32),
                       transform(slice(col("embedding"), 33, 32),
                                 x => x * lit(2))).as("embedding"))
      base.unionAll(twins)
    }
    for (dir <- Seq(sf0001, sf001)) {
      val aug = augmented(dir).persist()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val lsh = graft.operators.GraftSimilarity
        .srpPairs(aug, threshold = 0.9).collect().map(key).toSet
      val exact = graft.operators.GraftSimilarity
        .cosinePairs(aug, threshold = 0.9).collect().map(key).toSet
      aug.unpersist()
      assert(lsh == exact,
        s"$dir: lsh-only=${lsh.diff(exact)} exact-only=${exact.diff(lsh)}")
      assert(exact.nonEmpty && exact.forall(_._3 >= 0.9), s"$dir: $exact")
      // every planted twin is found
      assert(exact.count(p => p._2 == p._1 + 100000) == exact.size)
    }
  }

  test("srpGeometry: occupancy-linear band width, analytic miss bound, " +
       "and a hard stop short of the background regime") {
    import graft.operators.GraftSimilarity.srpGeometry
    def missOf(bb: Int, bands: Int, c: Double): Double = {
      val p = 1.0 - math.acos(c) / math.Pi
      math.pow(1.0 - math.pow(p, bb), bands)
    }
    for (n <- Seq(1000L, 20000L, 1000000L, 1000000000L);
         c <- Seq(0.92, 0.94, 0.97)
         // (1e9, 0.92) legitimately exceeds the band cap — covered below
         if n < 1000000000L || c > 0.92) {
      val (bb, bands) = srpGeometry(n, c)
      // background stays linear: >= ~4 buckets per vector per band
      // (bandBits floor of 12 over-provisions the smallest corpora)
      assert((1L << bb) >= 4L * n || bb == 48, s"n=$n c=$c: bits=$bb")
      // the geometry meets its own analytic recall promise
      assert(missOf(bb, bands, c) <= 1e-4,
        s"n=$n c=$c: ($bb, $bands) miss=${missOf(bb, bands, c)}")
      assert(bands <= 512)
    }
    // larger corpora never get narrower bands
    val widths = Seq(1000L, 100000L, 10000000L, 1000000000L)
      .map(n => srpGeometry(n, 0.94)._1)
    assert(widths == widths.sorted, widths.toString)
    // recall demanded too close to background ⇒ refuse, don't go quadratic
    intercept[IllegalArgumentException] {
      srpGeometry(1000000000L, recallAt = 0.75)
    }
    intercept[IllegalArgumentException] { srpGeometry(1000L, recallAt = 0.5) }
  }

  test("srpPairsSized ≡ exact cosinePairs on the augmented corpus " +
       "(auto geometry from (n, recallAt = planted cosine))") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding")
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
              concat(slice(col("embedding"), 1, 32),
                     transform(slice(col("embedding"), 33, 32),
                               x => x * lit(2))).as("embedding"))
    val aug = base.unionAll(twins).persist()
    val n = aug.count()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val sized = graft.operators.GraftSimilarity
      .srpPairsSized(aug, threshold = 0.9, n = n, recallAt = 0.9428)
      .collect().map(key).toSet
    val exact = graft.operators.GraftSimilarity
      .cosinePairs(aug, threshold = 0.9).collect().map(key).toSet
    aug.unpersist()
    assert(sized == exact,
      s"sized-only=${sized.diff(exact)} exact-only=${exact.diff(sized)}")
    assert(exact.nonEmpty)
  }

  test("centroidSelect: deterministic across partitionings; rank 1 is " +
       "the true cosine argmax against the seed centroid") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val seed = col("vec_id") % 10 === 0
    val out = graft.operators.GraftSimilarity
      .centroidSelect(e, seed, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val out2 = graft.operators.GraftSimilarity
      .centroidSelect(e.repartition(7), seed, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 10 && out.sameElements(out2))
    // brute-force the centroid + cosines in-test and check the argmax
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = vecs.head._2.length
    val cv = new Array[Double](dim)
    for ((id, v) <- vecs if id % 10 == 0; i <- 0 until dim)
      cv(i) += math.round(v(i) * 1048576.0).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      d / math.sqrt(na * nb)
    }
    val best = vecs.map { case (id, v) => (id, cos(v, cv)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.head
    assert(out(0)._2 == best._1,
      s"rank 1 ${out(0)._2} != brute argmax ${best._1}")
    assert(math.abs(out(0)._3 - best._2) < 1e-3)
    // ranks are 1..k and cosines non-increasing
    assert(out.map(_._1).toSeq == (1L to 10L))
    assert(out.sliding(2).forall(p => p(0)._3 >= p(1)._3))
  }

  test("centroidScoreStream: stream scores equal the batch cosine to the " +
       "trained seed centroid exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val cent = graft.operators.GraftSimilarity.seedCentroid(
      e.filter(col("vec_id") % 10 === 0))
    // batch truth: the same broadcast-cosine the batch selector ranks on
    val batch = e.crossJoin(org.apache.spark.sql.functions.broadcast(cent))
      .select(col("vec_id"), round(
        graft.functions.GraftFunctionRegistry.cosine(col("v"), col("__cv")),
        4).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toSeq
    val input = MemoryStream[(Long, List[Double])]
    val q = graft.streaming.CorpusStreams.centroidScoreStream(
        input.toDF().toDF("vec_id", "embedding"), cent)
      .select("vec_id", "centroid_cos")
      .writeStream.format("memory").queryName("cent_par").outputMode("append")
      .start()
    try {
      input.addData(rows.take(rows.size / 2)); q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cent_par")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch,
      "streaming centroid scores must equal the batch cosine exactly")
    // the strict dim contract fires on width drift instead of mis-scoring
    val bad = MemoryStream[(Long, List[Double])]
    val q2 = graft.streaming.CorpusStreams.centroidScoreStream(
        bad.toDF().toDF("vec_id", "embedding"), cent)
      .writeStream.format("memory").queryName("cent_bad").outputMode("append")
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.addData(Seq((1L, List(1.0, 2.0)))); q2.processAllAvailable()
    }
    q2.stop()
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(err).exists(_.contains("length")), chain(err).mkString(" | "))
  }

  test("hardNegatives: same-label neighbors never mine, the simHi ceiling " +
       "drops near-dup different-label vectors, band order is exact") {
    import spark.implicits._
    import graft.operators.GraftSimilarity
    val coll = Seq(
      (1L, Seq(1.0, 0.01), 0),  // same label as anchor -> excluded
      (2L, Seq(1.0, 0.001), 1), // different label, cos ~0.9999995 >= 0.98
                                // -> the false-negative guard drops it
      (3L, Seq(0.9, 0.4), 1),   // cos ~0.9138 -> hardest kept negative
      (4L, Seq(0.5, 0.8), 2),   // cos ~0.5300 -> second
      (5L, Seq(0.9, 0.3), 0)    // same label -> excluded
    ).toDF("vec_id", "v", "label")
    val anchors = Seq((100L, Seq(1.0, 0.0), 0))
      .toDF("q_id", "qv", "q_label")
    val out = GraftSimilarity.hardNegatives(coll, anchors, k = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(3L, 4L),
      s"exactly the in-band different-label vectors mine, hardest first: " +
      out.mkString(", "))
    assert(out(0)._3 > out(1)._3)
    // simLo floors the band: only the cos ~0.91 negative survives
    val floored = GraftSimilarity.hardNegatives(
        coll, anchors, k = 3, simLo = 0.7)
      .collect().map(_.getLong(1)).toSet
    assert(floored == Set(3L))
    intercept[IllegalArgumentException] {
      GraftSimilarity.hardNegatives(coll, anchors, k = 0)
    }
    intercept[IllegalArgumentException] {
      GraftSimilarity.hardNegatives(coll, anchors, k = 3,
                                    simLo = 0.99, simHi = 0.98)
    }
  }

  test("recallAtK: probing every cell recovers ground truth exactly; " +
       "mean recall never falls as nprobe grows") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) v")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def mean(nprobe: Int): Double = {
      val rows = GraftSimilarity.recallAtK(e, q, k = 5, nprobe = nprobe)
        .collect().map(r => r.getDouble(2))
      assert(rows.length == 8, "one recall row per eval query")
      rows.sum / rows.length
    }
    // sqrt(500) ~ 23 centroids: probing all of them IS brute force
    assert(mean(64) == 1.0,
      "full probe must recover the exact top-k — recall 1.0 everywhere")
    val (r1, r2, r4) = (mean(1), mean(2), mean(4))
    assert(r1 <= r2 + 1e-9 && r2 <= r4 + 1e-9,
      s"mean recall must be monotone in nprobe: $r1, $r2, $r4")
    intercept[IllegalArgumentException] {
      GraftSimilarity.recallAtK(e, q, k = 0, nprobe = 1)
    }
  }

  test("hybridTopK: hand-computed RRF fusion, leg exclusivity, " +
       "self exclusion, candidate caps") {
    import spark.implicits._
    import graft.operators.{GraftText, HybridRetrieval}
    // doc 1 is the query. 2 = strong on both legs, 3 = lexical only,
    // 4 = semantic only, 5 = neither, 6 = weak on both.
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta delta"), (4L, "zeta eta theta"),
      (5L, "iota kappa lambda"), (6L, "alpha mu nu")
    ).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.95, 0.05, 0.0)),
      (5L, Seq(0.0, 0.0, 1.0)), (6L, Seq(0.5, 0.5, 0.0))
    ).toDF("vec_id", "v")
    val queries = docs.filter(col("doc_id") === 1L)
      .join(vecs, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"))
    val out = HybridRetrieval
      .hybridTopK(docs, vecs, queries, k = 5, kCand = 3, rrfK = 60)
      .collect()
    def f(r: org.apache.spark.sql.Row, c: String): Option[Long] = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    }
    val byDoc = out.map(r => r.getLong(1) -> r).toMap
    assert(!byDoc.contains(1L), "the query's own document must not appear")
    assert(!byDoc.contains(5L), "a doc off both candidate lists can't fuse in")
    // lexical ranks: 2 (3 shared terms) > 3 (2) > 6 (1); semantic ranks by
    // cosine: 4 (0.9986) > 2 (0.9939) > 6 (0.7071) — 3 and 5 at cosine 0
    // are outside kCand = 3
    assert(f(byDoc(2L), "lex_rank").contains(1L) &&
           f(byDoc(2L), "sem_rank").contains(2L))
    assert(f(byDoc(3L), "lex_rank").contains(2L) &&
           f(byDoc(3L), "sem_rank").isEmpty, "3 must be lexical-only")
    assert(f(byDoc(4L), "lex_rank").isEmpty &&
           f(byDoc(4L), "sem_rank").contains(1L), "4 must be semantic-only")
    // RRF on the 1e-9 grid: round(1e9/61) = 16393443, /62 = 16129032,
    // /63 = 15873016 — fused order 2 > 6 > 4 > 3
    assert(f(byDoc(2L), "rrf").contains(16393443L + 16129032L))
    assert(f(byDoc(6L), "rrf").contains(2L * 15873016L))
    assert(f(byDoc(4L), "rrf").contains(16393443L))
    assert(f(byDoc(3L), "rrf").contains(16129032L))
    assert(out.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq ==
           Seq(2L, 6L, 4L, 3L), "fused rank order")
    // tightening kCand to 2 drops the doc that ranked 3rd on both legs
    val tight = HybridRetrieval
      .hybridTopK(docs, vecs, queries, k = 5, kCand = 2, rrfK = 60)
      .collect().map(_.getLong(1)).toSet
    assert(!tight.contains(6L) && tight == Set(2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      HybridRetrieval.hybridTopK(docs, vecs, queries, k = 5, kCand = 3,
                                 rrfK = 0)
    }
    intercept[IllegalArgumentException] {
      HybridRetrieval.hybridTopK(docs, vecs, queries, k = 5, kCand = 0)
    }
  }

  test("ann_hybrid_rrf catalog query: contiguous ranks, both-leg evidence") {
    val rows = SparkEntry.queries("ann_hybrid_rrf")(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10, "one fused list per eval query")
    for ((q, rs) <- byQ) {
      val ranks = rs.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq,
        s"q=$q ranks not contiguous from 1: $ranks")
      assert(!rs.map(_.getLong(1)).contains(q), "self excluded")
    }
    // at least one fused hit carries BOTH leg ranks somewhere in the eval
    // block (word-soup corpus: lexical and semantic neighborhoods overlap)
    assert(rows.exists(r =>
      !r.isNullAt(r.fieldIndex("lex_rank")) &&
      !r.isNullAt(r.fieldIndex("sem_rank"))))
  }

  test("hybridTopKWith: covering nprobe equals the brute tier exactly; " +
       "the probe trade is confined to the semantic leg") {
    import graft.operators.{GraftSimilarity, GraftText, HybridRetrieval}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val cells = idx.centroids.count().toInt
      val brute = HybridRetrieval
        .hybridTopK(docs, e, queries, k = 10, kCand = 30).collect().toSet
      val covered = HybridRetrieval
        .hybridTopKWith(idx, docs, queries, k = 10, kCand = 30,
                        nprobe = cells).collect().toSet
      assert(covered == brute,
        "with every cell probed the served tier must equal the brute tier")
      // a REAL probe cut (nprobe=1) may lose semantic-leg hits but can
      // never lose lexically-surfaced documents: every lex_rank'd doc of
      // the brute fusion still appears (possibly re-ranked). k = 2*kCand
      // keeps the whole fusion output, so no rank cut can hide one.
      val pruned = HybridRetrieval
        .hybridTopKWith(idx, docs, queries, k = 60, kCand = 30, nprobe = 1)
        .collect()
      val lexDocs = brute.toSeq.filter(!_.isNullAt(4))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val prunedDocs = pruned.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lexDocs.subsetOf(prunedDocs),
        "lexical-leg candidates must survive any semantic probe cut")
    } finally { idx.unpersist(); () }
  }

  test("filtered fusion: hybridTopKWith(where) at covering nprobe equals " +
       "the brute hybrid over the filtered populations, and every fused " +
       "row respects the predicate on both legs") {
    import graft.operators.{GraftSimilarity, GraftText, HybridRetrieval}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val eMeta = e.join(docs.select(col("doc_id"), col("lang")),
                       col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("v"), col("lang"))
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"))
    val pred = col("lang") === "en"
    val docsF = docs.filter(pred)
    val idx = GraftSimilarity.buildIvfIndex(eMeta, metaCols = Seq("lang"))
      .persist()
    try {
      val cells = idx.centroids.count().toInt
      // brute reference: both populations pre-filtered outside the API
      val brute = HybridRetrieval.hybridTopK(
          docsF, eMeta.filter(pred).select(col("vec_id"), col("v")),
          queries, k = 10, kCand = 30)
        .collect().toSet
      val covered = HybridRetrieval.hybridTopKWith(
          idx, docsF, queries, k = 10, kCand = 30, nprobe = cells,
          where = Some(pred))
        .collect().toSet
      assert(covered == brute,
        "covering filtered fusion must equal brute fusion over the " +
        "filtered populations")
      // every served doc satisfies the predicate (both legs filtered)
      val enDocs = docsF.select("doc_id").collect().map(_.getLong(0)).toSet
      val dflt = HybridRetrieval.hybridTopKWith(
          idx, docsF, queries, k = 10, kCand = 30, nprobe = 4,
          where = Some(pred)).collect()
      assert(dflt.nonEmpty &&
             dflt.forall(r => enDocs.contains(r.getLong(1))),
        "a filtered fusion must never emit an out-of-population doc")
    } finally { idx.unpersist(); () }
  }

  test("hybridTopKWithPq: covering nprobe + covering rerank budget equals " +
       "the brute hybrid tier bit-for-bit, served straight off the at-rest " +
       "PQ store; lexical candidates survive any semantic cut") {
    import graft.operators.{GraftPq, GraftSimilarity, GraftText,
                            HybridRetrieval, IvfObjectStore}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"))
    val idx = GraftSimilarity.buildIvfIndex(e)
    val dir = tempStore("graft_hybrid_pq")
    IvfObjectStore.create(spark, idx, dir,
      pq = Some(GraftPq.trainPq(e, m = 4, ksub = 8, iters = 2)))
    val stored = IvfObjectStore.read(spark, dir)
    val cb = GraftPq.readPqCodebook(spark, dir)
    val cells = idx.centroids.count().toInt
    val coveringRf = (e.count().toInt / 30) + 1 // kCand·rf ≥ N
    val brute = HybridRetrieval
      .hybridTopK(docs, e, queries, k = 10, kCand = 30).collect().toSet
    val pqServed = HybridRetrieval
      .hybridTopKWithPq(stored, cb, docs, queries, k = 10, kCand = 30,
                        nprobe = cells, rerankFactor = coveringRf)
      .collect().toSet
    assert(pqServed == brute,
      "covering probe + covering budget must reproduce the brute fusion")
    // the q8 leg behind the same fusion (the store carries q8 beside cw):
    // covering probe + covering budget equals the brute fusion too
    val q8Served = HybridRetrieval
      .hybridTopKWithQ8(stored, docs,
                        queries, k = 10, kCand = 30, nprobe = cells,
                        rerankFactor = coveringRf)
      .collect().toSet
    assert(q8Served == brute,
      "the q8 hybrid tier must also reproduce the brute fusion at " +
      "covering settings")
    // the int4 leg completes the fusion matrix (brute/IVF/q8/q4/PQ
    // behind one contract): same covering parity, in-memory q4Augment
    // (the at-rest tier is opt-in at write)
    val q4Served = HybridRetrieval
      .hybridTopKWithQ4(GraftSimilarity.q4Augment(idx), docs,
                        queries, k = 10, kCand = 30, nprobe = cells,
                        rerankFactor = coveringRf)
      .collect().toSet
    assert(q4Served == brute,
      "the q4 hybrid tier must also reproduce the brute fusion at " +
      "covering settings")
    // the one-bit leg bottoms out the ladder (brute/IVF/q8/q4/b1/PQ
    // behind one contract): same covering parity, in-memory b1Augment
    val b1Served = HybridRetrieval
      .hybridTopKWithB1(GraftSimilarity.b1Augment(idx), docs,
                        queries, k = 10, kCand = 30, nprobe = cells,
                        rerankFactor = coveringRf)
      .collect().toSet
    assert(b1Served == brute,
      "the b1 hybrid tier must also reproduce the brute fusion at " +
      "covering settings")
    // a REAL cut (default budget, nprobe 1): lexically-surfaced documents
    // can never be lost — the PQ trade is confined to the semantic leg
    val pruned = HybridRetrieval
      .hybridTopKWithPq(stored, cb, docs, queries, k = 60, kCand = 30,
                        nprobe = 1, rerankFactor = 4)
      .collect()
    val lexDocs = brute.toSeq.filter(!_.isNullAt(4))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lexDocs.subsetOf(
      pruned.map(r => (r.getLong(0), r.getLong(1))).toSet),
      "lexical-leg candidates must survive any semantic cut")
  }

  test("ivfTopKWithQ8: q8 store layout (column present, n_id-sorted cells); " +
       "covering rerankFactor equals the exact serve; survivor fetch " +
       "pushes a literal n_id filter into the store scan") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val dir = tempStore("graft_q8_store")
    graft.operators.IvfObjectStore.create(
      spark, GraftSimilarity.buildIvfIndex(e), dir)
    // layout: every cell file carries the q8 column and is n_id-sorted
    // (the two facts the survivor fetch's row-group pruning keys on)
    val cellFiles = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("c_id="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(cellFiles.nonEmpty)
    for (f <- cellFiles.take(3)) {
      val part = spark.read.parquet(f.getPath)
      assert(part.columns.contains("q8"), s"no q8 column in ${f.getName}")
      // the int4 tier is OPT-IN at write: a default store pays no
      // graft_q4b pass and carries no q4 column (VERDICT r12 #3)
      assert(!part.columns.contains("q4"),
        s"q4 column present in ${f.getName} despite default write")
      val ids = part.select("n_id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"cell file ${f.getName} not n_id-sorted")
    }
    val idx = graft.operators.IvfObjectStore.read(spark, dir)
    val exact = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = 4)
      .collect().toSet
    // rerankFactor covering the whole collection → the quantized cut
    // cannot drop a true candidate → bit-equal to the exact serve
    val covering = e.count().toInt
    val q8cov = GraftSimilarity
      .ivfTopKWithQ8(idx, q, k = 5, nprobe = 4, rerankFactor = covering)
      .collect().toSet
    assert(q8cov == exact,
      "covering rerankFactor must reproduce the exact serve bit-for-bit")
    // default factor: k exact-cosine rows per query, self excluded, and
    // the rerank scan carries the literal In(n_id, ...) pushdown
    val df = GraftSimilarity
      .ivfTopKWithQ8(idx, q, k = 5, nprobe = 4, rerankFactor = 4)
    val rows = df.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    for ((qid, rs) <- byQ) {
      assert(rs.length == 5, s"q=$qid got ${rs.length}")
      assert(!rs.map(_.getLong(1)).contains(qid), "self excluded")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(n_id"),
      s"survivor fetch must push the literal n_id set to parquet; plan:\n" +
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // the q8 cut at factor 4 stays a high-recall approximation of the
    // exact serve (same probed cells, integer scoring)
    val overlap = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(exact.map(r => (r.getLong(0), r.getLong(1))).toSet).size
    assert(overlap >= 40, s"q8 tier recall vs exact serve: $overlap/50")
    // in-memory guard: an index without q8 is refused loudly, and
    // q8Augment makes it servable
    intercept[IllegalArgumentException] {
      GraftSimilarity.ivfTopKWithQ8(GraftSimilarity.buildIvfIndex(e), q,
                                    k = 5)
    }
    val aug = GraftSimilarity
      .ivfTopKWithQ8(GraftSimilarity.q8Augment(GraftSimilarity.buildIvfIndex(e)),
                     q, k = 5, nprobe = 4, rerankFactor = covering)
      .collect().toSet
    assert(aug == exact)
  }

  test("q4 rung: nibble pack is bit-exact vs the integer reference " +
       "(incl. odd-dim pad neutrality), the stored serve matches the " +
       "exact serve at a covering budget, and the at-rest bytes are " +
       "ceil(d/2)") {
    import graft.operators.GraftSimilarity
    // kernel parity: graft_q4b_cos over packed nibbles ==
    // the independently decoded integer arithmetic, including an ODD
    // dimension whose pad nibble must contribute nothing
    def q4codes(v: Seq[Double]): Seq[Int] = {
      val m = v.map(math.abs).max
      if (m == 0.0) v.map(_ => 0)
      else v.map { x =>
        val t = x * 7.0 / m
        if (t >= 0) Math.round(t).toInt else -Math.round(-t).toInt
      }
    }
    def refCos(a: Seq[Double], b: Seq[Double]): Double = {
      val (ca, cb) = (q4codes(a), q4codes(b))
      val ab = ca.zip(cb).map { case (x, y) => x.toLong * y }.sum
      val aa = ca.map(x => x.toLong * x).sum
      val bb = cb.map(x => x.toLong * x).sum
      if (aa == 0L || bb == 0L) 0.0 else ab / math.sqrt((aa * bb).toDouble)
    }
    for (d <- Seq(3, 4, 64)) {
      val a = (1 to d).map(i => math.sin(i * 0.7) * (if (i % 3 == 0) -1 else 1))
      val b = (1 to d).map(i => math.cos(i * 1.3))
      val al = a.map(x => s"${x}D").mkString(",")
      val bl = b.map(x => s"${x}D").mkString(",")
      val got = spark.sql(
        s"""SELECT graft_q4b_cos(graft_q4b(array($al)),
           |                     graft_q4b(array($bl))) c,
           |       length(graft_q4b(array($al))) n
           |""".stripMargin).collect().head
      assert(got.getDouble(0) == refCos(a, b),
        s"d=$d: packed kernel must equal the integer reference bit-for-bit")
      assert(got.getInt(1) == (d + 1) / 2,
        s"d=$d: q4 pack must be ceil(d/2) bytes, got ${got.getInt(1)}")
    }
    // stored serve: covering budget reproduces the exact serve; the
    // default budget keeps the contract shape (5 rows/query, no self)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val dir = tempStore("graft_q4_store")
    graft.operators.IvfObjectStore.create(
      spark, GraftSimilarity.buildIvfIndex(e), dir, q4 = true)
    val idx = graft.operators.IvfObjectStore.read(spark, dir)
    val exact = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = 4)
      .collect().toSet
    val covering = e.count().toInt
    assert(GraftSimilarity
             .ivfTopKWithQ4(idx, q, k = 5, nprobe = 4,
                            rerankFactor = covering).collect().toSet == exact,
      "covering rerankFactor must reproduce the exact serve bit-for-bit")
    val rows = GraftSimilarity
      .ivfTopKWithQ4(idx, q, k = 5, nprobe = 4, rerankFactor = 4).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    for ((qid, rs) <- byQ) {
      assert(rs.length == 5, s"q=$qid got ${rs.length}")
      assert(!rs.map(_.getLong(1)).contains(qid), "self excluded")
    }
    // in-memory guard + augment, mirroring the q8 contract
    intercept[IllegalArgumentException] {
      GraftSimilarity.ivfTopKWithQ4(
        graft.operators.GraftSimilarity.IvfIndex(
          idx.centroids, idx.assigned.drop("q4")), q, k = 5)
    }
    assert(GraftSimilarity
             .ivfTopKWithQ4(GraftSimilarity.q4Augment(
                              GraftSimilarity.buildIvfIndex(e)),
                            q, k = 5, nprobe = 4, rerankFactor = covering)
             .collect().toSet == exact)
  }

  test("b1 rung: sign pack is bit-exact vs the Hamming reference " +
       "(incl. pad neutrality at non-multiple-of-8 dims), the stored " +
       "serve matches the exact serve at a covering budget, the at-rest " +
       "bytes are ceil(d/8), and the tier is opt-in at write") {
    import graft.operators.GraftSimilarity
    // kernel parity: graft_b1_cos over packed sign bits == the
    // independently computed (bits − 2·ham)/bits on PADDED bits; pad
    // bits agree on both sides so ham is dim-only
    def refB1(a: Seq[Double], b: Seq[Double]): Double = {
      val bits = 8 * ((a.length + 7) / 8)
      val ham = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      (bits - 2 * ham).toDouble / bits
    }
    for (d <- Seq(3, 8, 64)) {
      val a = (1 to d).map(i => math.sin(i * 0.7) * (if (i % 3 == 0) -1 else 1))
      val b = (1 to d).map(i => math.cos(i * 1.3))
      val al = a.map(x => s"${x}D").mkString(",")
      val bl = b.map(x => s"${x}D").mkString(",")
      val got = spark.sql(
        s"""SELECT graft_b1_cos(graft_b1b(array($al)),
           |                    graft_b1b(array($bl))) c,
           |       length(graft_b1b(array($al))) n
           |""".stripMargin).collect().head
      assert(got.getDouble(0) == refB1(a, b),
        s"d=$d: packed kernel must equal the Hamming reference bit-for-bit")
      assert(got.getInt(1) == (d + 7) / 8,
        s"d=$d: b1 pack must be ceil(d/8) bytes, got ${got.getInt(1)}")
    }
    // stored serve: covering budget reproduces the exact serve; the
    // default budget keeps the contract shape (5 rows/query, no self)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val defDir = tempStore("graft_b1_def")
    graft.operators.IvfObjectStore.create(
      spark, GraftSimilarity.buildIvfIndex(e), defDir)
    // the 1-bit tier is OPT-IN at write: a default store pays no
    // graft_b1b pass and carries no b1 column (the q4 contract)
    assert(!graft.operators.IvfObjectStore.read(spark, defDir)
             .assigned.columns.contains("b1"),
      "default write must not carry the b1 column")
    val dir = tempStore("graft_b1_store")
    graft.operators.IvfObjectStore.create(
      spark, GraftSimilarity.buildIvfIndex(e), dir, b1 = true)
    val idx = graft.operators.IvfObjectStore.read(spark, dir)
    assert(idx.assigned.columns.contains("b1"))
    val exact = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = 4)
      .collect().toSet
    val covering = e.count().toInt
    assert(GraftSimilarity
             .ivfTopKWithB1(idx, q, k = 5, nprobe = 4,
                            rerankFactor = covering).collect().toSet == exact,
      "covering rerankFactor must reproduce the exact serve bit-for-bit")
    val rows = GraftSimilarity
      .ivfTopKWithB1(idx, q, k = 5, nprobe = 4, rerankFactor = 4).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    for ((qid, rs) <- byQ) {
      assert(rs.length == 5, s"q=$qid got ${rs.length}")
      assert(!rs.map(_.getLong(1)).contains(qid), "self excluded")
    }
    // in-memory guard + augment, mirroring the q8/q4 contract
    intercept[IllegalArgumentException] {
      GraftSimilarity.ivfTopKWithB1(GraftSimilarity.buildIvfIndex(e), q,
                                    k = 5)
    }
    assert(GraftSimilarity
             .ivfTopKWithB1(GraftSimilarity.b1Augment(
                              GraftSimilarity.buildIvfIndex(e)),
                            q, k = 5, nprobe = 4, rerankFactor = covering)
             .collect().toSet == exact)
  }

  test("survivorRerank |Q| gate: past the literal gate the q8 and PQ " +
       "stored serves switch to the broadcast-join fetch — bit-identical " +
       "results, one REUSED broadcast exchange instead of a driver " +
       "collect and an In(n_id, ...) literal plan") {
    import graft.operators.{GraftPq, GraftSimilarity, IvfObjectStore}
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val dir = tempStore("graft_gate_store")
    IvfObjectStore.create(spark, GraftSimilarity.buildIvfIndex(e), dir,
      pq = Some(GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2)))
    val idx = IvfObjectStore.read(spark, dir)
    def pqServe() = GraftPq.ivfPqTopKWithCw(
      IvfObjectStore.read(spark, dir), GraftPq.readPqCodebook(spark, dir),
      q, k = 5, nprobe = 4, rerankFactor = 4)
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                     r.getDouble(3))).toSet
    val q8LitDf = GraftSimilarity
      .ivfTopKWithQ8(idx, q, k = 5, nprobe = 4, rerankFactor = 4)
    val q8Lit = asSet(q8LitDf.collect())
    // below the gate the rerank attaches the survivor pairs and the query
    // vectors as literal maps: the fetch plan holds no join at all
    val q8LitPlan = q8LitDf.queryExecution.executedPlan.toString
    assert(q8LitPlan.contains("PushedFilters: [In(n_id") &&
           !q8LitPlan.contains("Join"),
      s"literal-path rerank must be a projection over the fetch:\n$q8LitPlan")
    val pqLit = asSet(pqServe().collect())
    // a gate of |Q| = 10 still admits the minibatch but not its
    // |Q|·k·rf = 200 survivors
    spark.conf.set("spark.graft.survivorFetchMaxLiterals", "10")
    try {
      val q8Bc = GraftSimilarity
        .ivfTopKWithQ8(idx, q, k = 5, nprobe = 4, rerankFactor = 4)
      assert(asSet(q8Bc.collect()) == q8Lit,
        "q8 serve must be bit-identical on both sides of the gate")
      val q8Plan = q8Bc.queryExecution.executedPlan.toString
      assert(q8Plan.contains("ReusedExchange"),
        "the broadcast-path candidate frame must ship through ONE " +
        s"reused exchange; plan:\n$q8Plan")
      assert(!q8Plan.contains("PushedFilters: [In(n_id"),
        "past the gate no literal n_id set may reach the scan")
      val pqBc = pqServe()
      assert(asSet(pqBc.collect()) == pqLit,
        "PQ serve must be bit-identical on both sides of the gate")
      assert(pqBc.queryExecution.executedPlan.toString
               .contains("ReusedExchange"))
      // a minibatch past the gate is refused, naming the bound
      spark.conf.set("spark.graft.survivorFetchMaxLiterals", "9")
      for (serve <- Seq(() => pqServe(), () => GraftSimilarity
             .ivfTopKWithQ8(idx, q, k = 5, nprobe = 4, rerankFactor = 4))) {
        val err = intercept[IllegalArgumentException](serve())
        assert(err.getMessage.contains("more than 9 rows") &&
               err.getMessage.contains("spark.graft.survivorFetchMaxLiterals"),
          err.getMessage)
      }
    } finally spark.conf.unset("spark.graft.survivorFetchMaxLiterals")
  }

  test("tierRecall: one row per (tier, query), recall in [0,1] against " +
       "the per-query truth count, and a covering rerank budget drives " +
       "ALL tiers to recall 1.0 (the cut is the only loss source)") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val out = GraftSimilarity.tierRecall(e, q, k = 5, rerankFactor = 4)
      .collect()
    assert(out.length == 40, s"4 tiers x 10 queries, got ${out.length}")
    assert(out.map(_.getString(0)).toSet == Set("q8", "q4", "b1", "pq"))
    out.foreach { r =>
      val (hits, rec) = (r.getLong(2), r.getDouble(3))
      assert(hits >= 0 && hits <= 5 && rec >= 0.0 && rec <= 1.0,
        s"row out of bounds: $r")
      assert(math.abs(rec - hits / 5.0) < 1e-9,
        s"recall must be n_hits over the truth count: $r")
    }
    // covering budget: the quantized/ADC cut keeps every candidate, the
    // exact rerank then reproduces the exact top-k — recall 1.0 for both
    // tiers by construction
    val covering = e.count().toInt
    val full = GraftSimilarity.tierRecall(e, q, k = 5,
                                          rerankFactor = covering)
      .collect()
    assert(full.forall(_.getDouble(3) == 1.0),
      s"covering rerank budget must give recall 1.0 everywhere:\n" +
      full.filter(_.getDouble(3) < 1.0).mkString("\n"))
  }

  test("mmrTopK: lambda=1 degenerates to exact top-k, rank 1 is the " +
       "plain argmax at any lambda, diversity strictly caps pairwise " +
       "similarity on a clustered corpus, and the IVF-served variant at " +
       "covering nprobe equals the brute variant bit-for-bit") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // lambda = 1: no diversity penalty — selection order is exactly the
    // relevance order, i.e. bruteForceTopK's ids rank-for-rank
    val plain = GraftSimilarity.bruteForceTopK(e, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    val lam1 = GraftSimilarity.mmrTopK(e, q, k = 5, kCand = 20, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    assert(lam1 == plain,
      "lambda=1 MMR must equal plain top-k rank-for-rank")
    // any lambda: rank 1 is the pure-relevance argmax (penalty 0)
    val mmr = GraftSimilarity.mmrTopK(e, q, k = 5, kCand = 20, lambda = 0.5)
      .collect()
    val top1 = plain.filter(_._2 == 1L).map(t => (t._1, t._3)).toMap
    mmr.filter(_.getLong(2) == 1L).foreach { r =>
      assert(r.getLong(1) == top1(r.getLong(0)),
        s"rank-1 must be the relevance argmax for q=${r.getLong(0)}")
    }
    // per query: 5 rows, selection ranks 1..5, no self, no repeats
    val byQ = mmr.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    for ((qid, rs) <- byQ) {
      assert(rs.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val ids = rs.map(_.getLong(1))
      assert(ids.distinct.length == 5 && !ids.contains(qid))
    }
    // clustered corpus: three tight clusters near the query — plain
    // top-k drowns in the nearest cluster, MMR at lambda=0.5 must
    // strictly reduce the max pairwise cosine among the selected
    import spark.implicits._
    val base = Array.fill(8)(0.0)
    def mk(axis: Int, eps: Double): Seq[Double] = {
      val v = base.clone(); v(axis) = 1.0; v((axis + 1) % 8) = eps; v.toSeq
    }
    val clustered = (
      (1L to 6L).map(i => (i, mk(0, 0.001 * i))) ++   // cluster A (nearest)
      (7L to 12L).map(i => (i, mk(1, 0.001 * i))) ++  // cluster B
      (13L to 18L).map(i => (i, mk(2, 0.001 * i)))    // cluster C
    ).toDF("vec_id", "v")
    val qc = Seq((100L, mk(0, 0.3))).toDF("q_id", "qv")
    def maxPairSim(ids: Seq[Long]): Double = {
      val vs = clustered.filter(col("vec_id").isin(ids: _*))
        .collect().map(r => r.getSeq[Double](1).toArray)
      (for (i <- vs.indices; j <- vs.indices if i < j) yield {
        val (a, b) = (vs(i), vs(j))
        val dot = a.zip(b).map(p => p._1 * p._2).sum
        dot / (math.sqrt(a.map(x => x * x).sum) *
               math.sqrt(b.map(x => x * x).sum))
      }).max
    }
    // k = 3 over 3 clusters: plain top-3 sits entirely in the nearest
    // cluster (pairwise sim ≈ 1), MMR must spread to one per cluster
    val plainIds = GraftSimilarity.bruteForceTopK(clustered, qc, k = 3)
      .collect().map(_.getLong(1)).toSeq
    val mmrIds = GraftSimilarity
      .mmrTopK(clustered, qc, k = 3, kCand = 18, lambda = 0.5)
      .collect().sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(maxPairSim(mmrIds) < maxPairSim(plainIds),
      s"MMR must cap pairwise similarity: plain=$plainIds mmr=$mmrIds")
    // IVF-served variant: covering nprobe ⇒ same candidate pool ⇒ the
    // greedy is identical
    val idx = GraftSimilarity.buildIvfIndex(e)
    val nCells = idx.centroids.count().toInt
    val servedCov = GraftSimilarity
      .mmrTopKWith(idx, q, k = 5, kCand = 20, lambda = 0.5,
                   nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3))).toSet
    val brute = mmr.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                              r.getDouble(3))).toSet
    assert(servedCov == brute,
      "covering-nprobe IVF MMR must equal brute MMR bit-for-bit")
    intercept[IllegalArgumentException] {
      GraftSimilarity.mmrTopK(e, q, k = 5, kCand = 4)
    }
    intercept[IllegalArgumentException] {
      GraftSimilarity.mmrTopK(e, q, k = 5, lambda = 1.5)
    }
  }

  test("hybridTopKWithMmr: selections come from the fused top-kCand " +
       "candidacy, lambda=1 degenerates to cosine order over it, and " +
       "the output shape/determinism contract holds") {
    import graft.operators.{GraftSimilarity, GraftText, HybridRetrieval}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val fused = HybridRetrieval.hybridTopKWith(idx, docs, queries,
        k = 20, kCand = 20, rrfK = 60, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val fusedByQ = fused.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val out = HybridRetrieval.hybridTopKWithMmr(idx, docs, queries,
        k = 5, kCand = 20, rrfK = 60, nprobe = 4, lambda = 0.5)
        .collect()
      val byQ = out.groupBy(_.getLong(0))
      assert(byQ.size == 10)
      for ((qid, rs) <- byQ) {
        assert(rs.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
        val ids = rs.map(_.getLong(1))
        assert(ids.distinct.length == 5 && !ids.contains(qid))
        assert(ids.forall(fusedByQ(qid).contains),
          s"q=$qid selected outside the fused candidacy")
      }
      // lambda = 1: pure cosine order over the fused candidate set
      val qvs = queries.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
      val evs = e.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val lam1 = HybridRetrieval.hybridTopKWithMmr(idx, docs, queries,
        k = 5, kCand = 20, rrfK = 60, nprobe = 4, lambda = 1.0)
        .collect().groupBy(_.getLong(0))
      for ((qid, rs) <- lam1) {
        val want = fusedByQ(qid).toSeq
          .sortBy(n => (-cos(qvs(qid), evs(n)), n)).take(5)
        val got = rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
        assert(got == want, s"q=$qid lambda=1 order: got $got want $want")
      }
      // determinism
      val again = HybridRetrieval.hybridTopKWithMmr(idx, docs, queries,
        k = 5, kCand = 20, rrfK = 60, nprobe = 4, lambda = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getDouble(3))).toSet
      assert(again == out.map(r => (r.getLong(0), r.getLong(1),
                                    r.getLong(2), r.getDouble(3))).toSet)
    } finally { idx.unpersist(); () }
  }

  test("serveProduction: the everything-at-rest composition — pruned " +
       "lexical leg invisible vs essential=|terms| (exactness through " +
       "fusion + MMR), covering refusal when kCand exceeds the filtered " +
       "candidate pool, bucket pruning visible in the one plan") {
    import graft.operators.{GraftSimilarity, HybridRetrieval,
                            ImpactObjectStore, IvfObjectStore}
    GraftSession.ensureExtensions(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val aug = docs.select(
      col("doc_id"), col("lang"),
      concat(col("text"), lit(" the"),
             when(col("doc_id") % 5 === 0, lit(" uncommonmark"))
               .otherwise(lit(""))).as("text"))
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val root = tempStore("graft_serve_prod")
    ImpactObjectStore.rebuild(aug.filter(col("lang") === "en"),
                              s"$root/impact")
    IvfObjectStore.create(
      spark,
      GraftSimilarity.buildIvfIndex(
        e.join(docs.select(col("doc_id"), col("lang")),
               col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("v"), col("lang")),
        metaCols = Seq("lang")),
      s"$root/ivf")
    val idx = IvfObjectStore.read(spark, s"$root/ivf")
    val imp = ImpactObjectStore.read(spark, s"$root/impact")
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              expr("array('uncommonmark', 'the')").as("q_terms"),
              col("v").as("qv"))
    def run(essential: Int, kCand: Int) = HybridRetrieval.serveProduction(
      idx, imp, queries, essential = essential, k = 5, kCand = kCand,
      rrfK = 60, nprobe = 4, rerankFactor = 4, lambda = 0.5,
      where = Some(col("lang") === "en"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val pruned = run(essential = 1, kCand = 30)
    val prunedRows = pruned.collect().map(key).toSet
    // the ONE composed plan (finalized by the collect above): the
    // bucket-pruned impact scan and the fold/explode MMR tail both live
    // in it — PLANS.md pins the full formatted shape
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("__bkt"),
      "expected the impact scan's bucket pruning in the composed plan")
    assert(plan.contains("posexplode(sel") && plan.contains("collect_list"),
      "expected the fold/explode MMR tail in the composed plan")
    // essential = |terms|: nothing skipped, guard vacuous — the
    // UNPRUNED composition; MaxScore must be invisible through fusion
    // and diversification
    val unpruned = run(essential = 2, kCand = 30).collect().map(key).toSet
    assert(prunedRows == unpruned && prunedRows.size == 50,
      s"pruned-only=${prunedRows.diff(unpruned).take(5)} " +
      s"unpruned-only=${unpruned.diff(prunedRows).take(5)}")
    // kCand above the filtered candidate pool (36 en docs carry the
    // rare term at sf0.001): a full heap is impossible, skipped mass is
    // nonzero — the composition must refuse, not degrade
    val err = intercept[Exception] { run(essential = 1, kCand = 50).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("does not cover")), s"got: $err")
  }

  test("batch serves refuse k, kCand, rrfK, nprobe and rerankFactor of 0, " +
       "each message naming the method that checks it") {
    import graft.operators.{GraftPq, GraftSimilarity, GraftText,
                            HybridRetrieval, ImpactObjectStore}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val queries = docs.filter(col("doc_id") < 10)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("q_id"),
              GraftText.whitespaceTokens(col("text")).as("q_terms"),
              col("v").as("qv"), col("text"))
    val idx = GraftSimilarity.b1Augment(GraftSimilarity.q4Augment(
      GraftSimilarity.q8Augment(GraftSimilarity.buildIvfIndex(e))))
    val cb = GraftPq.trainPq(e, m = 4, ksub = 8)
    val impDir = tempStore("graft_refusals")
    ImpactObjectStore.rebuild(docs, impDir)
    val imp = ImpactObjectStore.read(spark, impDir)
    // each serve: the parameters it takes, and a call reading them
    val serves: Seq[(String, Seq[String], (String => Int) => Any)] = Seq(
      ("hybridTopK", Seq("k", "kCand", "rrfK"), p =>
        HybridRetrieval.hybridTopK(docs, e, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"))),
      ("hybridTopKWith", Seq("k", "kCand", "rrfK", "nprobe"), p =>
        HybridRetrieval.hybridTopKWith(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"))),
      ("hybridTopKWithQ8", Seq("k", "kCand", "rrfK", "nprobe", "rerankFactor"),
        p => HybridRetrieval.hybridTopKWithQ8(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"),
          rerankFactor = p("rerankFactor"))),
      ("hybridTopKWithQ4", Seq("k", "kCand", "rrfK", "nprobe", "rerankFactor"),
        p => HybridRetrieval.hybridTopKWithQ4(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"),
          rerankFactor = p("rerankFactor"))),
      ("hybridTopKWithB1", Seq("k", "kCand", "rrfK", "nprobe", "rerankFactor"),
        p => HybridRetrieval.hybridTopKWithB1(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"),
          rerankFactor = p("rerankFactor"))),
      ("hybridTopKWithPq", Seq("k", "kCand", "rrfK", "nprobe", "rerankFactor"),
        p => HybridRetrieval.hybridTopKWithPq(idx, cb, docs, queries,
          k = p("k"), kCand = p("kCand"), rrfK = p("rrfK"),
          nprobe = p("nprobe"), rerankFactor = p("rerankFactor"))),
      ("hybridTopKWithMaxSim", Seq("k", "kCand", "rrfK", "nprobe"), p =>
        HybridRetrieval.hybridTopKWithMaxSim(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"))),
      ("hybridTopKWithMmr", Seq("k", "kCand", "rrfK", "nprobe"), p =>
        HybridRetrieval.hybridTopKWithMmr(idx, docs, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"))),
      ("hybridTopKWithImpacts", Seq("k", "kCand", "rrfK", "nprobe"), p =>
        HybridRetrieval.hybridTopKWithImpacts(idx, imp, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"))),
      ("serveProduction", Seq("k", "kCand", "rrfK", "nprobe", "rerankFactor"),
        p => HybridRetrieval.serveProduction(idx, imp, queries, k = p("k"),
          kCand = p("kCand"), rrfK = p("rrfK"), nprobe = p("nprobe"),
          rerankFactor = p("rerankFactor"))),
      ("ivfTopKWithQ8", Seq("k", "nprobe", "rerankFactor"), p =>
        GraftSimilarity.ivfTopKWithQ8(idx, queries, k = p("k"),
          nprobe = p("nprobe"), rerankFactor = p("rerankFactor"))),
      ("ivfTopKWithQ4", Seq("k", "nprobe", "rerankFactor"), p =>
        GraftSimilarity.ivfTopKWithQ4(idx, queries, k = p("k"),
          nprobe = p("nprobe"), rerankFactor = p("rerankFactor"))),
      ("ivfTopKWithB1", Seq("k", "nprobe", "rerankFactor"), p =>
        GraftSimilarity.ivfTopKWithB1(idx, queries, k = p("k"),
          nprobe = p("nprobe"), rerankFactor = p("rerankFactor"))),
      ("ivfPqTopKWithCw", Seq("k", "nprobe", "rerankFactor"), p =>
        GraftPq.ivfPqTopKWithCw(idx, cb, queries, k = p("k"),
          nprobe = p("nprobe"), rerankFactor = p("rerankFactor"))))
    // a check a serve hands to the serve it delegates to names that one:
    // the MMR hybrid's nprobe is its fused serve's, the production
    // serve's rerankFactor its q8 leg's, the quantized IVF serves'
    // nprobe the probe's
    val checkedBy = Map(
      ("hybridTopKWithMmr", "nprobe") -> "hybridTopKWith",
      ("serveProduction", "rerankFactor") -> "ivfTopKWithQ8",
      ("ivfTopKWithQ8", "nprobe") -> "probeCells",
      ("ivfTopKWithQ4", "nprobe") -> "probeCells",
      ("ivfTopKWithB1", "nprobe") -> "probeCells")
    val ok = Map("k" -> 5, "kCand" -> 10, "rrfK" -> 60, "nprobe" -> 2,
                 "rerankFactor" -> 2)
    for ((name, params, serve) <- serves; zero <- params) {
      val err = intercept[IllegalArgumentException] {
        serve(p => if (p == zero) 0 else ok(p))
      }
      val owner = checkedBy.getOrElse((name, zero), name)
      assert(err.getMessage == s"requirement failed: $owner: $zero must be " +
                               ">= 1, got 0", s"$name($zero = 0)")
    }
  }

  test("ndcgAtK: covering nprobe scores a perfect 10^6 for every query, " +
       "all values live on the [0, 10^6] grid, and a starved probe " +
       "budget can only lower the per-query score") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cells = GraftSimilarity.buildIvfIndex(e).centroids.count().toInt
    val perfect = GraftSimilarity.ndcgAtK(e, q, k = 5, nprobe = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perfect.size == 10)
    assert(perfect.values.forall(_ == 1000000L),
      s"covering probes must reproduce the exact ordering: $perfect")
    val starved = GraftSimilarity.ndcgAtK(e, q, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(starved.keySet == perfect.keySet)
    starved.foreach { case (qid, v) =>
      assert(v >= 0L && v <= 1000000L, s"q=$qid off the grid: $v")
      assert(v <= perfect(qid))
    }
    intercept[IllegalArgumentException] {
      GraftSimilarity.ndcgAtK(e, q, k = 0, nprobe = 1)
    }
    // MRR, the trio's third leg: same covering-perfection and
    // starved-monotonicity contracts on the same serve
    val mrrPerfect = GraftSimilarity.mrrAtK(e, q, k = 5, nprobe = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mrrPerfect.values.forall(_ == 1000000L),
      s"covering probes: first served hit must be rank 1: $mrrPerfect")
    val mrrStarved = GraftSimilarity.mrrAtK(e, q, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    mrrStarved.foreach { case (qid, v) =>
      assert(v >= 0L && v <= 1000000L && v <= mrrPerfect(qid),
        s"q=$qid mrr off contract: $v")
    }
  }

  test("recallAtKWith: one index across the sweep — monotone in nprobe, " +
       "equal to the one-shot recallAtK at every swept value") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val idx = GraftSimilarity.buildIvfIndex(e).persist()
    try {
      val sweep = GraftSimilarity
        .recallAtKWith(idx, q, k = 5, nprobes = Seq(1, 2, 4)).collect()
      assert(sweep.length == 30, "3 sweep values x 10 queries")
      val byQ = sweep.groupBy(_.getLong(1))
      for ((qid, rows) <- byQ) {
        val byNp = rows.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
        assert(byNp.zip(byNp.tail).forall { case (a, b) => a <= b },
          s"q=$qid hits not monotone in nprobe: $byNp")
      }
      // each swept value reproduces the one-shot operator bit-for-bit
      // (same deterministic build, so the rebuilt index is identical)
      for (np <- Seq(1, 4)) {
        val one = GraftSimilarity.recallAtK(e, q, k = 5, nprobe = np)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        val slice = sweep.filter(_.getLong(0) == np)
          .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        assert(slice == one, s"sweep slice nprobe=$np != one-shot recallAtK")
      }
    } finally { idx.unpersist(); () }
  }

  test("metadata-filtered serve: label rides the store, the predicate " +
       "pushes to the parquet scan, covering nprobe equals brute force " +
       "over the filtered population, and the quantized rungs agree") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v",
                  "label")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val dir = tempStore("graft_meta_store")
    // q4 = true: this test serves every quantized rung off the store,
    // and the int4 tier is opt-in at write
    graft.operators.IvfObjectStore.create(spark,
      GraftSimilarity.buildIvfIndex(e, metaCols = Seq("label")), dir,
      q4 = true)
    // the metadata column lands in every cell file, beside the layout set
    val cellFiles = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("c_id="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(cellFiles.nonEmpty)
    for (f <- cellFiles.take(3))
      assert(spark.read.parquet(f.getPath).columns.contains("label"),
        s"no label column in ${f.getName}")
    val idx = graft.operators.IvfObjectStore.read(spark, dir)
    val pred = col("label") === 3
    val nCells = idx.centroids.count().toInt
    val cov = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = nCells,
                                          where = Some(pred))
      .select("q_id", "n_id", "rnk").collect().toSet
    // covering nprobe ≡ brute force over exactly the filtered population
    val brute = GraftSimilarity.bruteForceTopK(
        e.filter(pred), q, k = 5, idCol = "vec_id")
      .select("q_id", "n_id", "rnk").collect().toSet
    assert(cov == brute,
      "covering filtered serve must equal brute force over the filtered rows")
    // every served row satisfies the predicate (pre-filter, not post-cut)
    val labelOf = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dflt = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = 4,
                                           where = Some(pred))
    assert(dflt.collect().forall(r => labelOf(r.getLong(1)) == 3),
      "a filtered serve must never emit a non-matching neighbor")
    // the predicate reaches the at-rest scan as a data filter
    val plan = dflt.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("EqualTo(label,3)")),
      "label predicate must push down to the store scan; plan:\n" +
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // quantized rungs under the same filter, covering budget → identical
    // to the filtered exact serve
    val exact4 = GraftSimilarity.ivfTopKWith(idx, q, k = 5, nprobe = 4,
                                             where = Some(pred))
      .collect().toSet
    val covering = e.count().toInt
    for ((nm, srv) <- Seq(
        ("q8", GraftSimilarity.ivfTopKWithQ8(idx, q, k = 5, nprobe = 4,
           rerankFactor = covering, where = Some(pred))),
        ("q4", GraftSimilarity.ivfTopKWithQ4(idx, q, k = 5, nprobe = 4,
           rerankFactor = covering, where = Some(pred)))))
      assert(srv.collect().toSet == exact4,
        s"covering-budget filtered $nm serve must equal the filtered exact serve")
    // the PQ rung takes the same predicate: lossless codebook (ksub
    // covering every distinct subvector is overkill here — instead use a
    // covering rerank budget, which makes the ADC cut unable to drop a
    // filtered candidate) → identical to the filtered exact serve
    val cb = graft.operators.GraftPq.trainPq(
      e.select(col("vec_id"), col("v")), m = 8, ksub = 16, iters = 1)
    val pqDir = tempStore("graft_meta_pq")
    graft.operators.IvfObjectStore.create(spark, idx, pqDir, pq = Some(cb))
    val pqIdx = graft.operators.IvfObjectStore.read(spark, pqDir)
    assert(pqIdx.assigned.columns.contains("label"),
      "metadata must ride through the PQ store write")
    val pqServed = graft.operators.GraftPq.ivfPqTopKWithCw(
        pqIdx, graft.operators.GraftPq.readPqCodebook(spark, pqDir), q,
        k = 5, nprobe = 4, rerankFactor = covering, where = Some(pred))
      .collect().toSet
    assert(pqServed == exact4,
      "covering-budget filtered PQ serve must equal the filtered exact serve")
  }

  test("metadata append contract: appends carry the store's metadata " +
       "columns or fail loudly; appended metadata serves") {
    import graft.operators.GraftSimilarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS double)) AS v",
                  "label")
    val base = GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
                                             metaCols = Seq("label"))
    val batch = e.filter(col("vec_id") % 2 === 1)
    // in-memory: metadata preserved through the append
    val appended = GraftSimilarity.ivfAppend(base, batch)
    assert(appended.assigned.columns.contains("label"))
    assert(appended.assigned.filter(col("label").isNull).count() == 0,
      "an append must never null-pad metadata")
    // fail-loud: a batch missing the metadata column is refused
    val err = intercept[IllegalArgumentException] {
      GraftSimilarity.ivfAppend(base, batch.drop("label"))
    }
    assert(err.getMessage.contains("label"), err.getMessage)
    // at-rest: IvfObjectStore.append enforces the same contract
    val dir = tempStore("graft_meta_append")
    graft.operators.IvfObjectStore.create(spark, base, dir)
    val err2 = intercept[IllegalArgumentException] {
      graft.operators.IvfObjectStore.append(spark, dir, batch.drop("label"))
    }
    assert(err2.getMessage.contains("label"), err2.getMessage)
    graft.operators.IvfObjectStore.append(spark, dir, batch)
    val rt = graft.operators.IvfObjectStore.read(spark, dir)
    assert(rt.assigned.filter(col("label").isNull).count() == 0)
    // a filtered serve over the appended store sees appended rows
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val served = GraftSimilarity.ivfTopKWith(rt, q, k = 5,
        nprobe = rt.centroids.count().toInt, where = Some(col("label") === 3))
      .select("q_id", "n_id", "rnk").collect().toSet
    val brute = GraftSimilarity.bruteForceTopK(
        e.filter(col("label") === 3), q, k = 5, idCol = "vec_id")
      .select("q_id", "n_id", "rnk").collect().toSet
    assert(served == brute)
  }
}
