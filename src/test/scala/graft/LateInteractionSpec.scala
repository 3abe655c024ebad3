package graft

import org.apache.spark.sql.functions._
import graft.operators.LateInteraction

/** [[graft.operators.LateInteraction]] — ColBERT-style MaxSim over ±1
  * hash token embeddings, integer-exact end to end. */
class LateInteractionSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  test("hashTokenVectors: deterministic ±1 vectors, identical tokens " +
       "collide, distinct-token bag capped at maxTokens") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta beta beta"),
      (3L, "   ")).toDF("doc_id", "text")
    val tv = LateInteraction.hashTokenVectors(docs, dim = 8, maxTokens = 3)
    val rows = tv.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2))).toSeq
    // doc 1: first 3 tokens = alpha beta alpha → distinct {alpha, beta}
    assert(rows.filter(_._1 == 1L).map(_._2).toSet == Set("alpha", "beta"))
    // doc 2 collapses to one token; blank doc 3 yields nothing
    assert(rows.filter(_._1 == 2L).map(_._2) == Seq("beta"))
    assert(!rows.exists(_._1 == 3L))
    // identical token ⇒ identical vector across documents; components ±1
    val beta1 = rows.find(r => r._1 == 1L && r._2 == "beta").get._3
    val beta2 = rows.find(r => r._1 == 2L && r._2 == "beta").get._3
    assert(beta1 == beta2 && beta1.length == 8 &&
           beta1.forall(x => x == 1 || x == -1))
    // deterministic across invocations
    assert(LateInteraction.hashTokenVectors(docs, dim = 8, maxTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2)))
      .toSet == rows.toSet)
  }

  test("maxSimTopK: hand-checkable MaxSim — shared tokens contribute " +
       "dim each, per-token max not sum-of-pairs, self excluded") {
    val dim = 8
    val docs = Seq(
      (1L, "alpha beta"),          // the query doc
      (2L, "alpha beta gamma"),    // shares both query tokens
      (3L, "alpha delta"),         // shares one
      (4L, "epsilon zeta")).toDF("doc_id", "text")
    val dt = LateInteraction.hashTokenVectors(docs, dim = dim)
    val qt = dt.filter(col("doc_id") === 1L)
      .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
    val out = LateInteraction.maxSimTopK(dt, qt, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSet == Set(2L, 3L, 4L))
    val byDoc = out.map(r => r._1 -> r._3).toMap
    // doc 2 holds both query tokens exactly: each query token's max is
    // the self-dot = dim, so score = 2·dim regardless of gamma (per-token
    // MAX, never sum over pairs)
    assert(byDoc(2L) == 2L * dim, s"got $byDoc")
    // doc 3 matches one token exactly (contributes dim); the other query
    // token's best match is whatever 'alpha'/'delta' hash dots give — a
    // value in [-dim, dim], so dim - dim <= score3 < 2*dim and the exact-
    // double-match doc must rank first
    assert(byDoc(3L) < byDoc(2L) && byDoc(3L) >= 0L - dim + dim)
    assert(out.find(_._1 == 2L).get._2 == 1L, "doc 2 must rank first")
    // ranks contiguous from 1
    assert(out.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("maxSimTopKWith: covering probes reproduce the exact MaxSim " +
       "bit-for-bit through the token-level IVF index; composite ids " +
       "decode to doc ids") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    try {
      val qt = dt.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
      val exact = graft.operators.LateInteraction.maxSimTopK(dt, qt, k = 10)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val idx = LateInteraction.tokenIndex(dt).persist()
      try {
        val cells = idx.centroids.count().toInt
        val served = LateInteraction.maxSimTopKWith(idx, qt, k = 10,
                                                    nprobe = cells)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(served == exact,
          s"covering-probe MaxSim must equal the exact contraction: " +
          s"served-only=${served.diff(exact).take(3)} " +
          s"exact-only=${exact.diff(served).take(3)}")
        // every indexed composite id decodes below the doc-id radix
        val ords = idx.assigned
          .select(expr(s"n_id % ${LateInteraction.TokenIdBase}").as("o"))
          .agg(max(col("o"))).collect()(0).getLong(0)
        assert(ords < LateInteraction.TokenIdBase)
        // a REAL probe cut stays a plausible approximation: k rows per
        // query at most, scores never exceed the exact ones
        val cut = LateInteraction.maxSimTopKWith(idx, qt, k = 10, nprobe = 1)
          .collect()
        val exactScore = exact.map(r => (r._1, r._2) -> r._4).toMap
        assert(cut.forall(r => r.getLong(2) <= 10))
        assert(cut.forall { r =>
          val key = (r.getLong(0), r.getLong(1))
          !exactScore.contains(key) || r.getLong(3) <= exactScore(key)
        }, "a probe cut can only lose evidence, never invent it")
      } finally { idx.unpersist(); () }
    } finally { dt.unpersist(); () }
  }

  test("maxSimTopKWith(where): filtered late interaction — covering " +
       "probes equal the exact MaxSim over the filtered token bag, and " +
       "every served doc satisfies the predicate") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    try {
      val dtMeta = dt.join(docs.select(col("doc_id"), col("lang")),
                           "doc_id")
      val qt = dt.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
      val idx = LateInteraction.tokenIndex(dtMeta,
                                           metaCols = Seq("lang")).persist()
      try {
        def key(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val cells = idx.centroids.count().toInt
        // pre-filter semantics: covering filtered serve ≡ the exact
        // contraction over ONLY the en documents' token bags
        val exactFiltered = LateInteraction.maxSimTopK(
            dt.join(docs.filter(col("lang") === "en").select("doc_id"),
                    "doc_id"),
            qt, k = 10).collect().map(key).toSet
        val covered = LateInteraction.maxSimTopKWith(
            idx, qt, k = 10, nprobe = cells,
            where = Some(col("lang") === "en"))
          .collect().map(key).toSet
        assert(covered == exactFiltered,
          "covering filtered MaxSim must equal the exact contraction " +
          "over the filtered token population")
        // every served doc satisfies the predicate at a real probe cut
        val enDocs = docs.filter(col("lang") === "en")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val cut = LateInteraction.maxSimTopKWith(
            idx, qt, k = 10, nprobe = 4,
            where = Some(col("lang") === "en")).collect()
        assert(cut.nonEmpty &&
               cut.forall(r => enDocs.contains(r.getLong(1))),
          "a filtered MaxSim serve must never emit an out-of-population doc")
      } finally { idx.unpersist(); () }
    } finally { dt.unpersist(); () }
  }

  test("hybridTopKWithMaxSim: BM25 fused with token-granular MaxSim — " +
       "contract shape, determinism, and a both-legs winner outranks " +
       "single-leg docs") {
    import graft.operators.HybridRetrieval
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    val idx = LateInteraction.tokenIndex(dt).persist()
    try {
      val queries = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("text"))
      val out = HybridRetrieval.hybridTopKWithMaxSim(
        idx, docs, queries, k = 10, kCand = 30, nprobe = 4)
      val rows = out.collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.size == 10)
      for ((qid, rs) <- byQ) {
        assert(rs.length <= 10 && rs.nonEmpty, s"q=$qid: ${rs.length}")
        assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq,
          s"q=$qid fused ranks must be contiguous from 1")
        assert(!rs.map(_.getLong(1)).contains(qid), "self excluded")
        // rrf must equal the two leg contributions it claims
        for (r <- rs) {
          def leg(i: Int): Long =
            if (r.isNullAt(i)) 0L
            else math.round(1e9 / (60 + r.getLong(i)))
          assert(r.getLong(3) == leg(4) + leg(5),
            s"q=$qid doc=${r.getLong(1)}: rrf must be the sum of its legs")
        }
        // a doc carrying BOTH leg ranks at least ties any doc whose
        // single leg rank is no better than both of its own
        val both = rs.filter(r => !r.isNullAt(4) && !r.isNullAt(5))
        for (b <- both) {
          val worseSingles = rs.filter(r =>
            (r.isNullAt(4) && !r.isNullAt(5) &&
              r.getLong(5) >= math.max(b.getLong(4), b.getLong(5))) ||
            (r.isNullAt(5) && !r.isNullAt(4) &&
              r.getLong(4) >= math.max(b.getLong(4), b.getLong(5))))
          assert(worseSingles.forall(_.getLong(2) > b.getLong(2)),
            "two-leg evidence must outrank strictly-worse single-leg docs")
        }
      }
      // deterministic across invocations
      assert(HybridRetrieval.hybridTopKWithMaxSim(
               idx, docs, queries, k = 10, kCand = 30, nprobe = 4)
               .collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    } finally { idx.unpersist(); dt.unpersist(); () }
  }

  test("token index at rest: write/read, append, compaction and the " +
       "manifest substrate all preserve the array<int> tv metadata; " +
       "every stored serve is bit-identical to its in-memory twin") {
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    import graft.operators.{GraftSimilarity, IvfObjectStore}
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    try {
      val qt = dt.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
      val idx = LateInteraction.tokenIndex(dt).persist()
      try {
        val inMem = LateInteraction.maxSimTopKWith(idx, qt, k = 10,
                                                   nprobe = 4)
          .collect().map(key).toSet
        assert(inMem.nonEmpty)
        // ---- create → read on the manifest store: the serve the
        // oracled row certifies
        val dir = tempStore("graft_tok_store")
        IvfObjectStore.create(spark, idx, dir)
        val rd = IvfObjectStore.read(spark, dir)
        assert(rd.assigned.schema("tv").dataType
                 .isInstanceOf[ArrayType] &&
               rd.assigned.schema("tv").dataType.asInstanceOf[ArrayType]
                 .elementType == IntegerType,
          s"tv must round-trip as array<int>, got " +
          s"${rd.assigned.schema("tv").dataType}")
        assert(LateInteraction.maxSimTopKWith(rd, qt, k = 10, nprobe = 4)
                 .collect().map(key).toSet == inMem,
          "stored serve must equal the in-memory serve bit-for-bit")
        // ---- append lifecycle: build on a corpus slice, append the
        // rest's token vectors (array-typed metadata riding the batch),
        // serve ≡ the in-memory ivfAppend of the same base + batch
        val baseIdx = LateInteraction
          .tokenIndex(dt.filter(col("doc_id") % 3 =!= 2)).persist()
        try {
          val batch = LateInteraction
            .tokenVectors(dt.filter(col("doc_id") % 3 === 2))
          val dir2 = tempStore("graft_tok_append")
          IvfObjectStore.create(spark, baseIdx, dir2)
          IvfObjectStore.append(spark, dir2, batch,
                                idCol = "tok_id", vecCol = "v")
          val inMemApp = GraftSimilarity.ivfAppend(baseIdx, batch,
                                                   idCol = "tok_id",
                                                   vecCol = "v")
          val appExpect = LateInteraction
            .maxSimTopKWith(inMemApp, qt, k = 10, nprobe = 4)
            .collect().map(key).toSet
          assert(LateInteraction
                   .maxSimTopKWith(IvfObjectStore.read(spark, dir2),
                                   qt, k = 10, nprobe = 4)
                   .collect().map(key).toSet == appExpect,
            "append-then-read must serve exactly like the in-memory append")
          // ---- compaction: the appended cells rewrite WITH the array
          // column aboard
          assert(IvfObjectStore.compact(spark, dir2, maxFilesPerCell = 1) > 0,
            "the append must have left multi-file cells to compact")
          val compacted = IvfObjectStore.read(spark, dir2)
          assert(compacted.assigned.schema("tv").dataType
                   .asInstanceOf[ArrayType].elementType == IntegerType)
          assert(LateInteraction
                   .maxSimTopKWith(compacted, qt, k = 10, nprobe = 4)
                   .collect().map(key).toSet == appExpect,
            "compaction must not perturb the token-level serve")
        } finally { baseIdx.unpersist(); () }
      } finally { idx.unpersist(); () }
    } finally { dt.unpersist(); () }
  }

  test("maxSimServeStream: the online MaxSim answers each watermark-" +
       "closed query identically to the batch serve at the same nprobe, " +
       "across micro-batch boundaries; blank queries get no answer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    val idx = LateInteraction.tokenIndex(dt).persist()
    try {
      val qt = dt.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok"), col("tv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val batch = LateInteraction.maxSimTopKWith(idx, qt, k = 5, nprobe = 4)
        .collect().map(key).toSet
      assert(batch.nonEmpty)
      val rows = docs.filter(col("doc_id") < 10)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8), r.getString(1)))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, Timestamp, String)]
      // candCut COVERING (≥ the largest cell): the in-row per-cell cut
      // is a no-op and the stream must equal the batch serve exactly
      val q = graft.streaming.CorpusStreams
        .maxSimServeStream(idx, input.toDF().toDF("q_id", "ts", "text"),
                           k = 5, nprobe = 4, candCut = Int.MaxValue)
        .writeStream.format("memory").queryName("maxsim_serve")
        .outputMode("append").start()
      try {
        input.addData(h1); q.processAllAvailable()
        input.addData(h2 :+ ((888888L, ts(3), "   "))) // blank: dropped
        q.processAllAvailable()
        input.addData(Seq((999999L, ts(600), "advance the watermark")))
        q.processAllAvailable()
        val streamed = spark.table("maxsim_serve")
          .filter(col("q_id") < 888888L)
          .select("q_id", "doc_id", "rnk", "score")
          .collect().map(key).toSet
        assert(streamed == batch,
          s"stream-only=${streamed.diff(batch).take(3)} " +
          s"batch-only=${batch.diff(streamed).take(3)}")
        assert(spark.table("maxsim_serve")
                 .filter(col("q_id") === 888888L).count() == 0,
          "a blank query must be dropped, not answered or fatal")
      } finally q.stop()
    } finally { idx.unpersist(); dt.unpersist(); () }
  }

  test("maxSimServeStream: the default candCut bounds state by " +
       "construction — contract shape holds (≤ k rows per answered " +
       "query, ranks contiguous), a covering cut is required ≥ k, and " +
       "a dim mismatch with the index fails loudly at construction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    GraftSession.ensureExtensions(spark)
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dt = LateInteraction.hashTokenVectors(docs, dim = 8,
                                              maxTokens = 16).persist()
    val idx = LateInteraction.tokenIndex(dt).persist()
    try {
      // dim mismatch: fail at stream CONSTRUCTION, not with silently
      // null-degraded scores mid-stream (ADVICE r12)
      val dummy = MemoryStream[(Long, Timestamp, String)]
      intercept[IllegalArgumentException] {
        graft.streaming.CorpusStreams.maxSimServeStream(
          idx, dummy.toDF().toDF("q_id", "ts", "text"), k = 5, dim = 16)
      }
      intercept[IllegalArgumentException] {
        graft.streaming.CorpusStreams.maxSimServeStream(
          idx, dummy.toDF().toDF("q_id", "ts", "text"), k = 5, candCut = 4)
      }
      val rows = docs.filter(col("doc_id") < 10)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), ts(r.getLong(0).toInt % 8), r.getString(1)))
        .sortBy(_._1).toSeq
      val input = MemoryStream[(Long, Timestamp, String)]
      val q = graft.streaming.CorpusStreams
        .maxSimServeStream(idx, input.toDF().toDF("q_id", "ts", "text"),
                           k = 5, nprobe = 4) // default candCut = 64
        .writeStream.format("memory").queryName("maxsim_serve_cut")
        .outputMode("append").start()
      try {
        input.addData(rows); q.processAllAvailable()
        input.addData(Seq((999999L, ts(600), "advance the watermark")))
        q.processAllAvailable()
        val out = spark.table("maxsim_serve_cut")
          .filter(col("q_id") < 999999L).collect()
        val byQ = out.groupBy(_.getLong(0))
        assert(byQ.nonEmpty, "the cut serve must still answer queries")
        for ((qid, rs) <- byQ) {
          assert(rs.length <= 5, s"q=$qid got ${rs.length} rows")
          assert(rs.map(_.getLong(3)).sorted.toSeq ==
                   (1L to rs.length).toSeq,
            s"q=$qid ranks must be contiguous from 1")
          assert(!rs.map(_.getLong(2)).contains(qid), "self excluded")
        }
      } finally q.stop()
    } finally { idx.unpersist(); dt.unpersist(); () }
  }
}
