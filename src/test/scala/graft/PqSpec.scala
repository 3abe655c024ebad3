package graft

import org.apache.spark.GraftJobProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GraftPq, GraftSimilarity, IvfObjectStore}

class PqSpec extends GraftFunSuite with ManifestStoreFixture {
  import spark.implicits._

  private def jobs[T](body: => T): (T, Seq[String]) =
    GraftJobProbe.jobs(spark.sparkContext)(body)

  private def vectors() = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private def rows(cb: GraftPq.PqCodebook): Seq[(Int, Int, Seq[Double])] =
    cb.codebook.as[(Int, Int, Seq[Double])].collect().toSeq
      .sortBy(r => (r._1, r._2))

  /** The distributed Lloyd recipe the driver-side train replaced, kept as
    * the reference it must equal bit for bit: grid-quantized subspace
    * rows, the `ksub` smallest (md5(id), id) rows as seeds, then per
    * round a broadcast `graft_pq_nearest` argmin and an exact grid-sum
    * accumulator exchange, centroid `round(sum / count)`. */
  private def referenceTrain(collection: DataFrame, m: Int, ksub: Int,
                             iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val grid = GraftSimilarity.KmeansGrid
    val e = collection.select(col("vec_id").cast("long").as("n_id"), col("v"))
    val subs = e
      .select(col("n_id"), expr(s"transform(v, x -> round(x * $grid))").as("g"))
      .select(col("n_id"), posexplode(expr(
        s"""transform(sequence(0, ${m - 1}),
           |          s -> slice(g, s * (size(g) div $m) + 1, size(g) div $m))"""
          .stripMargin)))
      .select(col("n_id"), col("pos").as("sub_id"), col("col").as("sv"))
    val seeds = e.select(col("n_id"), md5(col("n_id").cast("string")).as("h"))
      .orderBy(col("h"), col("n_id")).limit(ksub)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("h"), col("n_id"))) - 1)
          .cast("int"))
      .select(col("n_id"), col("code"))
    var cb = subs.join(broadcast(seeds), "n_id")
      .select(col("sub_id"), col("code"), col("sv").as("cv"))
    for (_ <- 0 until iters) {
      val cbRow = broadcast(cb.groupBy("sub_id")
        .agg(sort_array(collect_list(struct(col("code"), col("cv")))).as("e"))
        .select(col("sub_id"), expr("transform(e, s -> s.code)").as("codes"),
                expr("flatten(transform(e, s -> s.cv))").as("flat")))
      cb = subs.join(cbRow, "sub_id")
        .select(col("sub_id"), col("sv"),
                expr("element_at(codes, graft_pq_nearest(sv, flat) + 1)")
                  .as("code"))
        .groupBy("sub_id", "code")
        .agg(expr("graft_vec_sum(sv)").as("s"), count(lit(1)).as("n"))
        .select(col("sub_id"), col("code"),
                expr("transform(s, x -> round(x / n))").as("cv"))
    }
    cb.as[(Int, Int, Seq[Double])].collect().toSeq.sortBy(r => (r._1, r._2))
  }

  // deterministic planted clusters: 5 tight clusters of 20 vectors in
  // 16 dims; within-cluster cosine ≈ 1, cross-cluster ≈ orthogonal
  private def planted = {
    val base = (0 until 5).map { c =>
      Array.tabulate(16)(i => if (i % 5 == c) 10.0 else 0.5)
    }
    (0 until 100).map { id =>
      val c = id % 5
      val wiggle = (id * 7) % 3 - 1.0
      (id.toLong,
       base(c).zipWithIndex.map { case (x, i) =>
         x + 0.01 * wiggle * ((i + id) % 3) }.toSeq)
    }.toDF("vec_id", "v")
  }

  test("trainPq: codebook is bit-deterministic across trainings, " +
       "bounded m·ksub rows, codes in range, centroids on the grid") {
    val cb1 = GraftPq.trainPq(planted, m = 4, ksub = 8, iters = 2)
    val cb2 = GraftPq.trainPq(planted, m = 4, ksub = 8, iters = 2)
    val r1 = cb1.codebook.orderBy("sub_id", "code")
      .as[(Int, Int, Seq[Double])].collect()
    val r2 = cb2.codebook.orderBy("sub_id", "code")
      .as[(Int, Int, Seq[Double])].collect()
    assert(r1.sameElements(r2), "two trainings must agree bit-for-bit")
    assert(r1.length <= 4 * 8 && r1.nonEmpty)
    assert(r1.forall { case (s, c, cv) =>
      s >= 0 && s < 4 && c >= 0 && c < 8 && cv.length == 4 &&
      cv.forall(x => x == math.rint(x))
    }, "codebook rows must be in-range with integer-grid centroids")
  }

  test("trainPq is one Spark job; collectCodebook, encodeFolded and a " +
       "second use of the codebook launch none") {
    val e = vectors()
    val (cb, train) = jobs(GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2))
    assert(train.size == 1, s"trainPq: one job, got $train")
    val (_, reuse) = jobs {
      GraftPq.collectCodebook(cb)
      GraftPq.encodeFolded(e, cb, "v")
      cb.codebook.collect()
    }
    assert(reuse.isEmpty, s"the trained codebook launched jobs: $reuse")
  }

  test("trainPq equals the distributed Lloyd recipe bit for bit: no " +
       "rounds, one, two, the production shape, and rounds that drop codes") {
    for (iters <- 0 to 2)
      assert(rows(GraftPq.trainPq(planted, m = 4, ksub = 8, iters = iters)) ==
               referenceTrain(planted, m = 4, ksub = 8, iters), s"iters $iters")
    assert(rows(GraftPq.trainPq(vectors(), m = 8, ksub = 16)) ==
             referenceTrain(vectors(), m = 8, ksub = 16, iters = 2))
    // 40 vectors over 3 distinct values: of the 8 seeds at most 3 keep
    // members (a tie goes to the smaller code), the rest drop out
    val dup = (0 until 40).map { id =>
      (id.toLong, Seq.tabulate(4)(i => ((id % 3) * 2 + i).toDouble))
    }.toDF("vec_id", "v")
    val ref = referenceTrain(dup, m = 2, ksub = 8, iters = 2)
    assert(ref.size <= 2 * 3, s"no code dropped: $ref")
    assert(rows(GraftPq.trainPq(dup, m = 2, ksub = 8, iters = 2)) == ref)
  }

  test("past TrainRowsPerCode·ksub vectors the train sees exactly the " +
       "smallest-(md5(id), id) rows") {
    val ksub = 2
    val cap = GraftPq.TrainRowsPerCode * ksub
    val big = (0 until cap + 288).map { id =>
      (id.toLong, Seq.tabulate(8)(i => math.sin(id * 0.37 + i) * 2.0))
    }.toDF("vec_id", "v")
    val capped = big
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(cap)
    val trained = rows(GraftPq.trainPq(big, m = 4, ksub = ksub, iters = 2))
    assert(trained == rows(GraftPq.trainPq(capped, m = 4, ksub = ksub,
                                           iters = 2)))
    assert(trained == referenceTrain(capped, m = 4, ksub = ksub, iters = 2))
  }

  test("pqEncode: m codes per vector, every code exists in the codebook") {
    val cb = GraftPq.trainPq(planted, m = 4, ksub = 8, iters = 2)
    val enc = GraftPq.pqEncode(planted, cb)
    assert(enc.count() === 100)
    val inCb = cb.codebook.select("sub_id", "code")
      .as[(Int, Int)].collect().toSet
    enc.select("codes").as[Seq[Int]].collect().foreach { codes =>
      assert(codes.length === 4)
      codes.zipWithIndex.foreach { case (c, s) =>
        assert(inCb((s, c)), s"code $c at sub $s not in codebook")
      }
    }
  }

  test("graft_pq_adc: packed bytes score identically to the int array, " +
       "and a foreign code fails loudly") {
    val df = Seq((Seq(0, 2, 1), Seq.tabulate(9)(i => i * 10.0))).toDF("c", "lut")
    val r = df.select(
      expr("graft_pq_adc(c, lut)").as("a"),
      expr("graft_pq_adc(graft_pq_pack(c), lut)").as("b")).head
    // 0 -> lut[0]=0, 2 -> lut[3+2]=50, 1 -> lut[6+1]=70 → 120
    assert(r.getDouble(0) === 120.0 && r.getDouble(1) === 120.0)
    val bad = Seq((Seq(0, 3, 1), Seq.tabulate(9)(i => i * 10.0))).toDF("c", "lut")
    val ex = intercept[Exception] {
      bad.select(expr("graft_pq_adc(c, lut)")).collect()
    }
    assert(ex.getMessage.contains("different trainings") ||
           Option(ex.getCause).exists(_.getMessage.contains("different trainings")))
    val packBad = Seq(Tuple1(Seq(256))).toDF("c")
    val ex2 = intercept[Exception] {
      packBad.select(expr("graft_pq_pack(c)")).collect()
    }
    assert(ex2.getMessage.contains("unsigned-byte") ||
           Option(ex2.getCause).exists(_.getMessage.contains("unsigned-byte")))
  }

  test("pqTopK on planted clusters: every neighbor comes from the " +
       "query's own cluster and the output shape matches the ANN tier") {
    val q = planted.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val res = GraftPq.pqTopK(planted, q, k = 5, m = 4, ksub = 8,
                             iters = 2, rerankFactor = 4)
    assert(res.columns.toSeq === Seq("q_id", "n_id", "rnk", "cos"))
    val rows = res.as[(Long, Long, Long, Double)].collect()
    assert(rows.length === 25, "5 queries × k=5")
    rows.foreach { case (qid, nid, _, cos) =>
      assert(nid % 5 === qid % 5,
        s"neighbor $nid of query $qid crosses clusters")
      assert(cos > 0.99, s"within-cluster cosine must be ~1, got $cos")
    }
  }

  test("pq serve ≡ brute force when the codebook is lossless " +
       "(ksub ≥ distinct subvectors): exact tier recovered") {
    // 8 distinct vectors, ksub=16 ≥ 8 → every subvector is its own
    // centroid after Lloyd; ADC is then the exact dot on the grid and
    // the rerank makes the equality exact
    val tiny = (0 until 8).map { id =>
      (id.toLong, Seq.tabulate(8)(i => math.sin(id * 8 + i) * 3.0))
    }.toDF("vec_id", "v")
    val q = tiny.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pq = GraftPq.pqTopK(tiny, q, k = 3, m = 2, ksub = 16, iters = 2,
                            rerankFactor = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    val bf = GraftSimilarity.bruteForceTopK(tiny, q, k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    assert(pq.sameElements(bf),
      s"lossless PQ must equal brute force:\n${pq.mkString("\n")}\nvs\n${bf.mkString("\n")}")
  }

  test("pqEncodeStream: stateless, code words identical to batch " +
       "pqEncode, packed form carried") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batch = planted
    val cb = graft.operators.GraftPq.trainPq(batch, m = 4, ksub = 8,
                                             iters = 2)
    val expected = graft.operators.GraftPq.pqEncode(batch, cb)
      .as[(Long, Seq[Int])].collect().toMap
    val data = (0 until 100).map { id =>
      val c = id % 5
      val base = Array.tabulate(16)(i => if (i % 5 == c) 10.0 else 0.5)
      val wiggle = (id * 7) % 3 - 1.0
      (id.toLong,
       base.zipWithIndex.map { case (x, i) =>
         x + 0.01 * wiggle * ((i + id) % 3) }.toSeq)
    }
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.CorpusStreams.pqEncodeStream(
        in.toDF().toDF("vec_id", "embedding"), cb)
      .select("vec_id", "codes", "cw")
      .writeStream.format("memory").queryName("pq_enc_stream")
      .outputMode("append").start()
    try {
      in.addData(data.take(60)); q.processAllAvailable()
      in.addData(data.drop(60)); q.processAllAvailable()
      val rows = spark.table("pq_enc_stream")
        .select("vec_id", "codes", "cw")
        .as[(Long, Seq[Int], Array[Byte])].collect()
      assert(rows.length === 100)
      rows.foreach { case (id, codes, cw) =>
        assert(codes === expected(id), s"stream codes differ for $id")
        assert(cw.toSeq === codes.map(_.toByte).toSeq,
          "packed word must be the byte form of the codes")
      }
      val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(so.forall(_.numRowsTotal == 0),
        "pqEncodeStream must keep zero state")
    } finally q.stop()
  }

  test("pqServeStream: watermark-closed queries answered identically to " +
       "the batch pqTopKWith serve across micro-batch boundaries " +
       "(chained quantized-cut + exact-rerank stateful aggregations)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def tsAt(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusMinutes(m.toLong))
    val e = planted
    val cb = GraftPq.trainPq(e, m = 4, ksub = 8, iters = 2)
    val enc = GraftPq.pqEncode(e, cb).persist()
    try {
      val qBatch = e.filter(col("vec_id") % 20 === 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val batch = GraftPq.pqTopKWith(cb, enc, e, qBatch, k = 5,
                                     rerankFactor = 4)
        .collect().map(key).toSet
      assert(batch.nonEmpty)
      val rows = qBatch.collect()
        .map(r => (r.getLong(0), tsAt(r.getLong(0).toInt % 8),
                   r.getSeq[Double](1).toList))
        .sortBy(_._1).toSeq
      val (h1, h2) = rows.splitAt(rows.size / 2)
      val input = MemoryStream[(Long, java.sql.Timestamp, List[Double])]
      val q = graft.streaming.CorpusStreams
        .pqServeStream(cb, enc, e, input.toDF().toDF("q_id", "ts", "qv"),
                       k = 5, rerankFactor = 4)
        .writeStream.format("memory").queryName("pq_serve")
        .outputMode("append").start()
      try {
        input.addData(h1); q.processAllAvailable()
        // malformed rows mid-stream: zero-norm and wrong-dim queries are
        // dropped pre-LUT, never answered, never fail the stream
        input.addData(Seq(
          (888881L, tsAt(3), List.fill(16)(0.0)),
          (888882L, tsAt(3), List(1.0, 2.0))))
        q.processAllAvailable()
        input.addData(h2); q.processAllAvailable()
        input.addData(Seq((999999L, tsAt(600), rows.head._3)))
        q.processAllAvailable()
        val streamed = spark.table("pq_serve")
          .filter(col("q_id") =!= 999999L)
          .select("q_id", "n_id", "rnk", "cos")
          .collect().map(key).toSet
        assert(!streamed.exists(r => r._1 == 888881L || r._1 == 888882L),
          "malformed queries must get no answer")
        assert(streamed == batch,
          s"stream-only=${streamed.diff(batch)} " +
          s"batch-only=${batch.diff(streamed)}")
      } finally q.stop()
    } finally { enc.unpersist(); () }
  }

  test("ivfPqTopK at covering nprobe equals the flat pqTopK serve") {
    val q = planted.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // 100 vectors → ≈√100 = 10 cells; nprobe 64 covers every cell
    val ivf = graft.operators.GraftPq.ivfPqTopK(planted, q, k = 5,
        nprobe = 64, m = 4, ksub = 8, iters = 2, rerankFactor = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    val flat = graft.operators.GraftPq.pqTopK(planted, q, k = 5,
        m = 4, ksub = 8, iters = 2, rerankFactor = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    assert(ivf.sameElements(flat),
      s"covering probe must equal flat serve:\n${ivf.mkString("\n")}\nvs\n${flat.mkString("\n")}")
  }

  /** The PQ serve off the store at `dir` (k = 5, nprobe = 4, rf = 4). */
  private def storedServe(dir: String, q: DataFrame): DataFrame =
    GraftPq.ivfPqTopKWithCw(IvfObjectStore.read(spark, dir),
                            GraftPq.readPqCodebook(spark, dir), q, k = 5,
                            nprobe = 4, rerankFactor = 4)

  test("at-rest PQ store: cw in n_id-sorted cell files the ADC scan can " +
       "column-prune to, stored serve equals the in-memory IVF×PQ " +
       "composition, survivor fetch pushes the literal n_id set") {
    val e = planted
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val index = GraftSimilarity.buildIvfIndex(e)
    val cb = GraftPq.trainPq(e, m = 4, ksub = 8, iters = 2)
    val dir = tempStore("graft_pq_store")
    IvfObjectStore.create(spark, index, dir, pq = Some(cb))
    // layout: every cell file carries cw and stays n_id-sorted (the
    // rerank fetch's row-group pruning keys on the sort)
    val cellFiles = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("c_id="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(cellFiles.nonEmpty)
    for (f <- cellFiles.take(3)) {
      val part = spark.read.parquet(f.getPath)
      assert(part.columns.contains("cw"), s"no cw column in ${f.getName}")
      val ids = part.select("n_id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"cell file ${f.getName} not n_id-sorted")
    }
    // the stage-1 scan shape: selecting only the code bytes prunes the
    // doubles (and q8) out of the parquet read entirely
    val rs = spark.read.parquet(s"$dir/data").select("n_id", "cw")
      .queryExecution.executedPlan.toString
    assert(rs.contains("cw:binary") && !rs.contains("v:array"),
      s"ADC scan must column-prune to the code bytes; ReadSchema:\n" +
      rs.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
    val served = storedServe(dir, q)
    val enc = GraftPq.pqEncode(
      index.assigned.select(col("n_id").as("vec_id"), col("v"),
                            col("c_id")),
      cb, "vec_id", "v", carryCols = Seq("c_id"))
    val inMem = GraftPq.ivfPqTopKWith(index, cb, enc, e, q, k = 5,
                                      nprobe = 4, rerankFactor = 4)
    assert(served.collect().toSet == inMem.collect().toSet,
      "stored serve must equal the in-memory composition bit-for-bit")
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(n_id"),
      "survivor fetch must push the literal n_id set to parquet; " +
      plan.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n"))
    // the survivor pairs and the query vectors attach as literal maps:
    // the rerank is a projection over the fetch, with no join
    assert(!plan.contains("Join"), s"rerank plan holds a join:\n$plan")
  }

  test("IvfObjectStore.append on a PQ store: batches encode inline " +
       "against the stored " +
       "codebook (never retrain) and the appended store serves exactly " +
       "the in-memory append composition") {
    val e = planted
    val seed = e.filter(col("vec_id") < 60)
    val rest = e.filter(col("vec_id") >= 60)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val seedIdx = GraftSimilarity.buildIvfIndex(seed)
    val cb = GraftPq.trainPq(seed, m = 4, ksub = 8, iters = 2)
    val dir = tempStore("graft_pq_append")
    IvfObjectStore.create(spark, seedIdx, dir, pq = Some(cb))
    IvfObjectStore.append(spark, dir, rest)
    val served = storedServe(dir, q).collect().toSet
    val fullIdx = GraftSimilarity.ivfAppend(seedIdx, rest)
    val enc = GraftPq.pqEncode(
      fullIdx.assigned.select(col("n_id").as("vec_id"), col("v"),
                              col("c_id")),
      cb, "vec_id", "v", carryCols = Seq("c_id"))
    val expected = GraftPq.ivfPqTopKWith(fullIdx, cb, enc, e, q, k = 5,
                                         nprobe = 4, rerankFactor = 4)
      .collect().toSet
    assert(served == expected,
      "appended store must serve the in-memory append composition")
  }

  test("pre-PQ store: refused without cw; compaction with the codebook " +
       "present migrates in place and the migrated store serves") {
    // uniform cluster members (no wiggle): every cluster collapses into
    // ONE cell deterministically, so the even/odd split below gives every
    // non-empty cell exactly two files — compact(maxFilesPerCell=1)
    // rewrites ALL of them and the migration is total, not partial
    val base = (0 until 5).map { c =>
      Array.tabulate(16)(i => if (i % 5 == c) 10.0 else 0.5).toSeq
    }
    val e = (0 until 100).map(id => (id.toLong, base(id % 5)))
      .toDF("vec_id", "v")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val index = GraftSimilarity.buildIvfIndex(e)
    val evens = index.assigned.filter(col("n_id") % 2 === 0)
    val cb = GraftPq.trainPq(e, m = 4, ksub = 8, iters = 2)
    val dir = tempStore("graft_pq_migrate")
    IvfObjectStore.create(spark, index.copy(assigned = evens), dir)
    IvfObjectStore.append(spark, dir, e.filter(col("vec_id") % 2 === 1))
    // no codebook at all: refused as "not a PQ store"
    val ex0 = intercept[IllegalArgumentException] {
      storedServe(dir, q)
    }
    assert(ex0.getMessage.contains("no codebook"))
    GraftPq.writePqCodebook(cb, dir)
    // codebook present but cell files still pre-PQ: refused on the
    // missing cw column (the migration pointer)
    val ex = intercept[IllegalArgumentException] {
      storedServe(dir, q)
    }
    assert(ex.getMessage.contains("no cw column"))
    val rewritten = IvfObjectStore.compact(spark, dir, maxFilesPerCell = 1)
    assert(rewritten >= 1, "compaction must rewrite the two-file cells")
    val served = storedServe(dir, q).collect().toSet
    val enc = GraftPq.pqEncode(
      index.assigned.select(col("n_id").as("vec_id"), col("v"),
                            col("c_id")),
      cb, "vec_id", "v", carryCols = Seq("c_id"))
    val expected = GraftPq.ivfPqTopKWith(index, cb, enc, e, q, k = 5,
                                         nprobe = 4, rerankFactor = 4)
      .collect().toSet
    assert(served == expected,
      "migrated store must serve the in-memory composition")
  }

  test("pqBudgetSweep: recall non-decreasing in budget, each swept row " +
       "equals the serving path at that budget, a covering budget reaches " +
       "1.0; pqAutoBudget picks the smallest budget meeting the target") {
    val e = planted
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val n = e.count().toInt
    val rfs = Seq(1, 4, n) // n covers every candidate at k = 5
    val sweep = GraftPq.pqBudgetSweep(e, q, k = 5, rerankFactors = rfs,
                                      m = 4, ksub = 8, iters = 2)
      .orderBy("rerank_factor").collect()
    assert(sweep.length == 3)
    assert(sweep.map(_.getLong(0)).toSeq == rfs.map(_.toLong))
    val recalls = sweep.map(_.getDouble(3))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be non-decreasing in budget: ${recalls.toSeq}")
    assert(recalls.last == 1.0,
      "a covering budget leaves the exact rerank nothing to miss")
    // serving-path consistency: the rf = 4 row counts exactly the hits
    // the DEPLOYED serve (pqTopK at rf = 4) makes against the truth
    val truth = GraftSimilarity.bruteForceTopK(e, q, k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = GraftPq.pqTopK(e, q, k = 5, m = 4, ksub = 8, iters = 2,
                                rerankFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val row4 = sweep.find(_.getLong(0) == 4L).get
    assert(row4.getLong(1) == served.intersect(truth).size.toLong &&
           row4.getLong(2) == truth.size.toLong,
      "the sweep row must count the serving path's own hits")
    // auto budget: smallest swept budget meeting the target, met flag
    val target = row4.getDouble(3)
    val expectRf = sweep.find(_.getDouble(3) >= target).get.getLong(0).toInt
    val pick = GraftPq.pqAutoBudget(e, q, k = 5, targetRecall = target,
                                    candidates = rfs, m = 4, ksub = 8)
    assert(pick.met && pick.rerankFactor == expectRf &&
           pick.recall >= target)
    if (recalls.head < 1.0) {
      val miss = GraftPq.pqAutoBudget(e, q, k = 5, targetRecall = 1.0,
                                      candidates = Seq(1), m = 4, ksub = 8)
      assert(!miss.met && miss.rerankFactor == 1,
        "an unmet target must come back flagged with the largest budget")
    }
  }

  test("ragged dimension fails loudly: dim not divisible by m") {
    val ragged = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "v")
    val ex = intercept[Exception] {
      GraftPq.trainPq(ragged, m = 2, ksub = 2, iters = 1)
        .codebook.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("not divisible")),
      s"unexpected error: $ex")
  }
}
