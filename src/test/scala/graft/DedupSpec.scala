package graft

import org.apache.spark.sql.functions._

/** End-to-end checks of the dedup operator family against brute-force
  * ground truth computed in-Spark at sf0.001 (500 docs) — the cross-engine
  * value check is the driver's DuckDB oracle; these specs pin the
  * algorithmic properties (LSH recall, SimHash candidate quality).
  */
class DedupSpec extends GraftFunSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** Brute-force word-3-shingle Jaccard pairs ≥ threshold (cross join). */
  private def bruteForcePairs(threshold: Double) = {
    val sh = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
              expr("""array_distinct(transform(sequence(0, size(tk) - 3),
                     i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))""")
                .as("s"))
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.s"), col("b.s"))))
      .withColumn("j", col("inter") /
        (size(col("a.s")) + size(col("b.s")) - col("inter")))
      .filter(col("j") >= threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
  }

  test("minhash LSH finds exactly the brute-force near-dup pairs (J >= 0.8)") {
    val expected = bruteForcePairs(0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = q("dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "testdata should contain planted near-dups")
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("simhash candidates cover the high-similarity pairs") {
    val golden = bruteForcePairs(0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val simhash = q("dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(golden.nonEmpty)
    val recall = (golden & simhash).size.toDouble / golden.size
    assert(recall >= 0.8, s"simhash recall=$recall golden=${golden.size}")
  }

  test("exact dedup groups every document") {
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val d = q("dedup_exact")
    assert(d.agg(sum("n_copies")).head().getLong(0) == n)
  }

  test("embedding cosine pairs match brute-force HOF computation") {
    // the catalog query's own augmentation (near-dup twins via doubled
    // second half), brute-forced independently with HOF cosine at 0.9
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // offset derived from max(vec_id) + 1, matching the catalog's
    // collision-proof in-plan construction (collect is fine in a test)
    val off = base.agg(max("vec_id")).head().getLong(0) + 1
    val aug = base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + off).as("vec_id"),
                concat(slice(col("embedding"), 1, 32),
                       transform(slice(col("embedding"), 33, 32),
                                 x => x * lit(2))).as("embedding")))
    val e = aug.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val expected = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
              expr("""aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D,
                      (acc, x) -> acc + x)
                      / (sqrt(aggregate(a.v, 0D, (acc, x) -> acc + x * x))
                       * sqrt(aggregate(b.v, 0D, (acc, x) -> acc + x * x)))""").as("c"))
      .filter(col("c") >= 0.9)
      .select(col("a_id"), col("b_id"), round(col("c"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = q("dedup_embedding_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("theta-sketch source overlap: estimate within the k=4096 error " +
       "bound of the exact pairwise overlap at two scale factors") {
    GraftSession.ensureExtensions(spark)
    for (dir <- Seq(sf001, "/root/testdata/sf0.1")) {
      // exact per-source distinct shingle counts and pairwise overlaps:
      // shingle -> set of sources containing it -> explode source pairs,
      // so the exact job is one aggregation + a bounded per-shingle
      // pair expansion (<= |sources|^2/2), never a shingle self-join
      val shingles = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), expr("split(trim(text), '\\\\s+')").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(tk) - 3),
             i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))""")).as("sh"))
        .distinct()
        .persist()
      val exactSizes = shingles.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactShared = shingles
        .groupBy("sh").agg(sort_array(collect_set(col("source"))).as("ss"))
        .select(explode(expr(
          """flatten(transform(ss, (a, i) ->
               transform(slice(ss, i + 2, size(ss)),
                         b -> struct(a AS a_src, b AS b_src))))""")).as("p"))
        .groupBy(col("p.a_src").as("a_src"), col("p.b_src").as("b_src"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      shingles.unpersist()
      val est = SparkEntry.queries("dedup_source_overlap")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1),
                   r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      assert(est.length == exactSizes.size * (exactSizes.size - 1) / 2)
      for ((aSrc, bSrc, aEst, bEst, sharedEst) <- est) {
        val ea = exactSizes(aSrc).toDouble
        val eb = exactSizes(bSrc).toDouble
        val eShared = exactShared.getOrElse((aSrc, bSrc), 0L).toDouble
        val union = ea + eb - eShared
        // single-set theta estimate: rel. std ≈ 1/sqrt(k-1) ≈ 1.6% at
        // k = 4096 — 5% is a > 3 sigma contract
        assert(math.abs(aEst - ea) / ea <= 0.05, s"$dir $aSrc: $aEst vs $ea")
        assert(math.abs(bEst - eb) / eb <= 0.05, s"$dir $bSrc: $bEst vs $eb")
        // intersection error scales with the UNION the sketches cover:
        // |est - exact| <= 3.3 * union / sqrt(k) ≈ 5.2% of union, + margin
        assert(math.abs(sharedEst - eShared) <= 0.06 * union,
          s"$dir ($aSrc,$bSrc): est=$sharedEst exact=$eShared union=$union")
      }
    }
  }

  test("semantic dedup scale path: SRP-mined clusters pair every twin " +
       "with its base vector and keep exactly the base corpus") {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val nBase = base.count()
    val nTwins = base.filter(col("vec_id") % 10 === 0).count()
    val off = base.agg(max("vec_id")).head().getLong(0) + 1
    val got = q("dedup_semantic_scale").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == nBase + nTwins, s"${got.length}")
    assert(nTwins > 0)
    got.foreach { case (id, cluster, kept) =>
      if (id >= off) {
        // planted twin: clustered under its base vector, dropped
        assert(cluster == id - off && !kept, s"twin $id -> ($cluster, $kept)")
      } else {
        // base vector: own cluster (min id), kept — background pairs all
        // sit at cos <= 0.52, far below the 0.9 mining threshold
        assert(cluster == id && kept, s"base $id -> ($cluster, $kept)")
      }
    }
  }

  /** Brute-force cosine-≥-τ pair set over the twin-augmented corpus (HOF
    * cosine, cross join — test-only ground truth for the cell-blocked
    * tier). */
  private def bruteCosinePairs(threshold: Double) = {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val off = base.agg(max("vec_id")).head().getLong(0) + 1
    val aug = base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + off).as("vec_id"),
                concat(slice(col("embedding"), 1, 32),
                       transform(slice(col("embedding"), 33, 32),
                                 x => x * lit(2))).as("embedding")))
    val e = aug.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
              expr("""aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D,
                      (acc, x) -> acc + x)
                      / (sqrt(aggregate(a.v, 0D, (acc, x) -> acc + x * x))
                       * sqrt(aggregate(b.v, 0D, (acc, x) -> acc + x * x)))""")
                .as("c"))
      .filter(col("c") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("c"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("cell-blocked pairs: subset of brute force with exact scores, " +
       "planted-twin recall, no duplicate pairs") {
    val brute = bruteCosinePairs(0.9)
    val rows = q("dedup_semantic_cells").collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exact verify ⇒ every emitted pair is a true pair with the true score
    assert(got.subsetOf(brute),
      s"false positives: ${got -- brute}")
    // cross-cell misses are bounded: the blocking must still catch most
    // planted twins at nprobe=2 (0.92 measured; structural, so stable)
    assert(brute.nonEmpty)
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall (${got.size}/${brute.size})")
    // the max-aggregation really deduplicates shared-cell co-occurrence
    val ids = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.distinct.length == ids.length)
  }

  test("cell-blocked pairs: candidate set grows monotonically with nprobe " +
       "and is deterministic across runs") {
    import graft.operators.GraftSimilarity
    val aug = graft.queries.DedupQueries.twinAugmented(
      spark.read.parquet(s"$sf0001/embeddings.parquet"))
    def pairs(np: Int) =
      GraftSimilarity.cellBlockedPairs(aug, threshold = 0.9, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(1); val p2 = pairs(2); val p3 = pairs(3)
    // top-k cell sets are prefixes of each other ⇒ pair sets nest
    assert(p1.subsetOf(p2), s"${p1 -- p2}")
    assert(p2.subsetOf(p3), s"${p2 -- p3}")
    assert(pairs(2) == p2) // deterministic replay
  }

  test("cell-blocked pairs completeness law: nprobe covering every cell " +
       "degenerates to the exact brute-force pair set") {
    import graft.operators.GraftSimilarity
    val aug = graft.queries.DedupQueries.twinAugmented(
      spark.read.parquet(s"$sf0001/embeddings.parquet"))
    // with every vector assigned to EVERY cell (nprobe >= centroid
    // count), blocking can hide nothing: the tier must equal exact
    // all-pairs mining — the same shape of law the coarse probe pins
    // (covering sProbe == flat serve)
    val nCents = GraftSimilarity.buildIvfIndex(
      aug.select(col("vec_id").as("n_id"),
                 expr("transform(embedding, x -> cast(x AS double))")
                   .as("qv")),
      idCol = "n_id", vecCol = "qv").centroids.count().toInt
    val all = GraftSimilarity
      .cellBlockedPairs(aug, threshold = 0.9, nprobe = nCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = bruteCosinePairs(0.9)
    assert(all == brute, s"missing=${brute -- all} extra=${all -- brute}")
  }

  test("cell-blocked pairs: argument validation") {
    import graft.operators.GraftSimilarity
    val aug = graft.queries.DedupQueries.twinAugmented(
      spark.read.parquet(s"$sf0001/embeddings.parquet"))
    intercept[IllegalArgumentException] {
      GraftSimilarity.cellBlockedPairs(aug, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      GraftSimilarity.cellBlockedPairs(aug, threshold = 1.5)
    }
    intercept[IllegalArgumentException] {
      GraftSimilarity.cellBlockedPairs(aug, threshold = 0.9, nprobe = 0)
    }
  }

  test("winnowPairs: a planted shared passage pairs its documents; the " +
       "doc-frequency cap keeps corpus-wide boilerplate out of the join") {
    import spark.implicits._
    import graft.operators.GraftDedup
    val rnd = new scala.util.Random(7)
    def words(n: Int, pfx: String) =
      (0 until n).map(_ => pfx + rnd.nextInt(100000)).mkString(" ")
    val passage = words(30, "shared_")
    val boiler = words(30, "footer_") // appears in EVERY doc
    val docs = ((0 until 40).map { i =>
      (i.toLong, words(40, s"u${i}_") + " " + boiler)
    } ++ Seq(
      (100L, words(25, "x_") + " " + passage + " " + boiler),
      (101L, words(25, "y_") + " " + passage + " " + boiler)))
      .toDF("doc_id", "text")
    val pairs = GraftDedup.winnowPairs(docs, minShared = 5, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((100L, 101L)),
      s"only the planted passage pair must survive the df cap " +
      s"(the 42-doc boilerplate fingerprints are dropped): " +
      pairs.mkString(", "))
    assert(pairs.head._3 >= 5)
    // without the cap, the 42-doc boilerplate would pair everything:
    // the cap is what keeps the join linear in true overlap
    val uncapped = GraftDedup.winnowPairs(docs, minShared = 5,
                                          maxDocFreq = 1000)
      .filter(col("a_id") < 100).count()
    assert(uncapped > 100, s"boilerplate must explode uncapped: $uncapped")
  }

  test("keepSet: min-id member of each transitive cluster survives, " +
       "singletons keep, and every corpus id appears exactly once") {
    import spark.implicits._
    import graft.operators.GraftDedup
    val ids = (1L to 10L).toDF("doc_id")
    // clusters {1,2,3} (chain: 1-2, 2-3) and {7,9}; 4,5,6,8,10 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val out = GraftDedup.keepSet(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == (1L to 10L),
      "output must cover the full corpus exactly once")
    val cluster = out.map(t => t._1 -> t._2).toMap
    assert(cluster(1L) == 1L && cluster(2L) == 1L && cluster(3L) == 1L,
      "chained near-dups share the min id as cluster label")
    assert(cluster(7L) == 7L && cluster(9L) == 7L)
    assert(Seq(4L, 5L, 6L, 8L, 10L).forall(i => cluster(i) == i),
      "singletons are their own cluster")
    val keeps = out.filter(_._3).map(_._1).toSet
    assert(keeps == Set(1L, 4L, 5L, 6L, 7L, 8L, 10L),
      s"exactly the cluster minima survive: $keeps")
    // the deduplicated corpus = filter(keep): every cluster keeps one
    assert(out.count(_._3) == 7)
  }

  test("clusterSafeSplit: a near-dup cluster can never straddle the " +
       "train/test boundary; split covers the corpus and is deterministic") {
    import spark.implicits._
    import graft.operators.GraftDedup
    val ids = (1L to 200L).toDF("doc_id")
    // chains of 4: {1..4}, {5..8}, ... — 50 clusters of size 4
    val pairs = (1L to 197L by 4).flatMap(s =>
      Seq((s, s + 1), (s + 1, s + 2), (s + 2, s + 3))).toDF("a_id", "b_id")
    val out = GraftDedup.clusterSafeSplit(ids, pairs, trainFraction = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 200 && out.map(_._1).distinct.length == 200)
    // every cluster is entirely on one side — the leak is structural,
    // not probabilistic
    out.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cl straddles the split: $members")
    }
    val trainFrac = out.count(_._3 == "train") / 200.0
    assert(trainFrac > 0.5 && trainFrac < 0.95,
      s"hash routing should land near 0.8, got $trainFrac")
    val again = GraftDedup.clusterSafeSplit(ids, pairs, trainFraction = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    intercept[IllegalArgumentException] {
      GraftDedup.clusterSafeSplit(ids, pairs, trainFraction = 1.0)
    }
  }

  test("editDistancePairs: exactly the brute-force Levenshtein pair set " +
       "(prefix filter lossless, short pool covers the sub-lemma strings, " +
       "distances exact, a_id < b_id)") {
    import spark.implicits._
    import graft.operators.GraftDedup
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
                           prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    // corpus mixing: long near-dups at various distances, exact dups,
    // SHORT strings (below q·(d+1) = 9 chars at q=3, d=2 — the pool the
    // prefix lemma cannot cover), the empty string, and far strings
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cog"),     // d=1
      (3L, "the quick brown fox jumped over the lazy dogs"),   // small d
      (4L, "a completely different sentence with other words"),
      (5L, "the quick brown fox jumps over the lazy dog"),     // d=0 dup
      (6L, "cat"), (7L, "cap"), (8L, "cart"),                  // shorts
      (9L, ""), (10L, "ab"),                                   // tiny
      (11L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    ).toDF("doc_id", "text")
    for (d <- Seq(1, 2, 3)) {
      val got = GraftDedup.editDistancePairs(docs, maxDist = d, q = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val txt = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = (for {
        a <- txt.keys; b <- txt.keys if a < b
        dist = lev(txt(a), txt(b)) if dist <= d
      } yield (a, b, dist.toLong)).toSet
      assert(got == want,
        s"maxDist=$d: got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
      assert(got.forall(p => p._1 < p._2))
    }
    intercept[IllegalArgumentException] {
      GraftDedup.editDistancePairs(docs, maxDist = 0)
    }
    intercept[IllegalArgumentException] {
      GraftDedup.editDistancePairs(docs, maxDist = 2, q = 1)
    }
  }

  test("keepSetIncremental equals from-scratch keepSet over the union: " +
       "joins, BRIDGES between two old clusters, late-discovered old-old " +
       "links, new-new pairs, new singletons, and untouched clusters all " +
       "land bit-identically") {
    import spark.implicits._
    import graft.operators.GraftDedup
    // old corpus: clusters {1,2}, {5,6}, {10,11}; singletons 20, 21
    val oldIds = Seq(1L, 2L, 5L, 6L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val oldPairs = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("a_id", "b_id")
    val prev = GraftDedup.keepSet(oldIds, oldPairs)
    // increment: 30 joins {1,2}; 40 BRIDGES {5,6} and {10,11}; 0 joins
    // the bridged cluster and is the new global min; (60, 61) is a
    // new-new pair; 50 arrives pairless; (20, 2) is a late-discovered
    // old-old link folding singleton 20 into {1,2}; 21 stays untouched
    val newIds = Seq(30L, 40L, 50L, 60L, 61L, 0L).toDF("doc_id")
    val newPairs = Seq((2L, 30L), (6L, 40L), (10L, 40L), (0L, 11L),
                       (60L, 61L), (20L, 2L)).toDF("a_id", "b_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val incremental = rows(
      GraftDedup.keepSetIncremental(prev, newIds, newPairs))
    val scratch = rows(GraftDedup.keepSet(
      oldIds.unionByName(newIds),
      oldPairs.unionByName(newPairs)))
    assert(incremental == scratch,
      s"inc-only=${incremental.diff(scratch)} " +
      s"scratch-only=${scratch.diff(incremental)}")
    // the bridged cluster's min is the NEW id 0 (label-min propagation
    // through the contraction), old 21 is untouched, 50 keeps alone
    val byId = incremental.map(t => t._1 -> t).toMap
    assert(byId(0L) == ((0L, 0L, true)))
    assert(byId(5L) == ((5L, 0L, false)) && byId(40L) == ((40L, 0L, false)))
    assert(byId(20L) == ((20L, 1L, false)))
    assert(byId(21L) == ((21L, 21L, true)))
    assert(byId(50L) == ((50L, 50L, true)))
    assert(byId(60L) == ((60L, 60L, true)) && byId(61L) == ((61L, 60L, false)))
    // empty increment: the stored table passes through byte-identical
    val noop = rows(GraftDedup.keepSetIncremental(
      prev, newIds.limit(0), newPairs.limit(0)))
    assert(noop == rows(prev))
  }

  test("keepSetIncremental past the broadcast gate: the corpus-sized stored " +
       "table never crosses a shuffle — endpoint lookups probe the " +
       "semi-pruned sliver (execution metrics, not plan strings)") {
    import spark.implicits._
    import graft.operators.GraftDedup
    // corpus-sized prev (50k singletons, ~MBs of stats estimate) with a
    // 10-pair increment; gate forced to 4 KB so ANY corpus-sized gated()
    // side goes SHUFFLE_HASH — before the semi-prune fix the two endpoint
    // lookups each shuffled all 50k stored rows per increment
    val n = 50000L
    val prev = spark.range(n).select(col("id").as("doc_id"),
        col("id").as("cluster_id"), lit(true).as("keep"))
    val newIds = Seq(100000L, 100001L).toDF("doc_id")
    val newPairs = (0 until 10).map(i => (i.toLong * 7, i.toLong * 7 + 3))
      .toDF("a_id", "b_id")
      .unionByName(Seq((100000L, 5L), (100000L, 100001L)).toDF("a_id", "b_id"))
    val conf = spark.conf
    val prevGate = conf.getOption("spark.graft.broadcastGateBytes")
    try {
      conf.set("spark.graft.broadcastGateBytes", (4L << 10).toString)
      val out = GraftDedup.keepSetIncremental(prev, newIds, newPairs)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // exactness on the handful of touched rows; everything else self
      assert(got(3L) == 0L && got(10L) == 7L && got(5L) == 5L)
      assert(got(100000L) == 5L && got(100001L) == 5L)
      assert(got.size == n.toInt + 2 &&
             got.count { case (id, c) => id != c } == 12)
      // execution-metric pin: total records crossing ANY exchange is
      // sliver-sized (endpoints, contracted pairs, remap — never the
      // 50k-row stored table)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case s: QueryStageExec => nodes(s.plan)
        case other => other +: (other.children.flatMap(nodes) ++
          other.subqueries.flatMap(nodes))
      }
      val shuffled = nodes(
          org.apache.spark.sql.GraftSqlBridge.queryExecution(out).executedPlan)
        .collect { case e: ShuffleExchangeExec =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L) }
      assert(shuffled.sum < 1000L,
        s"corpus-sized shuffle: per-exchange records = $shuffled")
    } finally {
      prevGate.fold(conf.unset("spark.graft.broadcastGateBytes"))(
        conf.set("spark.graft.broadcastGateBytes", _))
    }
  }
}
