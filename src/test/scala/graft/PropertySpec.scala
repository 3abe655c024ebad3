package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GraftMinHash, GraftMinHashAgg, GraftQ8, GraftQ8Cos, GraftSimHash, GraftTopKAgg}
import graft.plans.XorShift64Star

/** ScalaCheck property coverage for the pure kernels (no Spark session):
  * PRNG uniformity/determinism, MinHash as a Jaccard estimator, SimHash
  * Hamming behavior. These are the randomized counterparts of the
  * reference's single golden test (tests/e2e.rs:20-35), per SURVEY §5.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic mini-forAll over a ScalaCheck generator (the scalatest
    * bridge artifact is not in the offline cache).
    */
  private def forAll[A](gen: Gen[A], n: Int = 40)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(12345L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def lit(ss: Seq[String]) =
    Literal.create(ss, ArrayType(StringType))

  private def minhash(ss: Seq[String], k: Int): Seq[Long] =
    GraftMinHash(lit(ss), k).eval(null).asInstanceOf[ArrayData].toLongArray().toSeq

  test("xorshift PRNG: deterministic per seed, distinct across seeds, uniform-ish") {
    forAll(Gen.choose(Long.MinValue, Long.MaxValue)) { (seed: Long) =>
      val a = new XorShift64Star(seed)
      val b = new XorShift64Star(seed)
      val xs = Seq.fill(100)(a.nextDouble())
      assert(xs == Seq.fill(100)(b.nextDouble()))
      assert(xs.forall(x => x >= 0.0 && x < 1.0))
    }
    // mean of many draws near 0.5 for a handful of seeds
    for (seed <- Seq(0L, 1L, 42L, -7L)) {
      val r = new XorShift64Star(seed)
      val mean = Seq.fill(20000)(r.nextDouble()).sum / 20000
      assert(math.abs(mean - 0.5) < 0.02, s"seed=$seed mean=$mean")
    }
  }

  test("minhash estimates Jaccard within binomial bounds on random sets") {
    val genSets = for {
      n1 <- Gen.choose(20, 200)
      n2 <- Gen.choose(20, 200)
      overlap <- Gen.choose(0, math.min(n1, n2))
    } yield {
      val shared = (0 until overlap).map(i => s"s$i")
      val a = shared ++ (0 until n1 - overlap).map(i => s"a$i")
      val b = shared ++ (0 until n2 - overlap).map(i => s"b$i")
      (a, b)
    }
    forAll(genSets) { case (a, b) =>
      val exact = (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size
      val k = 256
      val sa = minhash(a, k)
      val sb = minhash(b, k)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / k
      // 5 sigma on Binomial(k, exact)
      val sigma = math.sqrt(exact * (1 - exact) / k)
      assert(math.abs(est - exact) <= 5 * sigma + 0.02,
        s"exact=$exact est=$est n=(${a.size},${b.size})")
    }
  }

  test("minhash is permutation- and duplication-invariant (a set function)") {
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))) { (ss: List[String]) =>
      val base = minhash(ss.distinct, 64)
      assert(minhash(scala.util.Random.shuffle(ss ++ ss), 64) == base)
    }
  }

  // ---- aggregate-kernel laws (buffer level, no Spark session) --------

  private val mhAgg = GraftMinHashAgg(BoundReference(0, StringType, true), 64)
  private def mhBuf(tokens: Seq[String]): Array[Long] =
    tokens.foldLeft(mhAgg.createAggregationBuffer()) { (b, t) =>
      mhAgg.update(b, InternalRow(UTF8String.fromString(t)))
    }
  private val genTokens: Gen[List[String]] =
    Gen.listOfN(30, Gen.oneOf((0 until 60).map(i => s"tok$i")))

  test("graft_minhash_agg merge is commutative: merge(a,b) == merge(b,a)") {
    forAll(Gen.zip(genTokens, genTokens)) { case (ta, tb) =>
      val ab = mhAgg.merge(mhBuf(ta), mhBuf(tb))
      val ba = mhAgg.merge(mhBuf(tb), mhBuf(ta))
      assert(ab.toSeq == ba.toSeq)
    }
  }

  test("graft_minhash_agg merge is associative: (a⊕b)⊕c == a⊕(b⊕c)") {
    forAll(Gen.zip(genTokens, genTokens, genTokens)) { case (ta, tb, tc) =>
      val l = mhAgg.merge(mhAgg.merge(mhBuf(ta), mhBuf(tb)), mhBuf(tc))
      val r = mhAgg.merge(mhBuf(ta), mhAgg.merge(mhBuf(tb), mhBuf(tc)))
      assert(l.toSeq == r.toSeq)
    }
  }

  test("graft_minhash_agg: merging partials of ANY split equals the " +
       "whole-set signature (sig(A ∪ B) = elementwise min)") {
    val genSplit = for {
      ts <- genTokens.suchThat(_.nonEmpty)
      nCuts <- Gen.choose(1, 4)
      cuts <- Gen.listOfN(nCuts, Gen.choose(0, ts.size))
    } yield (ts, cuts.sorted)
    forAll(genSplit) { case (ts, cuts) =>
      val whole = mhBuf(ts).toSeq
      val bounds = (0 +: cuts :+ ts.size).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) => ts.slice(a, b) }
      val merged = parts.map(mhBuf).reduce(mhAgg.merge)
      assert(merged.toSeq == whole,
        s"split at $cuts diverged from single-pass")
    }
  }

  private def topkAgg(k: Int) = GraftTopKAgg(
    BoundReference(0, DoubleType, true), BoundReference(1, LongType, true), k)

  test("graft_topk heap-merge equals the sort-based truth under random " +
       "partition splits and merge orders") {
    val genCase = for {
      n <- Gen.choose(0, 120)
      k <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.choose(0, 50).map(_ / 10.0), // coarse scores force ties
        Gen.choose(0L, 40L)))
      nParts <- Gen.choose(1, 5)
      assign <- Gen.listOfN(n, Gen.choose(0, nParts - 1))
    } yield (rows, k, nParts, assign)
    forAll(genCase) { case (rows, k, nParts, assign) =>
      val agg = topkAgg(k)
      val parts = rows.zip(assign).groupMap(_._2)(_._1)
      val bufs = (0 until nParts).map(p =>
        parts.getOrElse(p, Nil).foldLeft(agg.createAggregationBuffer()) {
          (b, r) => agg.update(b, InternalRow(r._1, r._2))
        })
      val merged = bufs.reduce(agg.merge) // reduce order varies with nParts
      val got = merged.sortedStrongestFirst.map(i =>
        (merged.scores(i), merged.ids(i))).toSeq
      // duplicates stay separate entries in the heap, so the sort truth
      // keeps them too
      val truthAll = rows.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(got == truthAll,
        s"k=$k parts=$nParts got=$got truth=$truthAll")
    }
  }

  // ---- q8 quantization laws ------------------------------------------

  private def dlit(xs: Seq[Double]) =
    Literal.create(xs, ArrayType(DoubleType))
  private def q8(xs: Seq[Double]): Seq[Int] =
    GraftQ8(dlit(xs)).eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
  private val genVec: Gen[List[Double]] =
    Gen.choose(1, 48).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000.0, 1000.0).map(_ / 7.0)))
      .suchThat(v => v.exists(_ != 0.0))

  test("q8 roundtrip error bound: dequantized components land within " +
       "maxAbs/254 of the original") {
    forAll(genVec) { (v: List[Double]) =>
      val maxAbs = v.map(math.abs).max
      val deq = q8(v).map(_ * maxAbs / 127.0)
      v.zip(deq).foreach { case (x, d) =>
        assert(math.abs(x - d) <= maxAbs / 254.0 + 1e-12,
          s"x=$x deq=$d maxAbs=$maxAbs")
      }
    }
  }

  test("q8 is invariant under positive power-of-two scaling (exact float " +
       "scaling cannot move any rounding decision)") {
    forAll(Gen.zip(genVec, Gen.oneOf(0.25, 0.5, 2.0, 4.0, 1024.0))) {
      case (v, c) => assert(q8(v.map(_ * c)) == q8(v), s"c=$c")
    }
  }

  test("q8_cos: symmetric, self-similarity exactly 1 for any nonzero vector") {
    def ilit(xs: Seq[Int]) = Literal.create(xs,
      ArrayType(org.apache.spark.sql.types.IntegerType))
    def qcos(a: Seq[Int], b: Seq[Int]): Double =
      GraftQ8Cos(ilit(a), ilit(b)).eval(null).asInstanceOf[Double]
    forAll(Gen.zip(genVec, genVec)) { case (va, vb0) =>
      val a = q8(va)
      val b = q8(vb0.take(va.size).padTo(va.size, 1.0))
      assert(qcos(a, b) == qcos(b, a), "symmetry")
      if (a.exists(_ != 0)) assert(qcos(a, a) == 1.0, s"self-cos of $a")
    }
  }

  // ---- z-order layout laws (evaluated through the real column path) --

  test("zValue is a bijection on [0,2^bits)^2: deinterleave recovers (x,y)") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestBase.spark
    import spark.implicits._
    val bits = 12
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)(
      (rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong)).distinct
    val rows = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
              graft.operators.GraftLayout.zValue(col("x"), col("y"), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      for (i <- 0 until bits) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    assert(rows.map(_._3).distinct.length == pairs.length,
      "distinct pairs must map to distinct z-values")
    rows.foreach { case (x, y, z) =>
      assert(deinterleave(z) == (x, y), s"z=$z did not invert to ($x,$y)")
    }
  }

  test("zValue locality: two points share a 2^s-aligned tile IFF their " +
       "z-values share the top 2*(bits-s) bits") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestBase.spark
    import spark.implicits._
    val bits = 10
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(200)(
      (rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong))
    val zs = pts.toDF("x", "y")
      .select(graft.operators.GraftLayout.zValue(col("x"), col("y"), bits).as("z"))
      .collect().map(_.getLong(0))
    val withZ = pts.zip(zs)
    for (s <- Seq(2, 5, 8); ((x1, y1), z1) <- withZ.take(40);
         ((x2, y2), z2) <- withZ.take(40)) {
      val sameTile = (x1 >> s) == (x2 >> s) && (y1 >> s) == (y2 >> s)
      val samePrefix = (z1 >> (2 * s)) == (z2 >> (2 * s))
      assert(sameTile == samePrefix,
        s"s=$s ($x1,$y1)/($x2,$y2): tile=$sameTile prefix=$samePrefix")
    }
  }

  test("simhash: disjoint vocabularies give larger Hamming distance than overlapping ones") {
    def sim(ss: Seq[String]): Long =
      GraftSimHash(lit(ss)).eval(null).asInstanceOf[Long]
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    forAll(Gen.choose(50, 150)) { (n: Int) =>
      val base = (0 until n).map(i => s"t$i")
      val near = base.drop(n / 10) ++ (0 until n / 10).map(i => s"x$i")
      val far = (0 until n).map(i => s"z$i")
      assert(ham(sim(base), sim(near)) <= ham(sim(base), sim(far)) + 8,
        s"n=$n near=${ham(sim(base), sim(near))} far=${ham(sim(base), sim(far))}")
    }
  }

  test("graft_normalize laws: idempotent per form, identity on ASCII, " +
       "NFC after NFD recovers NFC (canonical equivalence)") {
    import graft.functions.GraftNormalize
    def norm(s: String, form: String): String =
      GraftNormalize(Literal.create(s, StringType), form)
        .eval(null).asInstanceOf[UTF8String].toString
    // strings mixing ASCII, precomposed accents, and combining marks
    val unicodeGen: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const("é"), Gen.const("Å"),
      Gen.const("é"), Gen.const("Å"), Gen.const("ﬁ"),
      Gen.const("½"), Gen.const(" "))).map(_.mkString)
    forAll(unicodeGen, n = 60) { (s: String) =>
      for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
        val once = norm(s, form)
        assert(norm(once, form) == once, s"$form not idempotent on ${s.toList}")
      }
      // canonical equivalence: decomposing first never changes NFC's answer
      assert(norm(norm(s, "NFD"), "NFC") == norm(s, "NFC"))
      // compatibility subsumes canonical: NFKC of an NFC result == NFKC
      assert(norm(norm(s, "NFC"), "NFKC") == norm(s, "NFKC"))
    }
    val asciiGen: Gen[String] =
      Gen.listOf(Gen.choose(0x20.toChar, 0x7e.toChar)).map(_.mkString)
    forAll(asciiGen, n = 60) { (s: String) =>
      for (form <- Seq("NFC", "NFD", "NFKC", "NFKD"))
        assert(norm(s, form) == s, s"$form not identity on ASCII '$s'")
    }
  }

  test("media codec laws: BMP, animated-GIF and WAV chains are lossless " +
       "for ALL payloads (round-trip through the real JDK codecs " +
       "recovers every pixel / sample)") {
    import graft.operators.GraftMedia
    val bytesGen = Gen.choose(0, 700).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 255)).map(_.map(_.toByte).toArray))
    forAll(bytesGen, n = 25) { payload =>
      // still image: BMP encode -> imageio decode == the payload raster
      val raster = GraftMedia.payloadRaster(payload)
      val viaBmp = GraftMedia.decodeGray(GraftMedia.encodeBmp(raster))
      assert(viaBmp.width == raster.width &&
             viaBmp.pixels.toSeq == raster.pixels.toSeq)
      // container: every frame of the GIF round-trips bit-exactly and
      // the codec's frame count equals the arithmetic frame count
      val frames = GraftMedia.payloadFrames(payload)
      val (n, all) = GraftMedia.decodeSampledFrames(
        GraftMedia.encodeGif(frames), sampleEvery = 1)
      assert(n == frames.length &&
             all.map(_.pixels.toSeq) == frames.map(_.pixels.toSeq))
      // sampling law: every-kth materializes exactly frames 0, k, 2k, …
      val k = 1 + math.abs(payload.length) % 5
      val (_, sampled) = GraftMedia.decodeSampledFrames(
        GraftMedia.encodeGif(frames), sampleEvery = k)
      assert(sampled.map(_.pixels.toSeq) ==
             (0 until n by k).map(i => frames(i).pixels.toSeq))
      // audio: WAV PCM round-trip recovers every sample
      val samples = GraftMedia.payloadSamples(payload)
      val (rate, decoded) = GraftMedia.decodeWav(GraftMedia.encodeWav(samples))
      assert(rate == GraftMedia.audioSampleRate.toFloat &&
             decoded.toSeq == samples.toSeq)
    }
  }

  // ---- the graph iterations against a driver-local replay ----

  /** The formulas of `GraftGraph`'s scaladoc, replayed on a deduplicated
    * edge list with plain collections. */
  private object GraphReplay {
    def pageRank(es: Seq[(Long, Long)], iters: Int, d: Long, grid: Long,
                 dangling: Boolean, seeds: Option[Set[Long]],
                 warm: Map[Long, Long]): Map[Long, Long] = {
      val e = es.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      val deg = e.groupBy(_._1).map { case (u, out) => u -> out.size.toLong }
      val on = (v: Long) => seeds.forall(_(v))
      val n = nodes.size.max(1).toLong
      var r = nodes.map(v => v -> warm.getOrElse(v, if (on(v)) grid else 0L)).toMap
      for (_ <- 1 to iters) {
        val ds = if (dangling) nodes.filterNot(deg.contains).map(r).sum else 0L
        val in = e.groupBy(_._2).map { case (v, us) =>
          v -> us.map { case (u, _) => r(u) / deg(u) }.sum }
        r = nodes.map(v => v -> ((if (on(v)) (100 - d) * grid else 0L) +
                                 d * (in.getOrElse(v, 0L) + ds / n)) / 100).toMap
      }
      r
    }

    def hits(es: Seq[(Long, Long)], iters: Int, grid: Long)
        : Map[Long, (Long, Long)] = {
      val e = es.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      def rescale(x: Map[Long, Long]) = {
        val m = if (x.isEmpty) 0L else x.values.max
        x.map { case (v, s) => v -> (if (m > 0) s * grid / m else 0L) }
      }
      var hub = nodes.map(_ -> grid).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        auth = rescale(nodes.map(v =>
          v -> e.collect { case (u, `v`) => hub(u) }.sum).toMap)
        hub = rescale(nodes.map(u =>
          u -> e.collect { case (`u`, v) => auth(v) }.sum).toMap)
      }
      nodes.map(v => v -> ((hub(v), auth(v)))).toMap
    }

    def labelPropagation(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val und = (es ++ es.map(_.swap)).distinct
      var label = und.map(_._1).distinct.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        label = und.groupBy(_._2).map { case (v, in) =>
          v -> in.groupBy { case (u, _) => label(u) }.toSeq
            .map { case (l, us) => (l, us.size) }
            .minBy { case (l, c) => (-c, l) }._1 }
      }
      label
    }
  }

  test("graph iterations equal the driver-local replay of their formulas " +
       "bit for bit, across input partitionings 1/3/7 and shuffle " +
       "partitions 1/4; a 60-round lineage plans and runs") {
    import graft.operators.GraftGraph
    val spark = SparkTestBase.spark.newSession()
    import spark.implicits._
    val genGraph = for {
      n <- Gen.choose(1, 24)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(-3L, n.toLong), Gen.choose(-3L, n.toLong)))
      seeds <- Gen.someOf(-3L to n.toLong)
      warm <- Gen.listOf(Gen.zip(Gen.choose(-3L, 2L * n), Gen.choose(0L, 3000L)))
    } yield (es, seeds.toSet, warm.toMap)
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    def check(es: Seq[(Long, Long)], seeds: Set[Long], warm: Map[Long, Long],
              iters: Int, parts: Int): Unit = {
      val e = spark.sparkContext.parallelize(es, parts).toDF("src", "dst")
      val s = spark.sparkContext.parallelize(seeds.toSeq, parts).toDF("node_id")
      val w = spark.sparkContext.parallelize(warm.toSeq, parts).toDF("node_id", "pr_micro")
      val grid = 1000L
      val one = (m: Map[Long, Long]) => m.map { case (k, v) => k -> Seq(v) }
      val cases = Seq(
        "pageRank" -> (byId(GraftGraph.pageRank(e, iters = iters, grid = grid)),
          one(GraphReplay.pageRank(es, iters, 85, grid, false, None, Map.empty))),
        "dangling" -> (byId(GraftGraph.pageRank(e, iters = iters, dampingPct = 70,
                              grid = grid, danglingRedistribute = true)),
          one(GraphReplay.pageRank(es, iters, 70, grid, true, None, Map.empty))),
        "ppr" -> (byId(GraftGraph.personalizedPageRank(e, s, iters = iters, grid = grid)),
          one(GraphReplay.pageRank(es, iters, 85, grid, false, Some(seeds), Map.empty))),
        "warm" -> (byId(GraftGraph.pageRank(e, iters = iters, grid = grid,
                                            initialRanks = Some(w))),
          one(GraphReplay.pageRank(es, iters, 85, grid, false, None, warm))),
        "hits" -> (byId(GraftGraph.hits(e, iters = iters, grid = grid)),
          GraphReplay.hits(es, iters, grid).map { case (k, (h, a)) => k -> Seq(h, a) }),
        "lpa" -> (byId(GraftGraph.labelPropagation(e, iters = iters)),
          one(GraphReplay.labelPropagation(es, iters))))
      for ((name, (got, want)) <- cases)
        assert(got == want, s"$name iters=$iters parts=$parts edges=$es")
    }
    try {
      for (shufflePartitions <- Seq(1, 4)) {
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toLong)
        forAll(Gen.zip(genGraph, Gen.choose(1, 4)), n = 6) {
          case ((es, seeds, warm), iters) =>
            for (parts <- Seq(1, 3, 7)) check(es, seeds, warm, iters, parts)
        }
      }
      forAll(genGraph, n = 1) { case (es, seeds, warm) =>
        check(es, seeds, warm, iters = 60, parts = 3)
      }
    } finally spark.conf.unset("spark.sql.shuffle.partitions")
  }
}
