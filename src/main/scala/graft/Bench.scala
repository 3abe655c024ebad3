package graft

/** Driver-contract benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. Queries are forced through the noop sink — full
  * computation (sorts, projections, writes) without driver-side collect
  * skew; a warmup query first so JIT/codegen compilation doesn't land on
  * whichever query runs first.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  * artifact records the [min, median, max] spread — a single-run number
  * can't tell a plan regression from JIT/page-cache noise (the r4→r5
  * pipeline_data_mixture 2.5→4.8 s slip was unattributable for exactly
  * that reason). The headline `value` is the sum of per-query medians.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: exercise scan + shuffle + codegen paths once
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // optional arg: comma-separated query names to run (iteration aid;
    // the driver passes no args and gets the full suite)
    val only = args.headOption.map(_.split(',').toSet)
    // spread per query: Seq of per-run seconds; a failed run poisons the
    // query to all -1 (never a fast-looking partial spread)
    val results: Seq[(String, Seq[Double])] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val t = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
          // Cleanup OUTSIDE the timed region: any frame a query left in the
          // CacheManager would otherwise stay across 144 queries x `runs`
          // shared-JVM executions — that residue once inflated late-alphabet
          // queries (BENCH_r06 recorded q5_multi_join at 3.22 s vs 0.88 s
          // isolated). Operators keep their intermediates as checkpoint
          // leaves, freed with the query's frame (GraftDedup's lifetime
          // rule); clearing per RUN (not just per query) still guarantees
          // run 2/3 never reuse run 1's storage, so the spread measures the
          // plan, not cache luck.
          spark.catalog.clearCache()
          // clearCache does NOT free broadcast residue: torrent blocks
          // release only after the ContextCleaner notices their weak refs
          // die, which needs a GC. Without this, the sf1 sweep's heavy
          // broadcast producers (the ann_* family, alphabetically first)
          // pile dead blocks into the shared JVM until every
          // late-alphabet query measures heap pressure instead of its
          // plan — r11 observed q1_agg at 32.1 s in-suite vs 2.7 s in a
          // fresh JVM before this collect was added.
          System.gc()
          t
        }
        name -> (if (times.exists(_ < 0)) Seq.fill(runs)(-1.0) else times)
      }
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // [min, med, max] triple per query — the spread the judge reads
    def toJson(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) =>
        "\"" + k + "\":[" + fmt(ts.min) + "," + fmt(median(ts)) + "," + fmt(ts.max) + "]"
      }.mkString("{", ",", "}")
    val total = results.map(r => median(r._2)).filter(_ >= 0).sum
    val failed = results.collect { case (k, ts) if ts.head < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Full per-query detail first (a ~8 KB line — for humans and the
    // judge's per-query log)...
    val fullLine = s"""{"metric":"full","unit":"sec","runs":$runs,"queries":${toJson(results)},"failed":$failed,"sf":"$sfDir"}"""
    println(fullLine)
    // ...then the driver-contract line LAST and COMPACT: the driver keeps
    // only a 2000-char output tail, so the final JSON line must fit inside
    // it whole (the full map above does not — r1-r3 all recorded
    // parsed:null because of exactly this). Contract-line values are the
    // declared scalar `"name": sec` (the per-query MEDIAN — the triples
    // stay on the full line above and in the bench_last.json file): r16's
    // triple-valued contract line parsed but the driver's per-query
    // comparison came back empty (PERF_r16 per_query: {}, n_common: 0,
    // bench_ok: false), so the round's heavy wins were driver-invisible.
    // Declared-contract scalars + a DYNAMIC headline are the fix
    // (VERDICT r16 "Next round" #1).
    val headlineSet: Set[String] = Set(
      "q1_agg", "q3_join_agg", "q5_multi_join", "q_filter_topk",
      "q_window_rank", "q_sort_global", "q_percentile_exact",
      "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "dedup_embedding_cosine", "dedup_components", "dedup_semantic",
      "pipeline_sequence_pack", "text_bm25_topk",
      "ann_cosine_topk", "ann_ivf_topk", "ann_ivf_append",
      "ann_ivf_stored_manifest", "ann_ivf_coarse", "ann_ivf_rebuild",
      "ann_lsh_bucket", "ann_quantized_topk", "dedup_cdc_chunks",
      "dedup_semantic_scale",
      "text_vocab_tfidf", "text_quality_rules",
      "events_sessionize", "events_asof_join", "events_range_join",
      "pipeline_corpus_curation", "pipeline_contamination",
      "mm_embed_ann", "sample_bernoulli", "src_bucketed_join",
      "text_lm_perplexity", "pipeline_data_mixture", "text_scrub_repeats")
    // Dynamic headline (additions only — every r16 entry above stays):
    // the top queries by THIS run's median join the fixed sentinel set,
    // so the contract line always carries the suite's dominant rows —
    // r16's fixed set omitted every heavy query that round optimized
    // (ann_maxsim*, ann_ivf_delete*, graph_*, ann_hybrid_*, keepset),
    // which left the driver's comparison blind exactly where the wins
    // were. Budgeted so the line stays inside the driver's 2000-char
    // output tail whole.
    def scalarJson(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) => "\"" + k + "\":" + fmt(median(ts)) }
        .mkString("{", ",", "}")
    val byCost = results.sortBy(r => -median(r._2)).map(_._1)
    val fixed = results.filter(r => headlineSet.contains(r._1))
    val lineOverhead = 220 // metric/value/n_queries/runs/sf framing
    val budget = 2000 - lineOverhead - failed.length -
      fixed.map(_._1.length + 10).sum
    var used = 0
    val dynNames = byCost.filterNot(headlineSet.contains).takeWhile { n =>
      used += n.length + 10; used <= budget
    }.toSet
    val headline = results.filter(r =>
      headlineSet.contains(r._1) || dynNames.contains(r._1))
    val contract = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"runs":$runs,"queries":${scalarJson(headline)},"failed":$failed,"sf":"$sfDir"}"""
    // Belt and braces against log-tail truncation (BENCH_r03 lost its
    // totals to exactly that): the contract line also lands in a FILE the
    // judge can always read, before stdout gets a chance to truncate.
    // Target overridable for other checkouts (env), defaulting to the
    // path the judge reads.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      contract + "\n" + fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outPath write failed: ${e.getMessage}")
    }
    println(contract)
    spark.stop()
  }
}
