package graft


/** Isolated-arbiter benchmark: each named query runs in a FRESH JVM (one
  * fork per query), so nothing from any other query — persisted frames,
  * JIT profiles, codegen caches — can contaminate its timing. The
  * in-suite `Bench` numbers carry shared-JVM residue in both directions;
  * this main is the committed arbiter for queries whose in-suite ratios
  * look anomalous, replacing the `/tmp` logs SCALE.md used to cite
  * (which evaporated with the sandbox).
  *
  * Orchestrator mode (default):
  *   `runMain graft.BenchIsolated [names] [outPath]`
  *   - `names`: comma-separated query names (default: the current
  *     round's flagged worst-ratio set below)
  *   - `outPath`: JSON artifact path (default BENCH_ISOLATED.json in cwd)
  *   Forks one worker JVM per query — same classpath and --add-opens as
  *   this JVM — and aggregates the workers' JSON lines.
  *
  * Worker mode: `--worker <name>` — runs that one query
  * SPARK_GRAFT_BENCH_RUNS times (default 3) against SPARK_GRAFT_SF_DIR
  * with the Bench harness conventions (noop sink, scan+shuffle warmup,
  * clearCache between runs, [min, med, max] spread) and prints exactly
  * one JSON line.
  */
object BenchIsolated {
  /** Queries flagged for arbitration this round (SCALE.md cites the
    * committed artifact these produce). r13 set: the four r12 in-suite
    * regressions the verdict sent to arbitration (VERDICT r12 #3 —
    * `ann_ivf_stored` 1.50×, `events_range_join` 1.73×,
    * `src_bucketed_join` 1.47×, `text_bm25_topk` 1.50×, all with no
    * touching code change except the q4-at-rest write, now opt-in),
    * this round's new oracled rows, and the MaxSim family carried so the
    * stored row's amortized serve reads against its build-per-run twins. */
  val DefaultFlagged: Seq[String] = Seq(
    "ann_ivf_stored_manifest", "events_range_join", "src_bucketed_join",
    "text_bm25_topk",
    // r13 new rows
    "ann_maxsim_stored", "graph_pagerank_dangling",
    "ann_hybrid_filtered_q8", "ann_hybrid_q4", "ann_maxsim_filtered",
    "ann_hybrid_maxsim",
    // carried MaxSim family (the stored row's baseline)
    "ann_maxsim", "ann_maxsim_ivf",
    // r13 third batch: the 1-bit rung (stored + brute twin), the
    // edit-distance prefix-filter join, MMR on both candidate tiers
    "ann_ivf_stored_b1", "ann_b1_hamming_topk", "dedup_editdist_pairs",
    "ann_mmr_topk", "ann_mmr_ivf",
    // r13 fourth batch: JW linkage, diversified fusion, 1-bit fusion
    "text_jw_linkage", "ann_hybrid_mmr", "ann_hybrid_b1",
    // r13 fifth batch: LPA communities, NDCG eval, filtered MMR
    "graph_lpa_communities", "ann_ndcg_eval", "ann_mmr_filtered",
    "ann_mrr_eval",
    // r14: the impact-index family (stored BM25 serve + MaxScore pruned
    // serve + stored-lexical fusion — text_bm25_topk above is their
    // rebuild-per-run baseline), incremental keep-set (vs the
    // from-scratch dedup_neardup_clusters), warm-start PageRank (vs the
    // cold graph_pagerank)
    "text_bm25_pruned", "dedup_keepset_incremental", "graph_pagerank_warm",
    "graph_pagerank", "dedup_neardup_clusters",
    // r15: the in-suite movers VERDICT r14 sent to arbitration (What's
    // wrong #2: text_scrub_repeats 1.54x with no touching change;
    // events_asof_join / q_window_rank opportunistically), the
    // re-distributed prefix dedup (What's wrong #1 fix — no longer a
    // single-task window), and the at-rest BM25 serve
    "text_scrub_repeats", "events_asof_join", "q_window_rank",
    "dedup_prefix", "text_bm25_stored_manifest",
    // r15 second batch: the versioned at-rest keep-set (create +
    // sliver increment + last-wins read) and the MaxScore payoff query
    "dedup_keepset_stored", "text_bm25_pruned_skew", "mm_video_dedup",
    "ann_hybrid_impact_manifest",
    // r16: the in-suite movers VERDICT r15 sent to arbitration (What's
    // wrong #1: pipeline_contamination 1.75x with no touching change;
    // pipeline_corpus_curation / dedup_minhash_lsh co-arbitrated), the
    // lexical takedown lifecycle, and the everything-at-rest RAG serve
    "pipeline_contamination", "pipeline_corpus_curation",
    "dedup_minhash_lsh", "text_bm25_delete_manifest",
    "ann_serve_production", "dedup_keepset_delete",
    // r17: the persist-wave serve rows (§3.4 — centroid frame +
    // query-minibatch projections), the PQ store family (§3.6 phase
    // floor), the remaining hybrid rungs, the delete lifecycles, and
    // the graph/BPE residue rows the round examined
    "ann_ivf_pq", "ann_pq_budget_sweep", "ann_ivf_stored_q4",
    "ann_ivf_stored_q8", "ann_ivf_rebuild", "ann_ivf_coarse",
    "ann_ivf_pq_manifest", "ann_hybrid_pq",
    "ann_hybrid_q8", "ann_hybrid_ivf", "ann_hybrid_filtered",
    "ann_hybrid_rrf", "ann_ivf_kmeans", "mm_embed_ivf",
    "ann_ivf_delete_manifest",
    "text_bpe_segment", "text_bpe_train", "graph_hits", "graph_ppr")

  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  def main(args: Array[String]): Unit = args.toList match {
    case "--worker" :: name :: Nil => worker(name)
    case rest => orchestrate(rest)
  }

  private def worker(name: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val t = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench-iso] $name failed: ${e.getMessage}")
        -1.0
      }
      spark.catalog.clearCache()
      t
    }
    val ts = if (times.exists(_ < 0)) Seq.fill(runs)(-1.0) else times
    println(s""""$name":[${fmt(ts.min)},${fmt(median(ts))},${fmt(ts.max)}]""")
    spark.stop()
  }

  private def orchestrate(rest: List[String]): Unit = {
    val names = rest.headOption.filter(_.nonEmpty).map(_.split(',').toSeq)
      .getOrElse(DefaultFlagged)
    val outPath = rest.drop(1).headOption.getOrElse("BENCH_ISOLATED.json")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    // forward this JVM's --add-opens etc. so the worker's Spark works
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
                   a.startsWith("-Xmx") || a.startsWith("-Xss"))
    val entries = names.map { name =>
      val cmd: Seq[String] =
        Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", cp, "graft.BenchIsolated", "--worker", name)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(false)
      val p = pb.start()
      // drain stderr CONCURRENTLY: reading stdout to EOF first deadlocks
      // when the worker writes more than one pipe buffer (~64 KB) of log
      // lines to stderr before exiting — the worker blocks on the full
      // stderr pipe inside a log appender (the dag-scheduler event loop,
      // in the observed hang) and stdout never closes
      val errBuf = new java.util.concurrent.atomic.AtomicReference[String]("")
      val drainer = new Thread(() =>
        errBuf.set(new String(p.getErrorStream.readAllBytes, "UTF-8")))
      drainer.setDaemon(true)
      drainer.start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      val rc = p.waitFor()
      drainer.join(10000)
      val err = errBuf.get
      out.linesIterator.toSeq.lastOption
        .filter(l => rc == 0 && l.startsWith("\"" + name + "\":")) match {
        case Some(line) =>
          System.err.println(s"[bench-iso] $name -> $line")
          line
        case None =>
          System.err.println(
            s"[bench-iso] $name worker rc=$rc\n${err.takeRight(800)}")
          s""""$name":[-1,-1,-1]"""
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val json =
      s"""{"metric":"isolated","unit":"sec","runs":$runs,"fresh_jvm_per_query":true,""" +
      s""""cpus":$cpus,"sf":"$sfDir","queries":${entries.mkString("{", ",", "}")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
  }
}
