package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-tier benchmark (VERDICT r6 item 8): replays sf-derived inputs
  * through the stateful streaming operators via MemoryStream and records
  * throughput + state-store size per operator — the round-over-round
  * regression surface BENCH gives the batch tier. Emits one JSON line and
  * writes STREAMBENCH.json.
  *
  * Numbers are micro-batch replay wall times on a shared local JVM — they
  * are comparable ROUND TO ROUND, not absolute cluster throughput; state
  * rows/bytes come from each query's final StreamingQueryProgress
  * (`stateOperators`), the same source the state-reduction specs read.
  *
  * Each operator replays SPARK_GRAFT_STREAMBENCH_RUNS times (default 3,
  * fresh stream + sink + store per run) and the artifact records the
  * median with a [min, med, max] spread — single-shot replay timings on
  * this box swing up to 3× run-to-run (observed on sb_neardup_pairs:
  * 6.9 s vs 22.2 s same code, same data), which would read as phantom
  * regressions round-over-round, the same lesson the batch bench learned
  * in r6.
  *
  *   sbt "runMain graft.StreamBench"   # SPARK_GRAFT_SF_DIR overrides
  */
object StreamBench {

  final case class Rec(name: String, rowsIn: Long, rowsOut: Long,
                       sec: Double, stateRows: Long, stateBytes: Long)

  /** The same-run calibration operator's name (see the calibration
    * block in main): a fixed stateless md5-fold replay whose rows/s
    * measures the host through the suite's own machinery. */
  val CalibrationOp: String = "sb_calibration"

  /** RELATIVE regression floors (VERDICT r12 #6, succeeding three
    * generations of absolute floors): minimum acceptable ratio of an
    * operator's median throughput to the SAME RUN's calibration
    * throughput. History of why: r7 floored absolute rows/s at 0.5× an
    * idle median; r11 found the medians themselves swing 2× with host
    * mood and re-floored at 0.5× the worst of three same-day runs; r11
    * ADVICE noted that loosening per-op floors to survive host swing
    * surrenders per-op sensitivity, and the r12 aggregate floor only
    * half-restored it. Dividing by a same-run calibration op cancels
    * host speed (numerator and denominator shift together), so these
    * floors are back at 0.5× a SINGLE baselining run's ratios — tighter
    * per-op than the absolute floors could afford, yet host-invariant
    * (StreamBenchGateSpec replays a uniformly-2×-slower host green and
    * trips a single 3×-slowed op). Baselined at the r13 HEAD run;
    * re-baseline when an operator's cost legitimately moves. An
    * operator missing from the run still fails the gate. */
  val relativeFloors: Map[String, Double] = Map(
    "sb_dedup"               -> 0.032005,
    "sb_media_embed"         -> 0.096194,
    "sb_bpe_segment"         -> 0.043619,
    "sb_fuzzy_contamination" -> 0.021297,
    "sb_dsir_score"          -> 0.107474,
    "sb_nb_classify"         -> 0.064253,
    "sb_pca_project"         -> 0.056928,
    "sb_pq_encode"           -> 0.044960,
    "sb_pq_serve"            -> 0.000578,
    "sb_contamination"       -> 0.014286,
    "sb_neardup_pairs"       -> 0.021982,
    "sb_neardup_pairs_cap64" -> 0.021396,
    "sb_srp_pairs"           -> 0.009067,
    "sb_srp_pairs_q8"        -> 0.009749,
    "sb_ivf_serve"           -> 0.001064,
    "sb_maxsim_serve"        -> 0.000065,
    "sb_maxsim_serve_cut"    -> 0.000103,
    "sb_ivf_ingest_manifest" -> 0.012619,
    "sb_pack"                -> 0.038611,
    "sb_sessionize"          -> 0.344984,
    "sb_hourly"              -> 0.393582,
    "sb_transitions"         -> 0.499700,
    // r13 fourth batch, floored at 0.5x the same re-baselining run that
    // reset the aggregate bound below (calibration 3.534 s / 28 300
    // rows/s): the edit-distance typo-dup miner and the diversified
    // online serve
    "sb_editdist"            -> 0.008163,
    "sb_mmr_serve"           -> 0.000724,
    // r13 closing: the fused hybrid serve, floored at 0.5x the FINAL
    // re-baselining run (calibration 3.265 s / 30 625 rows/s) that also
    // reset the aggregate bound below
    "sb_hybrid_serve"        -> 0.000310,
    // r14: the stored-impact hybrid serve twin and the online
    // component maintainer, floored at 0.5x the r14 baselining run
    // (calibration 4.797 s / 20 846 rows/s — the same run re-baselines
    // the aggregate bound below; every pre-existing floor re-verified
    // green against it). An earlier same-day run tripped
    // sb_fuzzy_contamination with a 4.7->18 s in-suite spread;
    // adjudicated as a host episode by this clean run (0.0587 vs floor
    // 0.0213, nothing touching that operator this round).
    "sb_hybrid_serve_stored" -> 0.000447,
    "sb_components"          -> 0.107545,
    // r14 (late): the streaming reservoir, floored at 0.5x the WORSE of
    // its three same-day measurements (ratios 2.237 / 1.445 / 1.723 —
    // stable op on a choppy host: two intervening suite runs each
    // tripped a different set of UNTOUCHED ops that adjacent runs
    // measured green, the host-episode class adjudicated twice earlier
    // today; the committed STREAMBENCH.json is the closing 5-rep run
    // whose medians ride out such episodes — gate green over all 29
    // floors against THESE constants). Adding this op to the floored
    // set without moving BaselineTotalSec only TIGHTENS the aggregate
    // bound by the op's ~2.8 s — conservative.
    "sb_sample"              -> 0.722562,
    // r15: the perceptual-hash pair miner (driven since r14 but ungated —
    // ADVICE r14 #2) and the warm-start component maintainer, floored at
    // 0.5x the r15 baselining run (calibration 6.400 s / 15 626 rows/s;
    // ratios cancel the slower host). Same sb_sample convention: added
    // without moving BaselineTotalSec — conservative tightening.
    "sb_hamming"             -> 0.029920,
    "sb_components_warm"     -> 0.073305,
    // r15 (second baselining run, calibration 7.129 s / 14 027 rows/s):
    // the streaming keep-set ingest — foreachBatch store increments, so
    // throughput-floored only (no stream state to ceiling, the
    // sb_ivf_ingest_manifest convention)
    "sb_keepset_ingest"      -> 0.029620,
    // r16: the MaxScore-pruned hybrid serve (VERDICT r15 missing #3),
    // floored at 0.5x its r16 baselining run (calibration 8.914 s /
    // 11 218 rows/s). Wall-clock sits near the stored twin (the third
    // chained stateful stage adds per-batch latency) — the win is
    // STATE: 332 rows / 2.3 MB vs the stored serve's 330k rows /
    // 124.6 MB in the same run, a 54x cut because non-candidate
    // posting mass dies in the per-(query, doc) stage instead of
    // residing in it. Added without moving BaselineTotalSec — the
    // conservative sb_sample convention.
    "sb_hybrid_serve_pruned" -> 0.000545)

  /** STATE-BYTES ceilings (r13): the throughput floors cannot see a
    * state blow-up that the host absorbs in RAM — exactly the r12
    * `maxSimServeStream` defect class (state grew with probed-cell
    * membership; 3.04 GB at 500 queries, caught only by reading the
    * artifact). State is HOST-INVARIANT (it is a function of the fixed
    * replay feed and the operator's keying), so absolute ceilings work
    * where absolute throughput floors did not: 3× the r13 baselining
    * run's `memoryUsedBytes` per stateful op — slack for state-store
    * estimation jitter, far below any structural keying regression
    * (the r12 episode was 34×). `sb_maxsim_serve` keeps its honest
    * unbounded-shape ceiling; the `_cut` row's ceiling is the one that
    * guards the bounded-by-construction claim. */
  val stateCeilings: Map[String, Long] = Map(
    "sb_contamination"       -> 3L * 40104,
    "sb_dedup"               -> 3L * 1258592,
    "sb_fuzzy_contamination" -> 3L * 41056,
    "sb_hourly"              -> 3L * 975664,
    "sb_ivf_serve"           -> 3L * 37280,
    "sb_maxsim_serve"        -> 3L * 3044412352L,
    "sb_maxsim_serve_cut"    -> 3L * 88226592,
    "sb_neardup_pairs"       -> 3L * 181921056,
    "sb_neardup_pairs_cap64" -> 3L * 181921056,
    "sb_pack"                -> 3L * 16432,
    "sb_pq_serve"            -> 3L * 103712,
    "sb_sessionize"          -> 3L * 392704,
    "sb_srp_pairs"           -> 3L * 140343680,
    "sb_srp_pairs_q8"        -> 3L * 80717824,
    "sb_transitions"         -> 3L * 562656,
    // r13 fourth batch (same baselining run as the floors): editdist
    // state is (q·d+1) text payloads per long in-horizon doc; the MMR
    // serve's two bounded aggregations hold kCand slots + kCand·dim
    // doubles per in-flight query
    "sb_editdist"            -> 3L * 72175176,
    "sb_mmr_serve"           -> 3L * 67808,
    // r13 closing (same run as the floor): dual kCand heaps + the
    // lexical leg's per-(query, doc) partial sums within the horizon
    "sb_hybrid_serve"        -> 3L * 124633568,
    // r14 (same baselining run as the new floors): the stored-impact
    // serve keeps the in-memory twin's exact state shape (same dual
    // heaps + lexical partial sums — only the BUILD moved to rest);
    // the component maintainer's single union-find group is 3 longs +
    // overhead per in-horizon node (~1 MB at the 20k-pair churn feed)
    "sb_hybrid_serve_stored" -> 3L * 124633568,
    "sb_components"          -> 3L * 979600,
    // r14 (late): EXACTLY n slots per stratum by construction — the
    // ceiling is the claim's enforcement (identical bytes in both
    // measuring runs: 10 strata x 100 (md5, id) slots)
    "sb_sample"              -> 3L * 145552,
    // r15 (same baselining run as the new floors): hamming state is one
    // 8-byte signature per (band, in-horizon doc); the warm maintainer
    // carries the identical single union-find group as sb_components —
    // seeding changes WHERE the state comes from, not its shape
    "sb_hamming"             -> 3L * 4937168,
    "sb_components_warm"     -> 3L * 979600,
    // r16 (same baselining run as the floor): the MaxScore-pruned serve's
    // ceiling IS the claim — three bounded stages (per-query bound
    // sliver, candidate-only partial sums, dual kCand heaps) measured
    // 2.3 MB where the unpruned stored serve holds 124.6 MB; a
    // regression to unpruned-shape state (candidates not cut before
    // residence) blows this ceiling by ~18x
    "sb_hybrid_serve_pruned" -> 3L * 2303632)

  /** Aggregate bound complementing the per-op ratios: the sum of
    * floored-op medians must stay under the baselined total scaled by
    * THIS RUN's calibration time (host speed cancels here too — a
    * uniformly slower host slows the calibration by the same factor).
    * Catches a one-op 2–3× regression that per-op ratios at 0.5×
    * headroom would let through. Baselined with the floors. */
  // FULL re-baseline at the r14 baselining run (all 28 floored ops
  // re-measured in one clean run — the committed STREAMBENCH.json;
  // sb_hybrid_serve_stored / sb_components floors and ceilings come
  // from the same run, so the suite total, calibration, and per-op
  // ratios are one consistent snapshot — the ADVICE r12 convention for
  // how this constant may move; every pre-existing floor re-verified
  // green against this run before it became the baseline. r13 values:
  // 305.1 / 3.265 over 26 ops.)
  val BaselineTotalSec: Double = 349.3
  val BaselineCalibSec: Double = 4.797
  val AggregateBoundFactor: Double = 1.0 / 0.7

  /** The gate, pure for testability (StreamBenchGateSpec feeds it
    * synthetic runs): per-op relative floors + the calibration-scaled
    * aggregate bound. `medSec`/`rowsIn` keyed by op name; the
    * calibration op's own row must be present. */
  private[graft] def gateViolations(medSec: Map[String, Double],
                                    rowsIn: Map[String, Long],
                                    stateBytes: Map[String, Long] =
                                      Map.empty)
      : Seq[String] = {
    val calibSec = medSec.getOrElse(CalibrationOp,
      return Seq(s"$CalibrationOp: MISSING — the relative gate cannot run"))
    val calibTput =
      rowsIn.getOrElse(CalibrationOp, 0L) / math.max(calibSec, 1e-9)
    if (calibTput <= 0)
      return Seq(s"$CalibrationOp: zero throughput — gate cannot run")
    val perOp = relativeFloors.toSeq.sortBy(_._1).flatMap {
      case (name, floor) =>
        (medSec.get(name), rowsIn.get(name)) match {
          case (Some(sec), Some(rows)) =>
            val tput = rows / math.max(sec, 1e-9)
            val ratio = tput / calibTput
            if (ratio < floor)
              Some(f"$name: ratio $ratio%.6f < floor $floor%.6f " +
                   f"($tput%.0f rows/s vs calibration $calibTput%.0f)")
            else None
          case _ =>
            Some(s"$name: MISSING from this run (floor $floor)")
        }
    }
    // state ceilings: only checked when the run reports state (the
    // synthetic spec runs may omit it); a MISSING stateful op is
    // already fatal via its throughput floor above
    val state = stateCeilings.toSeq.sortBy(_._1).flatMap {
      case (name, ceiling) =>
        stateBytes.get(name) match {
          case Some(bytes) if bytes > ceiling =>
            Some(s"$name: state $bytes B > ceiling $ceiling B " +
                 "(keying regression — state is host-invariant, so this " +
                 "is structural, not noise)")
          case _ => None
        }
    }
    val totalSec = medSec.collect {
      case (n, s) if relativeFloors.contains(n) => s
    }.sum
    val aggBound = BaselineTotalSec * AggregateBoundFactor *
      (calibSec / BaselineCalibSec)
    val agg =
      if (perOp.exists(_.contains("MISSING"))) Seq.empty // already fatal
      else if (totalSec > aggBound)
        Seq(f"TOTAL: sum of floored medians $totalSec%.1f s > " +
            f"$aggBound%.1f s (baseline $BaselineTotalSec%.1f s x " +
            f"$AggregateBoundFactor%.2f x calib $calibSec%.2f/" +
            f"$BaselineCalibSec%.2f)")
      else Seq.empty
    perOp ++ state ++ agg
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.ensureExtensions(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CorpusStreams, EventStreams}

    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

    val runs = sys.env.get("SPARK_GRAFT_STREAMBENCH_RUNS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val out = scala.collection.mutable.ListBuffer.empty[Rec]

    /** Replay an operator block `runs` times; every run constructs its own
      * stream, sink, and (where applicable) store, so runs are independent
      * replays, not warm-cache reruns of shared state. */
    def rep(body: => Unit): Unit = (1 to runs).foreach(_ => body)

    /** Drive a memory-sink query over `chunks` feeds, timing feed-to-drain;
      * rowsOut/state from the table + final progress. */
    def drive(name: String, rowsIn: Long, q: StreamingQuery,
              feeds: Seq[() => Unit]): Unit = {
      try {
        val t0 = System.nanoTime()
        feeds.foreach { f => f(); q.processAllAvailable() }
        val sec = (System.nanoTime() - t0) / 1e9
        val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
        out += Rec(name, rowsIn,
                   spark.table(name.replace('-', '_')).count(),
                   sec,
                   so.map(_.numRowsTotal).sum,
                   so.map(_.memoryUsedBytes).sum)
        println(s"[streambench] $name done: ${out.last}")
      } finally q.stop()
    }
    def sink(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("memory").queryName(name.replace('-', '_'))
        .outputMode("append").start()
    def chunks[T](rows: Seq[T], n: Int): Seq[Seq[T]] = {
      val sz = math.max(1, (rows.size + n - 1) / n)
      rows.grouped(sz).toSeq
    }

    // ---- calibration op (VERDICT r12 #6): a FIXED stateless replay —
    // 100k synthetic rows through MemoryStream + watermark + an md5-fold
    // projection (the arithmetic shape of the suite's hash-embed
    // kernels) + memory sink. Its rows/s measures THIS RUN's host speed
    // through exactly the replay machinery the operators use; every
    // floored operator is then gated on the RATIO of its throughput to
    // this one, so a slow/busy host shifts numerator and denominator
    // together and cancels — the failure modes the gate exists for
    // (plan regressions, state blow-ups, accidental O(n²)) shift only
    // the numerator. Measured FIRST, before any operator warms anything.
    rep {
      val rows = (0L until 100000L).map(i => (i, ts((i % 30).toInt), i * 7L))
      val in = MemoryStream[(Long, Timestamp, Long)]
      val q = sink(in.toDF().toDF("id", "ts", "v")
        .withWatermark("ts", "10 minutes")
        .select(col("id"), col("ts"),
                expr("""aggregate(transform(sequence(0, 31),
                          j -> CASE WHEN substring(md5(concat(v, '_', j)),
                                                   1, 1) < '8'
                               THEN 1L ELSE -1L END),
                        0L, (s, x) -> s + x)""").as("sig")),
        CalibrationOp)
      drive(CalibrationOp, rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // ---- corpus inputs --------------------------------------------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val docRows = docs.map { case (id, text) =>
      (id, ts((id % 30).toInt), text)
    }
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS float))"))
      .collect()
      .map(r => (r.getLong(0), ts((r.getLong(0) % 30).toInt),
                 r.getSeq[Float](1).toList)).toSeq

    // exact dedup: corpus + 20% re-crawled texts under fresh ids
    rep {
      val dups = docs.take(docs.size / 5).map { case (id, text) =>
        (id + 10000000L, ts(29), text)
      }
      val rows = docRows ++ dups
      val in = MemoryStream[(Long, Timestamp, String)]
      val q = sink(CorpusStreams.dedupStream(
        in.toDF().toDF("doc_id", "ts", "text")), "sb_dedup")
      drive("sb_dedup", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // multimodal decode+embed: REAL javax.imageio decode per arriving
    // payload (corpus docs pre-encoded to BMP once, outside the replay
    // loop — the stream's work is the decode, not the fixture build)
    locally {
      val payloads = docs.map { case (id, text) =>
        (id, graft.operators.GraftMedia.encodeBmp(
          graft.operators.GraftMedia.payloadRaster(text.getBytes("UTF-8"))))
      }
      rep {
        val in = MemoryStream[(Long, Array[Byte])]
        val q = sink(CorpusStreams.mediaEmbedStream(
          in.toDF().toDF("doc_id", "payload")), "sb_media_embed")
        drive("sb_media_embed", payloads.size, q,
              chunks(payloads, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // BPE segmentation: batch-trained merges folded into one stateless
    // projection over the arriving corpus (the merge table is immutable
    // input — trained once, outside the replay loop)
    locally {
      val merges = graft.operators.GraftBpe.bpeTrain(
        spark.read.parquet(s"$sfDir/documents.parquet"), merges = 8)
        .persist()
      merges.count()
      rep {
        val in = MemoryStream[(Long, String)]
        val q = sink(graft.operators.GraftBpe.bpeSegment(
            in.toDF().toDF("doc_id", "text"), merges)
          .select(col("doc_id"), size(col("bpe_tokens")).as("n")),
          "sb_bpe_segment")
        drive("sb_bpe_segment", docs.size, q,
              chunks(docs.map { case (id, t) => (id, t) }, 4)
                .map(c => () => { in.addData(c); () }))
      }
      merges.unpersist()
    }

    // contamination gate: 8-gram leakage audit against a 100-doc test set
    // (the gram set is immutable input — built once, outside the replay
    // loop; only the stream/sink/state are per-run)
    locally {
      val testGrams = spark.createDataFrame(
          spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
            .select(col("text")).collect().map(_.getString(0)).flatMap { t =>
              val tk = t.trim.split("\\s+")
              tk.sliding(8).filter(_.length == 8).map(g =>
                Tuple1(g.mkString(" "))).toSeq
            }.toSeq.asInstanceOf[Seq[Tuple1[String]]])
        .toDF("__gram")
      rep {
        val in = MemoryStream[(Long, Timestamp, String)]
        val q = sink(CorpusStreams.contaminationGate(
          in.toDF().toDF("doc_id", "ts", "text"), testGrams), "sb_contamination")
        drive("sb_contamination", docRows.size, q,
              chunks(docRows, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // fuzzy contamination gate: arriving docs near-dup-checked against a
    // static 100-doc eval set (stateless band probe; state is only the
    // within-watermark match dedup). Floored at 583 rows/s from the
    // idle round-8 refresh (median 1167).
    locally {
      val testSet = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(100).select("doc_id", "text")
      testSet.persist().count()
      try rep {
        val in = MemoryStream[(Long, Timestamp, String)]
        val q = sink(CorpusStreams.fuzzyContaminationGate(
          in.toDF().toDF("doc_id", "ts", "text"), testSet,
          threshold = 0.7, shingleN = 3), "sb_fuzzy_contamination")
        drive("sb_fuzzy_contamination", docRows.size, q,
              chunks(docRows, 4).map(c => () => { in.addData(c); () }))
      } finally testSet.unpersist(blocking = true)
    }

    // DSIR apply: batch-trained dense weight table folded into a constant
    // array, scoring is one stateless projection (no join/shuffle/state).
    // Floored at 2204 rows/s from the idle round-8 refresh (median
    // 4409 — stateless, so throughput is the gram explode alone).
    locally {
      val ref = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang")
      val weights = graft.operators.CorpusCuration
        .dsirWeights(ref, isTarget = col("lang") === "en")
      rep {
        val in = MemoryStream[(Long, Timestamp, String)]
        val q = sink(CorpusStreams.dsirScoreStream(
          in.toDF().toDF("doc_id", "ts", "text"), weights)
          .select("doc_id", "ts", "n_grams", "dsir_score"), "sb_dsir_score")
        drive("sb_dsir_score", docRows.size, q,
              chunks(docRows, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // Naive Bayes classification gate (stateless model-fold projection,
    // same deployment shape as the DSIR scorer: train in batch, fold the
    // C×B model into a constant, score with zero joins/state)
    locally {
      val ref = spark.read.parquet(s"$sfDir/documents.parquet")
      val nbModel = graft.operators.GraftClassifier.nbTrain(
        ref.filter(col("doc_id") % 5 =!= 0))
      rep {
        val in = MemoryStream[(Long, Timestamp, String)]
        val q = sink(CorpusStreams.nbClassifyStream(
          in.toDF().toDF("doc_id", "ts", "text"), nbModel)
          .select("doc_id", "ts", "n_grams", "pred_label", "nb_score"),
          "sb_nb_classify")
        drive("sb_nb_classify", docRows.size, q,
              chunks(docRows, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // PCA projection (train/apply split: exact gram + driver eigensolve
    // in batch, components folded into constant literals — the stream is
    // one stateless zip_with/aggregate projection, zero joins/state)
    locally {
      val ref = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val gram = graft.operators.GraftSimilarity.gramMatrix(ref, "v", 1024L)
      val (_, comps, mean) =
        graft.operators.GraftPca.components(gram, grid = 1024L, k = 8)
      rep {
        val in = MemoryStream[(Long, Timestamp, List[Double])]
        val q = sink(graft.operators.GraftPca.project(
          in.toDF().toDF("vec_id", "ts", "v"), comps, mean, "v")
          .select("vec_id", "ts", "pc"), "sb_pca_project")
        val dvecs = vecs.map { case (id, t, v) => (id, t, v.map(_.toDouble)) }
        drive("sb_pca_project", dvecs.size, q,
              chunks(dvecs, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // PQ encode (train/apply split: codebook trained in batch, folded
    // into constant flat-centroid literals — the stream is m codegen
    // argmin scans in one stateless projection, zero joins/state)
    locally {
      val ref = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      // the train runs here, outside the timed stream
      val cb = graft.operators.GraftPq.trainPq(ref, m = 8, ksub = 16, iters = 2)
      rep {
        val in = MemoryStream[(Long, Timestamp, List[Double])]
        val q = sink(graft.streaming.CorpusStreams.pqEncodeStream(
          in.toDF().toDF("vec_id", "ts", "embedding"), cb)
          .select("vec_id", "ts", "cw"), "sb_pq_encode")
        val dvecs = vecs.map { case (id, t, v) => (id, t, v.map(_.toDouble)) }
        drive("sb_pq_encode", dvecs.size, q,
              chunks(dvecs, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // MinHash near-dup mining over 8-token shingles (the batch operators'
    // item shape — raw token SETS pair nearly everything in a synthetic
    // corpus with shared vocabulary, which measures the sink, not the op)
    rep {
      val rows = docRows.map { case (id, t, text) =>
        val tk = text.trim.split("\\s+")
        (id, t,
         (if (tk.length >= 8) tk.sliding(8).map(_.mkString(" ")).toList
          else List(tk.mkString(" "))).distinct)
      }
      // uncapped (the honest bands×residents cost) and hot-bucket-capped
      // twin — the r7 mitigation's state/throughput effect, measured
      for (cap <- Seq(Int.MaxValue, 64)) {
        val name = if (cap == Int.MaxValue) "sb_neardup_pairs"
                   else "sb_neardup_pairs_cap64"
        val in = MemoryStream[(Long, Timestamp, List[String])]
        val q = sink(CorpusStreams.nearDupPairStream(
          in.toDF().toDF("doc_id", "ts", "items"), threshold = 0.8,
          horizonMinutes = 60, maxBucketResidents = cap).toDF(), name)
        drive(name, rows.size, q,
              chunks(rows, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // Online component maintenance (r14): the incremental union-find
    // over a verified pair stream — label-change deltas out. Feed: a
    // deterministic forest of 1024-node binary-tree components (heavy
    // label churn: every pair can tighten a subtree's labels), the
    // worst-case emission shape for the delta contract
    def compPairRows = (0 until 20000).map { i =>
      val base = (i / 1024) * 1024
      val j = i - base
      (base + j.toLong, base + (j / 2).toLong, ts(i % 30))
    }.filter(p => p._1 != p._2).sortBy(_._3.getTime)
    rep {
      val pairRows = compPairRows
      val in = MemoryStream[(Long, Long, Timestamp)]
      val q = sink(CorpusStreams.componentStream(
        in.toDF().toDF("a_id", "b_id", "ts"), horizonMinutes = 60).toDF(),
        "sb_components")
      drive("sb_components", pairRows.size, q,
            chunks(pairRows, 4).map(c => () => { in.addData(c); () }))
    }

    // Warm-start twin (r15): seed the maintainer from yesterday's STORED
    // components (batch connectedComponents over the feed's first half),
    // then stream only the second half — the daily-increment serve
    // shape. Throughput covers only the increment; the seeded state is
    // carried from batch one.
    rep {
      val (seedPairs, livePairs) = compPairRows.partition(
        _._3.getTime < ts(15).getTime)
      val snapshot = graft.operators.GraftDedup.connectedComponents(
        seedPairs.map(p => (p._1, p._2)).toDF("a_id", "b_id"))
      val in = MemoryStream[(Long, Long, Timestamp)]
      val q = sink(CorpusStreams.componentStream(
        in.toDF().toDF("a_id", "b_id", "ts"), horizonMinutes = 60,
        initialLabels = Some(snapshot), initialTs = Some(ts(14))).toDF(),
        "sb_components_warm")
      drive("sb_components_warm", livePairs.size, q,
            chunks(livePairs, 4).map(c => () => { in.addData(c); () }))
    }

    // Online perceptual image dedup (r14): real-codec decode → mean
    // hash → banded-Hamming pairing, over the twin-augmented corpus
    // (the mm_ahash_pairs construction — exact re-uploads + same-length
    // perturbations give the stream true pairs to find)
    rep {
      import graft.operators.GraftMedia
      val payloadRows = docRows.flatMap { case (id, t, text) =>
        val base = Seq((id, t,
          GraftMedia.encodeBmp(GraftMedia.payloadRaster(
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
        if (id % 10 == 0)
          base :+ ((id + 1000000L, t, base.head._3))
        else base
      }.sortBy(r => (r._2.getTime, r._1))
      val in = MemoryStream[(Long, Timestamp, Array[Byte])]
      val q = sink(CorpusStreams.hammingPairStream(
        CorpusStreams.imageHashStream(
          in.toDF().toDF("doc_id", "ts", "payload")),
        maxHamming = 6, bands = 4, horizonMinutes = 60).toDF(),
        "sb_hamming")
      drive("sb_hamming", payloadRows.size, q,
            chunks(payloadRows, 4).map(c => () => { in.addData(c); () }))
    }

    // Edit-distance typo-dup mining (r13): positional-prefix gram
    // buckets + banded-DP verify — the alignment-sensitive tier of the
    // streaming dedup matrix. State is (q·d+1) text payloads per long
    // doc within the horizon.
    rep {
      val in = MemoryStream[(Long, Timestamp, String)]
      val q = sink(CorpusStreams.editDistPairStream(
        in.toDF().toDF("doc_id", "ts", "text"), maxDist = 8, q = 3,
        horizonMinutes = 60).toDF(), "sb_editdist")
      drive("sb_editdist", docRows.size, q,
            chunks(docRows, 4).map(c => () => { in.addData(c); () }))
    }

    // SRP embedding near-dup mining — exact and quantized state tiers.
    // Twins planted for 10% of ids (the spec corpora's construction) so
    // the in-bucket verify path runs on real collisions, not only on
    // signature maintenance.
    rep {
      val twins = vecs.filter(_._1 % 10 == 0).map { case (id, t, v) =>
        (id + 10000000L, t,
         v.take(v.size / 2) ::: v.drop(v.size / 2).map(_ * 2f))
      }
      val rows = vecs ++ twins
      for (quant <- Seq(false, true)) {
        val name = if (quant) "sb_srp_pairs_q8" else "sb_srp_pairs"
        val in = MemoryStream[(Long, Timestamp, List[Float])]
        val q = sink(CorpusStreams.srpPairStream(
          in.toDF().toDF("vec_id", "ts", "embedding"), threshold = 0.9,
          horizonMinutes = 60, quantizedState = quant).toDF(), name)
        drive(name, rows.size, q,
              chunks(rows, 4).map(c => () => { in.addData(c); () }))
      }
    }

    // IVF serve: static index, streamed query batches (the index is
    // immutable read-only input — built and persisted ONCE outside the
    // replay loop; each run gets a fresh stream, sink, and streaming state)
    locally {
      import graft.operators.GraftSimilarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val idx = GraftSimilarity.buildIvfIndex(e).persist()
      idx.centroids.count(); idx.assigned.count()
      // ts-ordered feed: the serve stream's 10-min lateness bound means an
      // id-ordered feed would hand batch 2 queries already behind batch
      // 1's watermark — they'd be DROPPED as late and undercount rows_out
      val queries = vecs.filter(_._1 % 10 == 3).sortBy(_._2.getTime)
      try rep {
        val in = MemoryStream[(Long, Timestamp, List[Float])]
        val q = sink(CorpusStreams.ivfServeStream(
          idx, in.toDF().toDF("q_id", "ts", "qv"), k = 5,
          qVecCol = "qv"), "sb_ivf_serve")
        drive("sb_ivf_serve", queries.size, q,
              chunks(queries, 2).map(c => () => { in.addData(c); () }) :+
              // advance the watermark past every query ts so the
              // append-mode top-k aggregation finalizes and emits
              (() => { in.addData(Seq((-1L, ts(600), List(0.1f)))); () }))
      } finally idx.unpersist(blocking = true)
    }

    // Fused hybrid serve (r13): static impact index + IVF index, one
    // union, two bounded stateful aggregations, in-row RRF fusion —
    // the production RAG serving stream
    locally {
      import graft.operators.GraftSimilarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val idx = GraftSimilarity.buildIvfIndex(e).persist()
      idx.centroids.count(); idx.assigned.count()
      val docsStatic = spark.read.parquet(s"$sfDir/documents.parquet")
      val textById = docRows.map(r => r._1 -> r._3).toMap
      val queries = vecs.filter(_._1 % 10 == 3)
        .flatMap { case (id, t, v) =>
          textById.get(id).map(txt =>
            (id, t, txt.trim.split("\\s+").toList, v.map(_.toDouble))) }
        .sortBy(_._2.getTime)
      try {
        rep {
          val in = MemoryStream[(Long, Timestamp, List[String], List[Double])]
          val q = sink(CorpusStreams.hybridServeStream(
            idx, docsStatic, in.toDF().toDF("q_id", "ts", "q_terms", "qv"),
            k = 10, kCand = 30, rrfK = 60, nprobe = 4), "sb_hybrid_serve")
          drive("sb_hybrid_serve", queries.size, q,
                chunks(queries, 2).map(c => () => { in.addData(c); () }) :+
                (() => { in.addData(Seq((-1L, ts(600), List("the"),
                                         List(0.1)))); () }))
        }
        // STORED-impact twin (r14): the same serve off the at-rest
        // impact index — the build (one corpus fold + term-bucketed
        // write) is paid ONCE outside the reps, exactly the deployment
        // amortization the store exists for; the per-query loop is the
        // same two bounded aggregations + in-row fusion
        val storeDir = java.nio.file.Files
          .createTempDirectory("sb_impact_store").toString
        try {
          graft.operators.ImpactObjectStore.rebuild(docsStatic, storeDir)
          val stored = graft.operators.ImpactObjectStore.read(spark, storeDir)
          rep {
            val in = MemoryStream[(Long, Timestamp, List[String], List[Double])]
            val q = sink(CorpusStreams.hybridServeStreamStored(
              idx, stored.impacts,
              in.toDF().toDF("q_id", "ts", "q_terms", "qv"),
              k = 10, kCand = 30, rrfK = 60, nprobe = 4),
              "sb_hybrid_serve_stored")
            drive("sb_hybrid_serve_stored", queries.size, q,
                  chunks(queries, 2).map(c => () => { in.addData(c); () }) :+
                  (() => { in.addData(Seq((-1L, ts(600), List("the"),
                                           List(0.1)))); () }))
          }
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(storeDir))
        // MaxScore-pruned twin (r16, VERDICT r15 missing #3): the same
        // serve with the lexical leg routed through the essential-list
        // cut, on the Zipf-head corpus (the text_bm25_pruned_skew
        // augmentation) with the payoff query shape [rare term,
        // stopword] — candidates come off the rare term's postings
        // only, the stopword's corpus-wide posting mass dies in the
        // per-(query, doc) stage instead of flooding the kCand heap,
        // and the covering guard proves exactness in-stream. The skewed
        // store build is paid once outside the reps, like the stored
        // twin's.
        val skewDir = java.nio.file.Files
          .createTempDirectory("sb_impact_skew").toString
        try {
          graft.operators.ImpactObjectStore.rebuild(
            docsStatic.select(
              col("doc_id"),
              concat(col("text"), lit(" the"),
                     when(col("doc_id") % 5 === 0, lit(" uncommonmark"))
                       .otherwise(lit(""))).as("text")),
            skewDir)
          val skewStored =
            graft.operators.ImpactObjectStore.read(spark, skewDir)
          val prunedQueries = queries.map { case (id, t, _, v) =>
            (id, t, List("uncommonmark", "the"), v) }
          rep {
            val in = MemoryStream[(Long, Timestamp, List[String], List[Double])]
            val q = sink(CorpusStreams.hybridServeStreamPruned(
              idx, skewStored,
              in.toDF().toDF("q_id", "ts", "q_terms", "qv"),
              essential = 1, k = 10, kCand = 30, rrfK = 60, nprobe = 4),
              "sb_hybrid_serve_pruned")
            drive("sb_hybrid_serve_pruned", prunedQueries.size, q,
                  chunks(prunedQueries, 2)
                    .map(c => () => { in.addData(c); () }) :+
                  (() => { in.addData(Seq((-1L, ts(600), List("the"),
                                           List(0.1)))); () }))
          }
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(skewDir))
      } finally idx.unpersist(blocking = true)
    }

    // Diversified serve (r13): the two-stage MMR chain — kCand heap cut,
    // static vector re-attach, bounded per-query fold + greedy — over
    // the same static index/feed shape as sb_ivf_serve
    locally {
      import graft.operators.GraftSimilarity
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val idx = GraftSimilarity.buildIvfIndex(e).persist()
      idx.centroids.count(); idx.assigned.count()
      val queries = vecs.filter(_._1 % 10 == 3).sortBy(_._2.getTime)
      try rep {
        val in = MemoryStream[(Long, Timestamp, List[Float])]
        val q = sink(CorpusStreams.mmrServeStream(
          idx, in.toDF().toDF("q_id", "ts", "qv"), k = 5, kCand = 20,
          lambda = 0.5, qVecCol = "qv"), "sb_mmr_serve")
        drive("sb_mmr_serve", queries.size, q,
              chunks(queries, 2).map(c => () => { in.addData(c); () }) :+
              (() => { in.addData(Seq((-1L, ts(600), List(0.1f)))); () }))
      } finally idx.unpersist(blocking = true)
    }

    // PQ serve: static encoded collection + codebook, streamed query
    // batches — the compressed-tier twin of sb_ivf_serve (quantized-cut
    // and exact-rerank heaps are CHAINED stateful aggregations)
    locally {
      import graft.operators.GraftPq
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val cb = GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2)
      val enc = GraftPq.pqEncode(e, cb).persist()
      enc.count()
      val queries = vecs.filter(_._1 % 10 == 3).sortBy(_._2.getTime)
      try rep {
        val in = MemoryStream[(Long, Timestamp, List[Float])]
        val q = sink(CorpusStreams.pqServeStream(
          cb, enc, e, in.toDF().toDF("q_id", "ts", "qv"), k = 5,
          rerankFactor = 4, qVecCol = "qv"), "sb_pq_serve")
        drive("sb_pq_serve", queries.size, q,
              chunks(queries, 2).map(c => () => { in.addData(c); () }) :+
              (() => { in.addData(Seq((-1L, ts(600), List(0.1f)))); () }))
      } finally { enc.unpersist(); () }
    }

    // Late-interaction serve: static token-level IVF index, streamed
    // (q_id, ts, text) queries — MaxSim as THREE chained stateful
    // aggregations (per-token max, per-doc sum, top-k). Two rows:
    // candCut covering (the r12-comparable unbounded shape) and the
    // DEFAULT bounded cut — the state_bytes delta between them IS the
    // VERDICT r12 #5 measurement (state bounded by construction).
    locally {
      import graft.operators.LateInteraction
      val sbDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      val dt = LateInteraction.hashTokenVectors(sbDocs, dim = 8,
                                                maxTokens = 16).persist()
      val idx = LateInteraction.tokenIndex(dt).persist()
      idx.centroids.count(); idx.assigned.count()
      val qRows = sbDocs.filter(col("doc_id") % 10 === 3)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), ts((r.getLong(0) % 8).toInt),
                   r.getString(1)))
        .sortBy(_._2.getTime).toSeq
      try rep {
        for ((name, cut) <- Seq(("sb_maxsim_serve", Int.MaxValue),
                                ("sb_maxsim_serve_cut", 64))) {
          val in = MemoryStream[(Long, Timestamp, String)]
          val q = sink(CorpusStreams.maxSimServeStream(
            idx, in.toDF().toDF("q_id", "ts", "text"), k = 5, nprobe = 4,
            candCut = cut), name)
          drive(name, qRows.size, q,
                chunks(qRows, 2).map(c => () => { in.addData(c); () }) :+
                (() => { in.addData(Seq((-1L, ts(600), "advance"))); () }))
        }
      } finally { idx.unpersist(); dt.unpersist(); () }
    }

    // IVF streaming ingest into a fresh at-rest store: every micro-batch
    // is one tagged append that publishes a new manifest version via the
    // rename-free commit protocol
    rep {
      import graft.operators.{GraftSimilarity, IvfObjectStore}
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
                expr("transform(embedding, x -> cast(x AS double))").as("v"))
      val dir = java.nio.file.Files
        .createTempDirectory("sb_ivf_ingest_manifest").toString
      try {
        IvfObjectStore.create(spark,
          GraftSimilarity.buildIvfIndex(e.filter(col("vec_id") % 3 === 0)),
          dir)
        val batchRows = vecs.filter(_._1 % 3 != 0).map(v => (v._1, v._3))
        val in = MemoryStream[(Long, List[Float])]
        val q = IvfObjectStore.ingestStream(
            dir, in.toDF().toDF("vec_id", "embedding"), streamId = "sb")
          .option("checkpointLocation", s"$dir/_chk").start()
        try {
          val t0 = System.nanoTime()
          chunks(batchRows, 2).foreach { c =>
            in.addData(c); q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          out += Rec("sb_ivf_ingest_manifest", batchRows.size,
                     IvfObjectStore.read(spark, dir).assigned.count(),
                     sec, 0L, 0L)
          println(s"[streambench] sb_ivf_ingest_manifest done: ${out.last}")
        } finally q.stop()
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }

    // streaming increments into the versioned keep-set store (r15):
    // day-0 table at rest, then micro-batches of mined pairs fold in as
    // tagged manifest increments — the per-batch cost is the resolve
    // scan + the sliver stage + one publish, the store-maintenance leg
    // of online dedup (compact cadence keeps the resolve a pure scan;
    // here deltas accumulate across batches, the honest worst case)
    rep {
      import graft.operators.{GraftDedup, KeepSetStore}
      val dir = java.nio.file.Files
        .createTempDirectory("sb_keepset_ingest").toString
      try {
        // day 0: every 3rd doc stored as singletons; the stream then
        // clusters the rest onto them
        val d0 = docRows.map(_._1).filter(_ % 3 == 0)
        KeepSetStore.create(
          GraftDedup.keepSet(
            d0.toDF("doc_id"),
            Seq.empty[(Long, Long)].toDF("a_id", "b_id")),
          dir)
        // mined pairs: link each non-stored doc to a stored neighbor
        // (constant churn against the stored labels)
        val pairRows = docRows.map(_._1).filter(_ % 3 != 0)
          .map(id => (id, id - id % 3))
        val in = MemoryStream[(Long, Long)]
        val q = KeepSetStore.incrementStream(
            dir, in.toDF().toDF("a_id", "b_id"), streamId = "sb")
          .option("checkpointLocation", s"$dir/_chk").start()
        try {
          val t0 = System.nanoTime()
          chunks(pairRows, 2).foreach { c =>
            in.addData(c); q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          out += Rec("sb_keepset_ingest", pairRows.size,
                     KeepSetStore.read(spark, dir).count(), sec, 0L, 0L)
          println(s"[streambench] sb_keepset_ingest done: ${out.last}")
        } finally q.stop()
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }

    // sequence packing: shard by a stable 8-way key, stream in doc order
    rep {
      val rows = docs.map { case (id, text) =>
        CorpusStreams.PackDoc(s"s${id % 8}", id,
                              text.trim.split("\\s+").length.toLong)
      }
      val in = MemoryStream[CorpusStreams.PackDoc]
      val q = sink(CorpusStreams.packStream(in.toDS(), maxTokens = 2048)
                     .toDF(), "sb_pack")
      drive("sb_pack", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // Streaming fixed-size sampling (r14): 100k rows over 10 strata,
    // 100 reservoir slots each — ids arrive in index order while md5
    // priorities are effectively shuffled, so the reservoir churns the
    // realistic O(n·ln(N/n)) delta volume; state is exactly n slots per
    // stratum by construction (the ceiling pins it)
    rep {
      val rows = (0 until 100000).map(i => (s"s${i % 10}", i.toLong))
      val in = MemoryStream[(String, Long)]
      val q = sink(CorpusStreams.fixedSampleStream(
        in.toDF().toDF("stratum", "doc_id"), n = 100,
        strataCol = Some("stratum")).toDF(), "sb_sample")
      drive("sb_sample", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // ---- event inputs ---------------------------------------------------
    val events = graft.queries.GraftQuery.normalizeTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), col("ts"), col("event_type"), col("value"),
              col("event_id"))
      .orderBy("ts")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
                 r.getDouble(3), r.getLong(4))).toSeq

    // gap sessionization: per-user open-session state, event-time timeout
    rep {
      val rows = events.map(e => EventStreams.Event(e._1, e._2, e._4))
      val in = MemoryStream[EventStreams.Event]
      val q = sink(EventStreams.sessionize(in.toDS()).toDF(), "sb_sessionize")
      drive("sb_sessionize", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // tumbling-window counts: watermarked windowed aggregation
    rep {
      val in = MemoryStream[(Long, Timestamp, String, Double)]
      val q = in.toDF().toDF("user_id", "ts", "event_type", "value")
        .transform(EventStreams.hourlyCounts)
        .writeStream.format("memory").queryName("sb_hourly")
        .outputMode("complete").start()
      val rows = events.map(e => (e._1, e._2, e._3, e._4))
      drive("sb_hourly", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // per-user transition pairs: O(users) single-value state
    rep {
      val rows = events.map(e => EventStreams.TypeStep(e._1, e._2, e._3, e._5))
      val in = MemoryStream[EventStreams.TypeStep]
      val q = sink(EventStreams.transitionStream(in.toDS()).toDF(),
                   "sb_transitions")
      drive("sb_transitions", rows.size, q,
            chunks(rows, 4).map(c => () => { in.addData(c); () }))
    }

    // collapse the per-run Recs to one row per op: median-by-sec Rec plus
    // the [min, med, max] spread ("sec" stays the median so older readers
    // and SCALE.md references keep working)
    def fmt(r: Rec, spread: Seq[Double]): String = {
      val s = spread.sorted
      val med = s(s.size / 2)
      f""""${r.name}":{"rows_in":${r.rowsIn},"rows_out":${r.rowsOut},""" +
      f""""sec":$med%.3f,"sec_spread":[${s.head}%.3f,$med%.3f,${s.last}%.3f],""" +
      f""""runs":${s.size},"rows_per_sec":${r.rowsIn / math.max(med, 1e-9)}%.0f,""" +
      f""""state_rows":${r.stateRows},"state_bytes":${r.stateBytes}}"""
    }
    val collapsed = out.map(_.name).distinct.map { n =>
      val rs = out.filter(_.name == n).sortBy(_.sec)
      (rs(rs.size / 2), rs.map(_.sec).toSeq)
    }
    val json =
      s"""{"metric":"streambench","sf":"$sfDir","runs":$runs,""" +
      s""""ops":{${collapsed.map((fmt _).tupled).mkString(",")}}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT",
                                    "/root/repo/STREAMBENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
                                        json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[streambench] $outPath write failed: ${e.getMessage}")
    }
    println(json)
    spark.stop()

    // regression gate: fail the run if any operator's MEDIAN throughput
    // fell below its floor, or a floored operator didn't run at all.
    // Floors are calibrated on the sf0.1 corpus the driver measures — a
    // run against any other SF dir skips the gate (different input sizes
    // shift every throughput) unless the env explicitly forces it on.
    val gateEnv = sys.env.get("SPARK_GRAFT_STREAMBENCH_GATE")
      .map(_.trim.toLowerCase)
    val gateOn = gateEnv match {
      case Some("off") | Some("0") | Some("false") => false
      case Some("on") | Some("1") | Some("true")   => true
      case _ => sfDir.stripSuffix("/").endsWith("sf0.1")
    }
    if (gateOn) {
      val medSec = collapsed.map { case (r, spread) =>
        val s = spread.sorted
        r.name -> s(s.size / 2)
      }.toMap
      val rowsIn = collapsed.map { case (r, _) => r.name -> r.rowsIn }.toMap
      val state = collapsed.map { case (r, _) =>
        r.name -> r.stateBytes
      }.toMap
      val violations = gateViolations(medSec, rowsIn, state)
      if (violations.nonEmpty) {
        System.err.println(
          s"[streambench] REGRESSION GATE FAILED (${violations.size}):")
        violations.foreach(v => System.err.println(s"[streambench]   $v"))
        sys.exit(1)
      }
      println(s"[streambench] regression gate passed: " +
              s"${relativeFloors.size} relative per-op floors + the " +
              "calibration-scaled aggregate bound held")
    } else println("[streambench] regression gate skipped " +
                   "(non-sf0.1 corpus or disabled via env)")
  }
}
