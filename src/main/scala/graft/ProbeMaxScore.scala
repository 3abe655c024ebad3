package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.ImpactObjectStore
import graft.queries.GraftQuery.reusedStore

/** MaxScore payoff probe (VERDICT r14 missing #3): measures, on the
  * Zipf-head bench fixture ([[graft.queries.TextQueries.skewDocs]] — the
  * stopword-in-every-doc / rare-discriminative-term augmentation of the
  * documents table), the POSTING-ROWS-TRAVERSED and serve-time gap
  * between the exact stored serve and the MaxScore-pruned serve, at
  * whatever scale `SPARK_GRAFT_SF_DIR` points to. The counters are the
  * operator's own frame counts — exactly how ImpactIndexSpec counts them
  * on its constructed skew corpus — surfaced from the BENCH fixture so
  * SCALE.md can cite the payoff, not just the overhead floor. Verifies
  * pruned ≡ stored output before reporting. Prints one JSON line.
  *
  *   runMain graft.ProbeMaxScore [sfDir | synthetic:<nDocs>]
  *
  * `synthetic:<nDocs>` (VERDICT r15 missing #2 — the wall-clock
  * crossover): the bench corpora top out at ~90k postings per stopword,
  * where the pruned serve's fixed cost (per-term bounds collect + the
  * candidate semi-join build) dwarfs the saved aggregation. This mode
  * builds a range-derived corpus whose posting lists are realistically
  * LONG — 'the' in every doc (df = N), 'spark' in every 2nd, the
  * discriminative 'uncommonmark' in every 50th — so the quantity
  * MaxScore cuts (grouped/shuffled posting rows: Σ posting lengths →
  * candidates × terms) dominates the clock and `pruned_sec <
  * stored_sec` becomes measurable, not extrapolated. Store built once
  * under /tmp/graft_io and reused.
  */
object ProbeMaxScore {

  private def syntheticIndex(spark: SparkSession, n: Long)
      : graft.operators.ImpactIndex.StoredImpacts =
    ImpactObjectStore.read(spark, reusedStore(spark, s"maxscore_synth_$n",
                                              "impact_store",
                                              ImpactObjectStore) { out =>
      // deterministic Zipf-head corpus: dl varies with id so BM25 length
      // normalization actually discriminates; every term's tf is 1
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat(
          lit("the filler"),
          when(col("id") % 2 === 0, lit(" spark")).otherwise(lit("")),
          when(col("id") % 50 === 0, lit(" uncommonmark")).otherwise(lit("")),
          when(col("id") % 3 === 0, lit(" pad0 pad1")).otherwise(lit("")),
          when(col("id") % 7 === 0, lit(" pad2")).otherwise(lit(""))
        ).as("text"))
      ImpactObjectStore.rebuild(docs, out)
    })

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.ImpactIndex
    val synth = """synthetic:(\d+)""".r
    val idx = sfDir match {
      case synth(n) => syntheticIndex(spark, n.toLong)
      case _ => graft.queries.TextQueries.skewImpactStore(spark, sfDir)
    }
    val terms = Seq("uncommonmark", "spark", "the")
    // traversal, counted the way the operator builds its frames: the
    // exact serve aggregates EVERY posting of the query terms; the
    // pruned serve only the essential-list candidates' postings
    val allPostings = idx.impactsFor(terms).count()
    val cand = idx.impactsFor(Seq("uncommonmark"))
      .select(col("doc_id")).distinct()
    val prunedPostings = idx.impactsFor(terms)
      .join(cand, Seq("doc_id"), "left_semi").count()
    // answers must agree before any speed claim
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    val stored = key(ImpactIndex.bm25TopKStored(idx, terms, k = 5))
    val pruned = key(ImpactIndex.bm25TopKPruned(idx, terms, k = 5,
                                                essential = 1))
    require(stored == pruned && stored.nonEmpty,
      s"pruned serve diverged: stored=$stored pruned=$pruned")
    def medianSec(body: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    val storedSec = medianSec(
      ImpactIndex.bm25TopKStored(idx, terms, k = 5)
        .write.format("noop").mode("overwrite").save())
    val prunedSec = medianSec(
      ImpactIndex.bm25TopKPruned(idx, terms, k = 5, essential = 1)
        .write.format("noop").mode("overwrite").save())
    println(f"""{"metric":"maxscore_payoff","sf":"$sfDir",""" +
      f""""query_terms":["uncommonmark","spark","the"],"k":5,""" +
      f""""essential":1,"postings_stored":$allPostings,""" +
      f""""postings_pruned":$prunedPostings,""" +
      f""""reduction_x":${allPostings.toDouble / prunedPostings}%.1f,""" +
      f""""stored_sec":$storedSec%.3f,"pruned_sec":$prunedSec%.3f}""")
    spark.stop()
  }
}
