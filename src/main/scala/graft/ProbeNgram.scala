package graft

import org.apache.spark.sql.functions._

/** Scratch profiler for dedup_ngram_jaccard stage costs (dev tool). */
object ProbeNgram {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("local[32]")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"[probe] docs: ${docs.count()}")
    println("[probe] avg text len: " +
      docs.select(avg(length(col("text")))).first().getDouble(0))

    val tblRaw = docs.repartition(32)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("lang"),
              expr("""array_distinct(transform(sequence(1, length(text) - 4),
                     i -> substring(text, i, 5)))""").as("grams"))
      .withColumn("sig", expr("graft_minhash(grams, 128)"))
      .withColumn("gh", expr("sort_array(transform(grams, x -> xxhash64(x)))"))
      .select("doc_id", "lang", "sig", "gh")

    time("sig+gh compute (count only, no cache)") {
      println("  rows=" + tblRaw.count())
    }
    val tbl = tblRaw.persist()
    time("materialize persist") { tbl.count() }
    println("[probe] cached stats bytes = " +
      tbl.queryExecution.optimizedPlan.stats.sizeInBytes)

    val sigOnly = tbl.select("doc_id", "lang", "sig")
    val b = sigOnly.select(col("doc_id"), col("lang"),
      explode(expr(
        s"""transform(sequence(0, 31),
           b -> struct(b AS band_id,
                       xxhash64(sig[4 * b], sig[4 * b + 1], sig[4 * b + 2], sig[4 * b + 3]) AS band_hash))""")).as("bh"))
      .select(col("doc_id"), col("lang"), col("bh.band_id"), col("bh.band_hash"))
    val cand = b.as("x").join(b.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.lang") === col("y.lang") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    time("raw candidate stream count") { println("  cand=" + cand.count()) }

    val withSig = cand
      .join(broadcast(tbl.select(col("doc_id").as("a_id"), col("sig").as("siga"))), "a_id")
      .join(broadcast(tbl.select(col("doc_id").as("b_id"), col("sig").as("sigb"))), "b_id")
      .filter(expr("graft_sig_agree(siga, sigb) >= 0.55"))
      .select("a_id", "b_id")
      .distinct()
    time("sig prefilter + distinct (broadcast attach)") {
      println("  survivors=" + withSig.count())
    }

    val fin = withSig
      .join(broadcast(tbl.select(col("doc_id").as("a_id"), col("gh").as("ga"))), "a_id")
      .join(broadcast(tbl.select(col("doc_id").as("b_id"), col("gh").as("gb"))), "b_id")
      .withColumn("jaccard", expr("graft_jaccard_sorted(ga, gb)"))
      .filter(col("jaccard") >= 0.75)
    time("exact verify (broadcast gh attach)") { println("  pairs=" + fin.count()) }

    // variant: distinct BEFORE the sig attach — attach cost on unique pairs
    val candU = cand.distinct()
    time("distinct-first: unique pair count") { println("  uniq=" + candU.count()) }
    val withSig2 = candU
      .join(broadcast(tbl.select(col("doc_id").as("a_id"), col("sig").as("siga"))), "a_id")
      .join(broadcast(tbl.select(col("doc_id").as("b_id"), col("sig").as("sigb"))), "b_id")
      .filter(expr("graft_sig_agree(siga, sigb) >= 0.55"))
      .select("a_id", "b_id")
    val fin2 = withSig2
      .join(broadcast(tbl.select(col("doc_id").as("a_id"), col("gh").as("ga"))), "a_id")
      .join(broadcast(tbl.select(col("doc_id").as("b_id"), col("gh").as("gb"))), "b_id")
      .withColumn("jaccard", expr("graft_jaccard_sorted(ga, gb)"))
      .filter(col("jaccard") >= 0.75)
    time("distinct-first: full verify") { println("  pairs=" + fin2.count()) }
    time("current order: full verify AGAIN (hot)") { println("  pairs=" + fin.count()) }
    spark.stop()
  }
}
