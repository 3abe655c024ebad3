package graft

import org.apache.spark.sql.functions._

/** Measurement probe (optimization guide §1, r17): split ONE hybrid
  * store-lifecycle row into its phases — index build+write, store
  * read-back, serve-plan construction (collects/counts included), serve
  * execution — so the per-phase cost is attributable where ProbeJobs'
  * job list (40+ anonymous sub-second jobs) is not. Measurement tooling
  * only; no query code.
  *
  * Usage: runMain graft.ProbePhases [reps]
  *   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (ProbeJobs defaults)
  */
object ProbePhases {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filterNot(_.forall(_.isDigit))
      .getOrElse("hybrid")
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    import graft.operators.{GraftSimilarity, HybridRetrieval, IvfObjectStore}
    import graft.queries.GraftQuery.freshStore

    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    if (mode == "pq") {
      // ann_ivf_pq_manifest phase split: where do its ~4 s go — train
      // chain, store write, or ADC serve? (VERDICT r16 next #5)
      import graft.operators.GraftPq
      (1 to reps).foreach { rep =>
        println(s"== ann_ivf_pq_manifest phases, rep $rep")
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"),
                  col("embedding").cast("array<double>").as("v"))
        val qb = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val cb = phase("trainPq") {
          GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2)
        }
        val idx = phase("buildIvfIndex (lazy)") {
          graft.operators.GraftSimilarity.buildIvfIndex(e)
        }
        val out = freshStore(spark, sfDir, "probe_pq_store") { o =>
          phase("IvfObjectStore.create(pq)") {
            IvfObjectStore.create(spark, idx, o, pq = Some(cb))
          }
        }
        val served = phase("serve construction") {
          GraftPq.ivfPqTopKWithCw(IvfObjectStore.read(spark, out),
                                  GraftPq.readPqCodebook(spark, out), qb,
                                  k = 5, nprobe = 4, rerankFactor = 4)
        }
        phase("serve execution (noop)") {
          served.write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
        System.gc()
      }
      spark.stop()
      return
    }

    if (mode == "keepset") {
      // dedup_keepset_delete phase split: pair mining vs closure vs
      // store lifecycle (create/increment/delete/read).
      import graft.operators.{GraftDedup, KeepSetStore}
      import graft.queries.DedupQueries
      (1 to reps).foreach { rep =>
        println(s"== dedup_keepset_delete phases, rep $rep")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val pairs = phase("minhashLshPairs (leaf)") {
          DedupQueries.minhashLshPairs(spark, sfDir)
        }
        phase("pairs materialize (count)") { pairs.count() }
        def isOld(c: org.apache.spark.sql.Column) =
          substring(md5(c.cast("string")), 1, 1) < "8"
        val out = java.nio.file.Files
          .createTempDirectory("probe_keepset").toString
        val ks = phase("keepSet(old) construct") {
          GraftDedup.keepSet(
            docs.filter(isOld(col("doc_id"))),
            pairs.filter(isOld(col("a_id")) && isOld(col("b_id"))))
        }
        phase("KeepSetStore.create") { KeepSetStore.create(ks, out) }
        phase("KeepSetStore.increment") {
          KeepSetStore.increment(spark, out,
            newIds = docs.filter(!isOld(col("doc_id"))),
            newPairs = pairs.filter(!(isOld(col("a_id")) &&
                                      isOld(col("b_id")))),
            batchTag = Some("increment1"))
        }
        phase("KeepSetStore.delete") {
          KeepSetStore.delete(spark, out,
            docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
            batchTag = Some("takedown1"))
        }
        phase("read + exec (noop)") {
          KeepSetStore.read(spark, out)
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
        System.gc()
      }
      spark.stop()
      return
    }

    if (mode == "hybrid_b1" || mode == "hybrid_pq") {
      // r17: decompose the two heaviest hybrid rows (VERDICT r16 next #2's
      // "Done" bar is isolated medians <= 4 s) — which phase holds the
      // remaining seconds after the §3.4 persist wave: store build+write,
      // lexical leg, semantic leg, or fusion?
      import graft.operators.{GraftPq, GraftText}
      (1 to reps).foreach { rep =>
        println(s"== $mode phases, rep $rep")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"),
                  expr("transform(embedding, x -> cast(x AS double))").as("v"))
        val queries = docs.filter(col("doc_id") < 10)
          .join(e, col("doc_id") === col("vec_id"))
          .select(col("doc_id").as("q_id"),
                  GraftText.whitespaceTokens(col("text")).as("q_terms"),
                  col("v").as("qv"))
        if (mode == "hybrid_b1") {
          val idx = phase("buildIvfIndex (lazy)") {
            GraftSimilarity.buildIvfIndex(e)
          }
          val out = freshStore(spark, sfDir, s"probe_$mode") { o =>
            phase("IvfObjectStore.create(b1)") {
              IvfObjectStore.create(spark, idx, o, b1 = true)
            }
          }
          val stored = phase("IvfObjectStore.read") {
            IvfObjectStore.read(spark, out)
          }
          val sem = phase("sem leg construction") {
            GraftSimilarity.ivfTopKWithB1(stored,
              queries.select(col("q_id"), col("qv")), 30, 4, 4)
          }
          phase("sem leg exec (noop)") {
            sem.write.format("noop").mode("overwrite").save()
          }
          val served = phase("serve construction") {
            HybridRetrieval.hybridTopKWithB1(stored, docs, queries,
              k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
          }
          phase("serve execution (noop)") {
            served.write.format("noop").mode("overwrite").save()
          }
        } else {
          val idx = phase("buildIvfIndex (lazy)") {
            GraftSimilarity.buildIvfIndex(e)
          }
          val cb = phase("trainPq") {
            GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2)
          }
          val out = freshStore(spark, sfDir, s"probe_$mode") { o =>
            phase("IvfObjectStore.create(pq)") {
              IvfObjectStore.create(spark, idx, o, pq = Some(cb))
            }
          }
          val served = phase("serve construction") {
            HybridRetrieval.hybridTopKWithPq(IvfObjectStore.read(spark, out),
              GraftPq.readPqCodebook(spark, out), docs, queries,
              k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
          }
          phase("serve execution (noop)") {
            served.write.format("noop").mode("overwrite").save()
          }
        }
        spark.catalog.clearCache()
        System.gc()
      }
      spark.stop()
      return
    }

    if (mode == "bm25del") {
      // r17: text_bm25_delete_manifest — two full impact-store rebuilds
      // per run by contract (masked vs rebuilt comparison row). Which
      // half holds the ~5 s: the rebuild writes, the tombstone commit, or
      // the two serves?
      import graft.operators.{ImpactIndex, ImpactObjectStore}
      (1 to reps).foreach { rep =>
        println(s"== text_bm25_delete_manifest phases, rep $rep")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val out = freshStore(spark, sfDir, "probe_bm25del") { o =>
          phase("rebuild #1 (full)") { ImpactObjectStore.rebuild(docs, o) }
        }
        phase("delete (tombstone)") {
          ImpactObjectStore.delete(spark, out,
            docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
            batchTag = Some("takedown7"))
        }
        val masked = phase("serve masked (construct)") {
          ImpactIndex.bm25TopKStored(ImpactObjectStore.read(spark, out),
            queryTerms = Seq("spark", "vector", "join"), k = 20)
        }
        phase("serve masked (noop)") {
          masked.write.format("noop").mode("overwrite").save()
        }
        phase("rebuild #2 (filtered)") {
          ImpactObjectStore.rebuild(docs.filter(col("doc_id") % 7 =!= 3), out)
        }
        val rebuilt = phase("serve rebuilt (construct)") {
          ImpactIndex.bm25TopKStored(ImpactObjectStore.read(spark, out),
            queryTerms = Seq("spark", "vector", "join"), k = 20)
        }
        phase("serve rebuilt (noop)") {
          rebuilt.write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
        System.gc()
      }
      spark.stop()
      return
    }

    if (mode == "bm25build") {
      // VERDICT r16 next #4: the BUILD-path (ungated bm25Impacts) plan —
      // the serve-path dumps can't show the fanOut/ReuseExchange the
      // index build uses. Writes plans/r17/text_bm25_build_plan.txt.
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val imp = graft.operators.TextRank.bm25Impacts(
        docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", 1.2, 0.75, termGate = None)
      val qe = org.apache.spark.sql.GraftSqlBridge.queryExecution(imp)
      val txt = qe.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("plans/r17/text_bm25_build_plan.txt"),
        txt + "\n")
      println("WROTE plans/r17/text_bm25_build_plan.txt")
      phase("bm25 build exec (collect)") { imp.collect() }
      // the finalized adaptive plan is where runtime exchange reuse
      // shows (a static dump of an unexecuted AQE plan prints the
      // duplicate subtrees even when execution reuses one)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          "plans/r17/text_bm25_build_plan_executed.txt"),
        qe.executedPlan.toString + "\n")
      println("WROTE plans/r17/text_bm25_build_plan_executed.txt")
      spark.stop()
      return
    }

    (1 to reps).foreach { rep =>
      println(s"== ann_hybrid_q8 phases, rep $rep")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val queries = docs.filter(col("doc_id") < 10)
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("q_id"),
                graft.operators.GraftText.whitespaceTokens(col("text"))
                  .as("q_terms"),
                col("v").as("qv"))
      val idx = phase("buildIvfIndex (lazy)") {
        GraftSimilarity.buildIvfIndex(e)
      }
      val out = freshStore(spark, sfDir, "hybrid_q8_store") { o =>
        phase("IvfObjectStore.create") { IvfObjectStore.create(spark, idx, o) }
      }
      val stored = phase("IvfObjectStore.read") {
        IvfObjectStore.read(spark, out)
      }
      phase("q.count()") { queries.count() }
      val sem = phase("sem leg construction") {
        GraftSimilarity.ivfTopKWithQ8(stored,
          queries.select(col("q_id"), col("qv")), k = 30,
          nprobe = 4, rerankFactor = 4)
      }
      phase("sem leg exec (noop)") {
        sem.write.format("noop").mode("overwrite").save()
      }
      val served = phase("serve plan construction") {
        HybridRetrieval.hybridTopKWithQ8(
          stored, docs, queries,
          k = 10, kCand = 30, rrfK = 60, nprobe = 4, rerankFactor = 4)
      }
      phase("serve execution (noop)") {
        served.write.format("noop").mode("overwrite").save()
      }
      // lexical-shape A/B: tokenize+explode+tf fused with the scan (the
      // gated serve path today) vs fanned to session width first
      val qset = Seq("spark", "vector", "join", "the", "a", "data")
      def tfShape(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"),
                graft.operators.GraftText.whitespaceTokens(col("text"))
                  .as("__tk"))
        .select(col("doc_id"), size(col("__tk")).as("__dl"),
                explode(col("__tk")).as("__term"))
        .filter(col("__term").isin(qset: _*))
        .groupBy(col("doc_id"), col("__term"))
        .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
      phase("lex-shape fused (noop)") {
        tfShape(docs).write.format("noop").mode("overwrite").save()
      }
      phase("lex-shape fanned (noop)") {
        tfShape(docs.repartition(32))
          .write.format("noop").mode("overwrite").save()
      }
      // queries-subtree reuse: how much does one evaluation of the
      // docs⋈e minibatch derivation cost (it runs several times per
      // serve today)?
      phase("queries eval (noop)") {
        queries.write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
