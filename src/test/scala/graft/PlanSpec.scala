package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** Plan-quality gates — the 100 TB design assertions. Each test pins a
  * property of the physical plan that must survive refactoring: pushdown,
  * pruning, broadcast selection, partition pruning, shuffle counts.
  *
  * Pin taxonomy (r7 audit, after r6 proved a plan string can lie): pins on
  * NODE STRUCTURE — an Exchange/SortMergeJoin/TakeOrderedAndProject/
  * BroadcastHashJoin being present or absent in the FINALIZED (post-AQE,
  * post-collect where needed) executed plan — describe what physically ran
  * and cannot degenerate at runtime; they stay string/structure asserts.
  * Pins on VALUE-DEPENDENT RUNTIME FILTERS — a dynamicpruning subquery, a
  * bloom might_contain — print the filter EXPRESSION whether or not it
  * prunes anything (r6: `dynamicpruning` printed while every file was
  * read), so each such pin here and in OperatorLibSpec is paired with an
  * EXECUTED metric: scan numFiles for partition pruning (here and
  * OperatorLibSpec's IVF store test), filter/join numOutputRows for the
  * bloom tests (here and OperatorLibSpec's incremental-dedup test).
  */
class PlanSpec extends GraftFunSuite {

  private def planOf(name: String): String =
    GraftSqlBridge.queryExecution(SparkEntry.queries(name)(spark, sf0001))
      .executedPlan.toString

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes))
  }

  test("filters reach the parquet scan (PushedFilters)") {
    val p = planOf("q_filter_topk")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // limit+sort fused into TakeOrderedAndProject (no global sort)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("column pruning: text_stats reads only doc_id and text") {
    val p = planOf("text_stats")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("q5 multi-join broadcasts all dimension tables") {
    val p = planOf("q5_multi_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
  }

  test("LSH verify attaches broadcast while under the size gate") {
    val p = GraftSqlBridge.queryExecution(
      graft.queries.DedupQueries.buildLshPairs(spark, sf0001))
      .executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("LSH verify never broadcasts past the size gate (100 TB path)") {
    val conf = spark.conf
    val prevGate = conf.getOption("spark.graft.broadcastGateBytes")
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.graft.broadcastGateBytes", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.queries.DedupQueries.buildLshPairs(spark, sf0001)
      val p = GraftSqlBridge.queryExecution(df).executedPlan.toString
      assert(!p.contains("BroadcastExchange"),
        s"gate=0 must eliminate every broadcast:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"verify attaches should hash-join without sorting the pair stream:\n$p")
      // semantics are unchanged on the non-broadcast path
      val gatedRows = df.collect().map(_.toString).sorted.toSeq
      conf.unset("spark.graft.broadcastGateBytes")
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      val defRows = graft.queries.DedupQueries.buildLshPairs(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
      assert(gatedRows == defRows)
    } finally {
      prevGate.fold(conf.unset("spark.graft.broadcastGateBytes"))(
        conf.set("spark.graft.broadcastGateBytes", _))
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("partitioned write is partition-pruned on read") {
    // materialize the partitioned layout, then check the pruned scan
    SparkEntry.queries("src_partitioned_parquet")(spark, sf0001).collect()
    val root = "/tmp/graft_io/sf0.001/lineitem_part"
    val pruned = spark.read.parquet(root)
      .filter(col("l_returnflag") === "R")
    pruned.collect()
    val p = GraftSqlBridge.queryExecution(pruned).executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"), p)
    // executed-metric pair for the string pin: the scan must READ only
    // the R partition's files, strictly fewer than the layout holds
    val scans = nodes(GraftSqlBridge.queryExecution(pruned).executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.metrics("numFiles").value).max
    val totalFiles = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(root), Array("parquet"), true).size
    val rDirFiles = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"$root/l_returnflag=R"),
                 Array("parquet"), true).size
    assert(filesRead == rDirFiles && filesRead < totalFiles,
      s"read $filesRead files; R holds $rDirFiles of $totalFiles")
  }

  test("aggregations are partial/final (map-side combine present)") {
    val p = planOf("q1_agg")
    assert(p.contains("partial_"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"q1_agg should shuffle once (+AQE read), got:\n$p")
  }

  test("events pipeline shuffles once for the windowed aggregation") {
    val p = planOf("events_hourly")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("sliding windows aggregate with ONE shuffle (map-side window expansion)") {
    val p = planOf("events_sliding")
    assert(p.contains("partial_count"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("LATERAL subquery decorrelates — no nested-loop join in the plan") {
    val p = planOf("q_lateral")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral should decorrelate to an equi-join:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Spark injects a bloom filter built from the selective (dimension)
    // side as a might_contain() predicate on the fact scan — rows that
    // can't join are dropped BEFORE the shuffle. At 100 TB this is the
    // difference between shuffling the whole fact table and shuffling the
    // matching fraction.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
                   "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // test-sized scans are below the default application-side threshold
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
      val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf001/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      j.collect()
      val p = GraftSqlBridge.queryExecution(j).executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n$p")
      // ...and certify the filter EXECUTED as a filter, not just printed
      // (the r6 lesson): the might_contain FilterExec's output rows must
      // be a fraction of the full fact table — the selective dim
      // (o_totalprice > 400000) keeps ~2% of orders, so a bloom that
      // prunes nothing would pass ~100% of lineitem through
      val bloomOut = nodes(GraftSqlBridge.queryExecution(j).executedPlan)
        .collect {
          case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("might_contain") =>
              f.metrics("numOutputRows").value
        }
      assert(bloomOut.nonEmpty, "no might_contain FilterExec executed")
      val factRows = li.count()
      assert(bloomOut.min < factRows / 2,
        s"bloom passed ${bloomOut.min} of $factRows fact rows — " +
        "the runtime filter did not actually prune")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fixed-size hash sample plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("sample_fixed_size")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      s"must not range-shuffle the corpus for a top-n:\n$p")
  }

  test("contamination audit plans as semi joins, never a cross product") {
    val p = planOf("pipeline_contamination")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the hashed tier must never BUILD the gram string: the join key is
    // xxhash64 over the n-token slice, so no concat survives into the plan
    assert(p.contains("xxhash64(slice("),
      s"gram keys must hash token slices directly:\n$p")
    assert(!p.contains("concat_ws"),
      s"no gram string may be materialized on the hashed tier:\n$p")
  }

  test("SRP pair mining joins on (band, bucket) — no cross product, " +
       "no vectors through the candidate shuffle") {
    val p = planOf("dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct"),
      s"LSH candidate generation must be an equi-join:\n$p")
    // nested-loop joins may appear ONLY as the 1-row max-aggregate offset
    // attach of the twin augmentation (constant join keys fold away, so a
    // 1-row broadcast attach always plans as BNLJ) — never pairing corpus
    // rows against corpus rows
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val offsetAttaches = """functions=\[max\(vec_id""".r.findAllIn(p).size
    assert(bnlj == offsetAttaches,
      s"$bnlj nested-loop joins vs $offsetAttaches 1-row offset attaches:\n$p")
    assert(p.contains("band_id"), s"candidates must join on the band key:\n$p")
    // the exact-verify attach re-joins vectors onto the surviving pair
    // stream; the candidate join itself carries only (id, band, bucket)
    assert(p.contains("graft_srp_sig"), p)
  }

  // (AQE skew-join splitting is pinned by SkewSpec; bucketed co-location at
  // spec level by BucketingSpec — this test additionally pins the ORACLED
  // catalog query's external-path tables and the bucket-pruned scan marker.)
  test("bucketed tables sort-merge join with ZERO exchanges in the join subtree") {
    // materialize the bucketed layout (also registers the tables)
    SparkEntry.queries("src_bucketed_join")(spark, sf0001).collect()
    val join = spark.table("g_lineitem_b").hint("MERGE")
      .join(spark.table("g_orders_b"),
            col("l_orderkey") === col("o_orderkey"))
    join.collect() // finalize AQE
    val p = GraftSqlBridge.queryExecution(join).executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("IVF assign is exchange-free: corpus rows never hash-shuffle " +
       "between the scan and their cell ids; a Lloyd build's only hash " +
       "exchanges are the per-round centroid accumulations") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v"))
    // plain build (fraction pinned so no count-agg sidecar muddies the pin)
    // an AQE executedPlan prints Final AND Initial sections — count the
    // final one only or every exchange double-counts
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      GraftSqlBridge.queryExecution(df).executedPlan.toString
        .split("== Initial Plan ==").head
    val idx = graft.operators.GraftSimilarity.buildIvfIndex(e, Some(0.1))
    idx.assigned.collect() // finalize AQE
    val p = finalPlan(idx.assigned)
    assert(!p.contains("Exchange hashpartitioning"),
      s"assign must not hash-shuffle the corpus (r8 verdict item 2):\n$p")
    // Lloyd-refined build: the ONLY hash exchanges are the √N·dim
    // centroid accumulations — one per round plus the final assign's none
    val refined = graft.operators.GraftSimilarity
      .buildIvfIndex(e, Some(0.1), refineIters = 2)
    refined.assigned.collect()
    val rp = finalPlan(refined.assigned)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(rp).size
    assert(hashEx <= 2,
      s"a 2-round Lloyd build may hash-exchange only the per-round " +
      s"centroid accumulators (≤2), got $hashEx:\n$rp")
    assert(!rp.contains("hashpartitioning(n_id"),
      s"no per-vector exchange anywhere in the refined build:\n$rp")
  }

  test("sequence packing shuffles ONCE (on the shard key), never globally") {
    val p = planOf("pipeline_sequence_pack")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("hashpartitioning(lang"),
      s"the one shuffle must key on the shard column:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"sharded packing must not plan a global sort:\n$p")
  }

  test("chunk windows are a pure map: zero exchanges, pruned scan") {
    val p = planOf("text_chunk_windows")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
           !read.contains("lang"), read)
  }

  test("BM25 and weighted sample take top-k via TakeOrderedAndProject, " +
       "not a global sort") {
    val bm25 = planOf("text_bm25_topk")
    assert(bm25.contains("TakeOrderedAndProject"), bm25)
    // the df attach never shuffles the token stream: the df and corpus
    // stats fold in as literals, so no join is left and the only
    // exchanges are the two score aggregates' (tf, then per-document)
    assert(!bm25.contains("SortMergeJoin") && !bm25.contains("Join"),
      s"the df attach must not join the token stream:\n$bm25")
    val exchanges = bm25.linesIterator.filter(_.contains("Exchange"))
      .toSeq
    assert(exchanges.size == 2 &&
           exchanges.forall(_.contains("Exchange hashpartitioning(")),
      s"only the score aggregates may exchange:\n$bm25")
    val ws = planOf("sample_weighted")
    assert(ws.contains("TakeOrderedAndProject"), ws)
    assert(!ws.contains("rangepartitioning"),
      s"weighted sample must not global-sort:\n$ws")
  }

  test("LM perplexity: gated model attach, no global sort, pruned scan") {
    val p = planOf("text_lm_perplexity")
    // model attach is size-gated: broadcast at this scale (vocab is tiny)
    assert(p.contains("BroadcastHashJoin"),
      s"model attach should broadcast under the gate:\n$p")
    // the only sort is the per-group rank window, never a global one
    assert(!p.contains("rangepartitioning"),
      s"no global sort in perplexity ranking:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
           read.contains("lang") && !read.contains("source"), read)
  }

  test("per-group sample ranks via WindowGroupLimit; burst debounce " +
       "shuffles once") {
    val sg = planOf("sample_per_group")
    assert(sg.contains("WindowGroupLimit"),
      s"rank<=n must partial-top-k before the exchange:\n$sg")
    val db = planOf("events_dedup_burst")
    val exchanges = db.linesIterator.count(_.contains("Exchange hash"))
    assert(exchanges <= 2, // lag window + final small agg, nothing else
      s"burst debounce should shuffle at most twice:\n$db")
  }

  test("substring scrub: coverage anti join is equi-keyed, no nested loop") {
    val p = planOf("text_scrub_repeats")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"coverage must join on the doc id, not pair tokens with spans:\n$p")
  }

  test("data mixture: per-source cuts broadcast, corpus never re-shuffled") {
    val p = planOf("pipeline_data_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"cut table attach should broadcast under the gate:\n$p")
    // the corpus-side stream reaches the filter via the broadcast attach
    // only — no Exchange between the scan and the route filter. The plan's
    // exchanges belong to the per-source aggregations (skinny) and the
    // final groupBy, never a re-partition of the document stream itself.
    assert(!p.contains("SortMergeJoin"),
      s"mixture must not sort-merge the corpus:\n$p")
  }

  test("edit-distance join: prefix selection is a WindowGroupLimit " +
       "(partial top-(qd+1) below the exchange), never a cartesian " +
       "pair space; verify runs the banded levenshtein in the join") {
    val p = planOf("dedup_editdist_pairs")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"the pair space must come from the gram join, not a product:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rarest-gram prefix cut should push a partial group limit:\n$p")
    assert(p.contains("levenshtein"),
      s"verify must run the banded levenshtein in-plan:\n$p")
  }

  test("b1 stored serve: survivor fetch pushes the literal n_id set; " +
       "MMR tiers keep the greedy out of the shuffle (one aggregate per " +
       "query, no product joins on the served tier)") {
    val b1 = planOf("ann_ivf_stored_b1")
    assert(b1.contains("PushedFilters: [In(n_id"),
      s"b1 survivor fetch must push the literal id set to parquet:\n$b1")
    val mmrIvf = planOf("ann_mmr_ivf")
    // the only nested-loop in the served tier is the folded-centroid
    // probe attach (|Q| × one array row); the corpus side must come in
    // through the DPP-pruned cell scan, never a product
    assert(!mmrIvf.contains("CartesianProduct"),
      s"the served MMR tier must never product-join the corpus:\n$mmrIvf")
    assert(mmrIvf.contains("dynamicpruning"),
      s"the candidate scan must carry the DPP cell prune:\n$mmrIvf")
    // the greedy runs inside the per-query aggregate's result projection
    // (graft_mmr over collect_list — not printed by the plan summary);
    // what the structure must show is ONE bounded fold per query and the
    // explode back to rows, with no post-aggregate shuffle
    assert(mmrIvf.contains("ObjectHashAggregate") &&
           mmrIvf.contains("posexplode"),
      s"MMR must fold candidates per query and explode selections:\n$mmrIvf")
  }
}
