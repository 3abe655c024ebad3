package graft

/** Regenerates PLANS.md — formatted physical plans of headline queries, the
  * plan-quality record backing SURVEY §8 / PlanSpec.
  * Usage: `sbt "runMain graft.PlanDump"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[8]")
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q1_agg", "q_filter_topk", "q5_multi_join",
                    "dedup_minhash_lsh", "ann_ivf_topk", "events_sessionize",
                    "sample_bernoulli", "events_asof_join", "events_range_join",
                    "text_vocab_tfidf", "dedup_canonical", "src_bucketed_join",
                    "q_percentile_exact", "q_lateral", "events_sliding",
                    "pipeline_contamination", "sample_fixed_size",
                    "ann_quantized_topk", "dedup_incremental",
                    "pipeline_sequence_pack", "text_bm25_topk",
                    "text_chunk_windows", "sample_weighted",
                    "dedup_semantic", "dedup_prefix",
                    "text_lm_perplexity", "pipeline_data_mixture",
                    "pipeline_curriculum", "sample_per_group",
                    "events_dedup_burst", "ann_ivf_kmeans",
                    "text_scrub_repeats", "events_session_window",
                    "pipeline_epoch_shuffle", "text_collocations",
                    "events_retention", "events_anomaly",
                    "pipeline_quality_report", "q_recursive_cte",
                    "q_variant", "src_zorder_layout",
                    "pipeline_corpus_upsert", "events_transitions",
                    "dedup_embedding_cosine", "ann_ivf_append",
                    "ann_ivf_coarse", "dedup_cdc_chunks",
                    "dedup_semantic_cells", "pipeline_decontaminate_fuzzy",
                    "dedup_substring_keepfirst", "text_gopher_quality",
                    "pipeline_dsir_select", "text_normalize_nfc",
                    "dedup_source_overlap_exact", "mm_resize",
                    "ann_ivf_stored_manifest", "text_bpe_train",
                    "text_bpe_segment", "pipeline_nb_classify",
                    "pipeline_embed_select", "pipeline_corpus_diff",
                    "text_winnow_fingerprint", "dedup_winnow_pairs",
                    "dedup_neardup_clusters", "pipeline_hard_negatives",
                    "embed_gram_matrix", "ann_recall_eval",
                    "pipeline_split_cluster_safe",
                    "ann_hybrid_rrf", "ann_hybrid_ivf",
                    "ann_recall_sweep", "ann_ivf_stored_q8",
                    "ann_pq_adc", "ann_ivf_pq",
                    "ann_ivf_pq_manifest", "ann_tier_recall",
                    "text_heavy_hitters",
                    // r12: the most expensive bench row finally pinned
                    // (r11 verdict #1), the delete lifecycle, the budget
                    // sweep, hybrid over PQ
                    "pipeline_corpus_curation",
                    "ann_ivf_delete_manifest", "ann_pq_budget_sweep",
                    "ann_hybrid_pq",
                    // r12: the int4 rung of the at-rest ladder; link
                    // centrality (one GraftGraphIterate over its inputs)
                    "ann_ivf_stored_q4", "graph_pagerank",
                    // r12: metadata-filtered serve — the label predicate
                    // must show in PushedFilters beside the DPP cell prune
                    "ann_ivf_filtered",
                    // r12: the MaxSim contraction (three partial-agg
                    // stages, broadcast query-token side)
                    "ann_maxsim",
                    // r13 (VERDICT r12 #4): the six uncovered rows — the
                    // remaining centrality shapes, the filtered fusion's
                    // PushedFilters+DPP composition on both rungs, the
                    // hybrid q8 fusion, the MaxSim serving contraction
                    "graph_hits", "graph_ppr", "graph_template_rank",
                    "ann_hybrid_filtered", "ann_hybrid_q8",
                    "ann_maxsim_ivf",
                    // r13 new rows: the stored MaxSim serve (DPP over the
                    // token cells), dangling-mass PageRank, filtered q8
                    "ann_maxsim_stored", "graph_pagerank_dangling",
                    "ann_hybrid_filtered_q8",
                    // r13 second batch: the int4 fusion rung, the
                    // filtered late-interaction serve, and the BM25 ⊕
                    // MaxSim fusion
                    "ann_hybrid_q4", "ann_maxsim_filtered",
                    "ann_hybrid_maxsim",
                    // r13 third batch: the 1-bit rung (stored serve +
                    // brute Hamming twin), the edit-distance prefix-
                    // filter join, and the MMR diversification on both
                    // candidate tiers
                    "ann_ivf_stored_b1", "ann_b1_hamming_topk",
                    "dedup_editdist_pairs", "ann_mmr_topk", "ann_mmr_ivf",
                    "text_jw_linkage", "ann_hybrid_mmr", "ann_hybrid_b1",
                    // r13 fifth batch: LPA communities, NDCG eval, the
                    // filtered diversified serve
                    "graph_lpa_communities", "ann_ndcg_eval",
                    "ann_mmr_filtered", "ann_mrr_eval",
                    // r14: the at-rest impact index family (the stored
                    // serve must show __bkt PartitionFilters; the pruned
                    // serve adds the candidate semi-join + covering
                    // guard), stored-lexical fusion, incremental
                    // keep-set (contracted-sliver closure + gated
                    // remap), warm-start PageRank (seeded state join)
                    "text_bm25_pruned",
                    "text_bm25_stored_manifest", "text_bm25_pruned_skew",
                    "ann_hybrid_impact_manifest",
                    "dedup_keepset_incremental", "dedup_keepset_stored",
                    "graph_pagerank_warm",
                    // r14: perceptual image/audio near-dup (banded-
                    // Hamming join over real-codec signatures)
                    "mm_ahash_pairs", "mm_audio_dedup", "mm_video_dedup",
                    // r16: lexical takedown (tombstone-masked serve must
                    // keep __bkt PartitionFilters under the anti join)
                    // and the everything-at-rest RAG serve (one plan:
                    // __bkt bucket pruning on the impact scan + the
                    // filtered q8 cut off the manifest cells + the
                    // fold/explode MMR tail)
                    "text_bm25_delete_manifest", "ann_serve_production",
                    // r16: keep-set takedown (tombstone anti join must
                    // stay an O(ids) broadcast below the resolution)
                    "dedup_keepset_delete")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.PlanDump\"` (sf0.001 inputs).\n")
    sb.append("Properties pinned by PlanSpec: pushdown, pruning, broadcast\n")
    sb.append("dims, partial aggregation, no exchange under sampling.\n")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val qe = org.apache.spark.sql.GraftSqlBridge.queryExecution(df)
      sb.append(s"\n## $name\n\n```\n")
      // render control bytes visibly: the null-text/null-key sentinel
      // literals (NUL + "null-text") otherwise make PLANS.md read as
      // BINARY to grep/diff — the audit-hiding class VERDICT r14 #3
      // flagged for source files applies to committed records too
      sb.append(qe.explainString(
          org.apache.spark.sql.execution.SimpleMode).trim
        .replace("\u0000", "\\u0000"))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("WROTE /root/repo/PLANS.md")
    spark.stop()
  }
}
