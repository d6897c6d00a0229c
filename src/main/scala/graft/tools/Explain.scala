package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dumps the FORMATTED physical plan of the headline queries to a
  * markdown file so plan shape — pushed filters, broadcast vs shuffle
  * joins, partial aggregation, codegen spans — can be reviewed without
  * running Spark:
  * `runMain graft.tools.Explain [out.md] [sfDir] [q1,q2,...]`
  * (defaults: PLANS.md, the sf0.01 test data, the headline list).
  * Each query is materialized first so AQE's FINAL plan (coalesced
  * exchanges, runtime join strategy) is what lands.
  */
object Explain {
  val headline: Seq[String] = Seq(
    "ref_interval_join", "ref_asof_merge", "q1_agg", "q3_join_broadcast",
    "q25_lateral", "d2_dedup_minhash", "d4_ngram_jaccard", "d5_embed_neardup",
    "d8_dedup_groups", "d9_decontam_bloom", "s1_ann_bruteforce", "s4_ann_ivf",
    "s5_quantize", "s6_ann_sq", "s7_ann_ivfsq", "a4_quantiles", "x8_pii",
    "x9_sample", "x10_chunk", "x11_pack", "t7_rolling", "m1_multimodal",
    "s9_ann_ivfpq", "s10_kmeans", "a6_heavy_hitters", "a7_weighted_sample",
    "x12_bm25", "x13_tfidf", "q28_scd2", "f1_manifest_prune",
    "f2_zorder_skip", "f3_compaction", "d11_semantic_dedup", "x14_lm_score",
    "x15_shuffle", "x16_budget_mix", "q30_merge_upsert", "q31_cube",
    "p3_expectations", "p4_histogram", "p5_expectations_windowed",
    "p6_drift", "x17_safe_split", "x18_phrase_bm25", "x19_prox_bm25",
    "f4_partition_prune", "s11_kmeans_pp", "s12_ann_ivfpq_res",
    "x20_slop_bm25", "x21_indexed_bm25", "s13_kmeans_balanced",
    "s14_ann_ivfpq_cell", "d12_semantic_dedup_balanced",
    // r7 twelfth wave: graph rounds, robust outliers, filtered/SQ
    // index serving, the composite curation chain, sentence chunks
    "g1_bfs", "g2_pagerank", "g3_triangles", "g5_kcore", "p8_outliers",
    "s21_vector_index_filtered", "s22_vector_index_sq",
    "c1_curation_pipeline", "x29_sentence_chunk", "t8_window_topk",
    "f11_rollback", "f12_orphan_gc", "g6_sssp", "d16_semantic_dedup_index",
    "c2_pit_features", "m3_audio_frames", "x30_dataset_card",
    "g4_ppr", "g7_pagerank_conserve",
    // r8 wave: indexed substring dedup, merge-on-read delete, label
    // propagation, power-iteration PCA + ABTT retrieval
    "d17_substring_dup_index", "f13_delete_mor", "g8_label_prop",
    "s23_pca_power", "s24_abtt_topk", "d18_containment",
    "q33_recursive_cte", "c3_hybrid_index", "s25_mips",
    // r9 wave: index-served MIPS, gram-layout takedowns, the SQL
    // front door for the table format
    "s26_mips_index", "d19_gram_delete", "f14_sql_front_door",
    "f15_sql_write", "m4_frame_sample", "m5_resize", "g9_scc",
    "c4_curated_table", "m6_dhash_neardup", "g10_link_predict",
    "g11_hits", "f16_refs", "c5_wap", "s27_knn_graph", "q34_pivot", "x31_collocations", "a10_ddsketch", "p9_fd_profile", "c6_governed_enrich", "x32_textrank", "s28_recall_audit",
    "q35_grouping_sets", "f17_partition_evolution",
    "c7_changelog_refresh", "s29_vector_index_bq", "g12_modularity",
    "f18_join_file_prune", "s30_nn_descent", "s31_graph_serve",
    "q36_lateral_topn", "q37_unpivot", "d20_typo_pairs",
    "c8_incremental_agg", "g13_harmonic", "t9_stream_distinct",
    // r10 wave: continuous WAP ingest, sampled triangles, SQL INSERT
    "c9_wap_stream", "g14_triangle_sample", "f19_sql_insert",
    // r10 second wave: walk/fanout sampling, time-series prep,
    // bloom skipping, the streaming source + medallion hop, the
    // dedup decision table and kNN weak labeling
    "g15_random_walks", "g16_neighbor_sample", "t10_resample",
    "t11_ohlc", "p10_kanon", "f20_bloom_skip", "c10_stream_read",
    "c11_medallion", "d21_canonical", "s32_knn_classify",
    "m7_vad_segments", "t12_asof_stream", "g17_pagerank_warm",
    "f21_string_prune", "p11_skew_audit",
    // r11 wave: the SQL DML trio + maintenance pair, the CDC change
    // feed, biased walks, graph refresh, interp resample, and the
    // retraction-fold aggregate maintenance
    "f22_sql_delete", "f23_sql_update", "f24_sql_merge",
    "f25_sql_optimize", "f26_sql_vacuum", "c12_change_feed",
    "c13_view_maintain", "g18_node2vec_walks", "s33_graph_refresh",
    "t13_interp", "g19_louvain",
    // r11 third wave: the SQL read surface — time travel, CTAS,
    // history, and the batch CDC table function
    "f27_sql_time_travel", "f28_sql_ctas", "f29_sql_history",
    "c14_table_changes", "f30_sql_clone", "c15_stream_sink",
    "f31_sql_restore", "f32_sql_add_column", "g20_skipgram",
    // r12 wave: lazy DROP COLUMN, MERGE WITH SCHEMA EVOLUTION, and
    // the multi-level Louvain coarsening recursion
    "f33_sql_drop_column", "f34_merge_evolution",
    "g21_louvain_multilevel", "f35_sql_widen_column",
    "f36_metadata_count",
    // r13: field-id rename, metadata min/max + partition count, zorder
    "f37_sql_rename_column", "f38_metadata_stats",
    "f39_sql_optimize_zorder", "f40_multi_partition",
    "f41_metadata_partitions")

  /** Cost notes rendered under a query's plan — state the structural
    * story the plan tree alone can't show. */
  val notes: Map[String, String] = Map(
    "q33_recursive_cte" ->
      ("Walk-vs-frontier cost: UNION ALL recursion enumerates WALKS, " +
        "so rows grow ~maxOutDeg^depth before the min-collapse and the " +
        "edge relation is re-joined at every level. The entry derives " +
        "its recursion row limit from the graph's ACTUAL max out-degree " +
        "(Σ_{d≤depth} maxDeg^d, capped at 2^26) and REFUSES deeper " +
        "requests, pointing at Graph.bfs — the frontier iteration " +
        "(distinct per round, settled anti-join, checkpointed lineage) " +
        "whose per-round rows are bounded by |frontier ⋈ edges|, the " +
        "100 TB traversal path. q33 exists to exercise the planner's " +
        "recursion operator on provably bounded expansions."))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = if (args.length > 2)
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else headline
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.Explain, ")
      .append(s"data: $dir)\n\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.count() // materialize so AQE reports the final plan
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"## $name\n\n```\n")
        .append(plan.linesIterator.take(120).mkString("\n"))
        .append("\n```\n\n")
      notes.get(name).foreach(n => sb.append(n).append("\n\n"))
    }
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"wrote $out (${names.size} plans)")
    spark.stop()
  }
}
