package graft

/** The SQL surface ≡ the DataFrame surface, query by query: each
  * `SqlQueries.sql` text runs through `spark.sql` against the registered
  * views and must return exactly the rows (schema names included) of its
  * gated DataFrame twin on the same fixture — including bit-equal
  * doubles on the decimal-arithmetic warehouse queries (identical CAST
  * chains compile to the same Catalyst expressions). Runs on the real
  * sf0.001 fixture so the comparison covers every key/window the gate
  * sees at iteration scale.
  */
class SqlParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): (Seq[String], Set[Seq[Any]]) = {
    val cols = df.columns.toSeq
    val rows = df.collect().map(r => cols.indices.map(r.get): Seq[Any]).toSet
    (cols, rows)
  }

  SqlQueries.sql.keys.toSeq.sorted.foreach { name =>
    test(s"spark.sql twin of $name matches the DataFrame form") {
      val (sqlCols, sqlRows) = canon(SqlQueries.run(spark, sfDir, name))
      val (dfCols, dfRows) = canon(SparkEntry.queries(name)(spark, sfDir))
      assert(sqlCols === dfCols)
      assert(sqlRows.size === dfRows.size)
      assert(sqlRows === dfRows)
    }
  }

  test("the SQL surface covers reference, warehouse, dedup, similarity, text, curation, null families") {
    assert(SqlQueries.sql.size >= 81)
    Seq("q", "a", "d", "s", "t", "p", "n").foreach { fam =>
      assert(SqlQueries.sql.keys.exists(_.startsWith(fam + "_")) ||
        SqlQueries.sql.keys.exists(_.startsWith(fam)), s"family $fam missing")
    }
    SqlQueries.sql.keys.foreach(n => assert(SparkEntry.queries.contains(n)))
  }

  test("no oracle or SQL-face text embeds an uninitialized fragment") {
    // Scala object-initialization cycles bake the literal string "null"
    // into an interpolated SQL val (r14: an eager Dedup val triggered
    // Sketches' initializer mid-Dedup-init, and Sketches' editdist
    // oracle captured Dedup.minhashLshPairsSql while it was still
    // null). Init order varies by entry point and the null can land
    // parenthesized or bare (a CTE-chain fragment interpolates as
    // "WITH null,"), so the gate is the full word-boundary sweep: no
    // text may contain standalone lowercase "null" at all — SQL NULL
    // literals are uppercase throughout this repo, and identifiers like
    // nullif/null_orderkeys don't match the boundary.
    val bad = "\\bnull\\b".r
    (SparkEntry.oracleSql ++ SqlQueries.sql).foreach { case (name, text) =>
      assert(bad.findFirstIn(text).isEmpty,
        s"$name embeds an uninitialized SQL fragment (standalone 'null')")
    }
  }

  test("the SQL surface covers every gated batch query not on the documented boundary") {
    // The exhaustive complement of SqlQueries' scaladoc boundary list:
    // iterative driver-controlled queries (clusters, k-means), typed
    // binary-decode (m_*), and plan-demonstration twins whose semantic
    // siblings have texts. Anything new that is added to SparkEntry
    // without either a SQL text or a boundary entry fails here.
    val boundary = Set(
      "d_dedup_clusters", "d_minhash_clusters", "d_embedding_clusters",
      "d_incremental_clusters", "d_cluster_sizes", "d_canonical_stats",
      "p_curation_cascade",
      "s_kmeans_train", "s_kmeans_inertia", "s_ivf_kmeans_topk",
      "s_incremental_ivf_codes", "s_incremental_pq_codes",
      "s_incremental_recall_drift",
      "s_pq_codes", "s_pq_adc_topk", "s_pq_rerank_topk", "s_pq_recall",
      "s_ivfpq_topk",
      "m_decode_media", "m_extract_features", "m_frame_sample", "m_resize_plan",
      "m_audio_features",
      "q3_windowed_count_salted", "q3_windowed_count_salted_dynamic",
      "a_moving_window_bucketed",
      "d_jaccard_prefix_pairs", "d_adaptive_jaccard_pairs",
      "d_embedding_neardup_lsh",
      "s_ivf_topk", "s_ivf_recall", "s_text_lsh_topk", "s_feature_topk",
      "s_feature_recall", "s_feature_ivf_topk", "s_feature_ivf_recall",
      "t_repetition_stats_hashed",
      "p_pack_sequences", "p_stratified_sample",
      "a_profile", "a_profile_approx", "a_timeseries_similarity",
      "d_incremental_neardup", "p_split_leakage")
    // Retired twins: their Spark text diverged from the DuckDB oracle
    // through a dialect copy in operators/; each answers to its DuckDB
    // oracle alone (OracleGateSpec).
    val retired = Set(
      "a_nation_profit", "a_partsupp", "a_ship_delay_priority",
      "a_supplier_variety", "a_min_cost_supplier", "a_important_parts",
      "a_bloom_semijoin", "p_zorder_layout", "p_zorder_skipping",
      "p_source_overlap_minhash", "p_incremental_source_sigs",
      "t_cms_join_size", "t_cms_token_freq", "t_cms_sketch_stats",
      "g_dup_triangles", "g_dup_triangles_simhash",
      "s_bm25_topk", "s_bm25_topk_capped", "s_hybrid_rrf_topk",
      "d_editdist_neardup", "d_adaptive_jaccard_decision")
    assert((retired & SqlQueries.sql.keySet) === Set.empty)
    val uncovered = SparkEntry.queries.keySet -- SqlQueries.sql.keySet -- boundary -- retired
    assert(uncovered === Set.empty,
      s"gated queries with neither a SQL text nor a boundary entry: $uncovered")
  }
}
