package graft

import java.security.MessageDigest
import java.sql.{Connection, DriverManager, ResultSet}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Pins the DuckDB oracle SQL itself, without Spark: every
  * [[SparkEntry.oracleSql]] entry runs in-process on DuckDB over the
  * sf0.01 tables (the views `tools/selfcheck.py` registers) and must
  * reproduce its frozen, order-free result digest. A rewrite of the
  * oracle SQL text that moves any oracle's result fails here by name.
  * The spec also checks the registry's key sets, which a `++` merge
  * would otherwise reconcile silently.
  */
class OracleSqlSpec extends AnyFunSuite with BeforeAndAfterAll {
  // the correctness SF, beside the specs' own sf0.001
  private val sfDir = s"${new java.io.File(TestSpark.sf).getParent}/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val con: Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    // one thread: floating-point aggregates fold in one fixed order
    st.execute("SET threads = 1")
    st.execute("SET TimeZone = 'UTC'")
    tables.foreach(t => st.execute(
      s"CREATE VIEW $t AS SELECT * FROM read_parquet('$sfDir/$t.parquet')"))
    st.close()
    c
  }

  override def afterAll(): Unit = con.close()

  /** Renders one cell: doubles rounded to 9 places (the selfcheck
    * normalisation), everything else by DuckDB's own string form.
    */
  private def cell(rs: ResultSet, i: Int): String = rs.getObject(i) match {
    case null => "NULL"
    case d: java.lang.Double => num(d.doubleValue)
    case f: java.lang.Float => num(f.doubleValue)
    case _ => rs.getString(i)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
      .bigDecimal.stripTrailingZeros.toPlainString

  /** (row count, first 16 hex digits of a SHA-256 over the column names
    * in sorted order and the rows rendered in that column order, sorted).
    */
  private def digest(sql: String): (Int, String) = {
    val st = con.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).sortBy(md.getColumnLabel)
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => cols.map(cell(r, _)).mkString("\u001f")).toVector.sorted
      val sha = MessageDigest.getInstance("SHA-256")
      sha.update(cols.map(md.getColumnLabel).mkString("|").getBytes("UTF-8"))
      rows.foreach(r => sha.update((r + "\u001e").getBytes("UTF-8")))
      (rows.size, sha.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
    } finally st.close()
  }

  /** The one oracle whose result is empty at sf0.01: every customer
    * there has orders.
    */
  private val emptyAtSf001 = Set("q_customers_without_orders")

  test("every oracle reproduces its frozen result digest") {
    val got = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (q, sql) =>
      q -> digest(sql) }
    val moved = got.collect { case (q, (_, d)) if !Frozen.get(q).contains(d) =>
      s"""    "$q" -> "$d",""" }
    assert(moved.isEmpty, moved.mkString("digests moved:\n", "\n", ""))
    assert(Frozen.keySet == got.map(_._1).toSet)
    val empty = got.collect { case (q, (0, _)) => q }.toSet
    assert(empty == emptyAtSf001, s"oracles with no rows: $empty")
  }

  test("queries = oracleSql + the rows-only sketches, disjointly") {
    val rowsOnly = SparkEntry.guaranteeTwins.keySet
    assert(rowsOnly.size == 4)
    assert((SparkEntry.oracleSql.keySet & rowsOnly).isEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet ++ rowsOnly)
  }

  test("each rows-only sketch's guarantee twin is registered with an oracle") {
    SparkEntry.guaranteeTwins.foreach { case (sketch, twin) =>
      assert(SparkEntry.queries.contains(twin), s"$sketch: $twin not registered")
      assert(SparkEntry.oracleSql.contains(twin), s"$sketch: $twin has no oracle")
    }
  }

  test("no oracle key collides across the module maps") {
    val modules = Seq(RelationalQueries.oracles, EventAnalytics.oracles,
      FeatureJobs.oracles, TemporalJoins.oracles, Dedup.oracles,
      Similarity.oracles, TextAnalytics.oracles, Curation.oracles,
      Multimodal.oracles, Decontam.oracles, Pii.oracles, Packing.oracles,
      Retrieval.oracles, CorpusStats.oracles, Sharding.oracles,
      Sketches.oracles, Dsir.oracles, Perplexity.oracles, Bpe.oracles)
    assert(modules.size == 19)
    assert(modules.map(_.size).sum == SparkEntry.oracleSql.size)
  }

  /** One digest per oracle (160). A deliberate change to an oracle's
    * result re-freezes its entry: the failure message lists every moved
    * oracle in this map's syntax.
    */
  private val Frozen: Map[String, String] = Map(
    "q1_pricing_summary" -> "fa0aeb85bc771088",
    "q_active_users_5m" -> "860dcf38d3370348",
    "q_admission_report" -> "07d5e75d9542366e",
    "q_ann_bow" -> "5a16cfed200478e6",
    "q_ann_brute_force" -> "a26f3d67ec177b43",
    "q_ann_ivf" -> "45081f350dc1a029",
    "q_ann_ivf_sampled" -> "5b049e68ee004cb9",
    "q_ann_lsh" -> "7266eba5f3fa7f23",
    "q_ann_lsh_mp" -> "c14dd4d114145e57",
    "q_ann_recall" -> "8749ca0d169e9cf2",
    "q_ann_tuning" -> "1d6c9a992fca8ba2",
    "q_asof_features" -> "6b785e3e49a95f53",
    "q_avg_delay_ms" -> "c6155e0b341df648",
    "q_bm25_search" -> "0cfa87ec8ca58711",
    "q_bpe_compression" -> "9f3bac157b6959ea",
    "q_bpe_merges" -> "5db71723451e0ee7",
    "q_bpe_merges_sampled" -> "5db71723451e0ee7",
    "q_bpe_token_counts" -> "baec83915d9fbae7",
    "q_bpe_vocab" -> "0e2c830a1fddb047",
    "q_brand_volume" -> "5c59badc66c824f2",
    "q_charset_profile" -> "cbf595e4fc1f86b2",
    "q_click_attribution" -> "1deaeffecb7a5b7e",
    "q_cluster_sample" -> "5369e4b8504debd3",
    "q_cms_profile" -> "b7c202daee3532e5",
    "q_collocations" -> "8aa8d1e5f834da0a",
    "q_corpus_diff" -> "3602d211a8aa2231",
    "q_corpus_stats" -> "e01b731c5e9c20ff",
    "q_curation" -> "2e387450495d662a",
    "q_curation_complete" -> "899872abcf6da2e7",
    "q_curation_complete_stats" -> "bc518c9b49a0c4e7",
    "q_curation_full" -> "1d2dff2c3991f24d",
    "q_curation_full_stats" -> "c87c829c941ffe06",
    "q_curation_neardup" -> "eb0b159e14a524be",
    "q_curation_passages" -> "a9663b502c26443e",
    "q_curation_semantic" -> "04a642e318fb9a67",
    "q_curation_stats" -> "03ab8ccc094f7aca",
    "q_customers_without_orders" -> "cbcef458079404c5",
    "q_decontam" -> "9a051a218a7feb9f",
    "q_decontam_bloom" -> "9a051a218a7feb9f",
    "q_decontam_bloom_frozen" -> "9a051a218a7feb9f",
    "q_dedup_exact" -> "fa23f1665f096693",
    "q_dedup_incremental" -> "48b640d2d4c9fba0",
    "q_dedup_keep_best" -> "7934ab4650d456f7",
    "q_dedup_stats" -> "95ec44d0066befe8",
    "q_doc_counts_5m" -> "900c0f886d235a87",
    "q_dsir_sample" -> "76e2f85b69aa8fbc",
    "q_dsir_weights" -> "046a7014c8f23976",
    "q_dup_ngram_coverage" -> "465f3627148b898e",
    "q_dup_ngram_stats" -> "4b2df2fb0127a23a",
    "q_dup_passages" -> "d44b6fd5c391023a",
    "q_dup_span_scrub" -> "49b27dfff884d5fc",
    "q_dup_span_scrub_n50" -> "c75d1b86936b41f9",
    "q_embedding_clusters" -> "c478e12d99444b57",
    "q_embedding_label_stats" -> "a400dd0ee0a10f68",
    "q_embedding_neardups" -> "53fbb5f25076a4a3",
    "q_embedding_neardups_or" -> "d1dc9137275f5cec",
    "q_features_20m" -> "d7588473da542ec6",
    "q_features_5m" -> "106c657658f7ae29",
    "q_features_daily" -> "0b44f283a5ef3941",
    "q_fingerprints" -> "a0f8c31b681cabac",
    "q_frame_samples" -> "5f4abfa2716ec0f2",
    "q_funnel" -> "cbb60f58807ff5c2",
    "q_fuzzy_decontam" -> "87bea3dfe8330f5b",
    "q_geo_rollup" -> "5b503d16391835ee",
    "q_gopher_funnel" -> "885be5eeb43e1eeb",
    "q_gopher_rules" -> "ac1902f473fffa79",
    "q_hash_split" -> "ea5fffe71c5e1280",
    "q_hashed_bow" -> "6f0d3016e0f33347",
    "q_heavy_hitter_sketch_guarantee" -> "82bec3cb2138b757",
    "q_heavy_hitters" -> "02c4cf4ac154b963",
    "q_heavy_hitters_by_lang" -> "527e1f97c6d1ae61",
    "q_heavy_hitters_windowed" -> "c9ce500366880516",
    "q_hll_users" -> "9ec22cf3a9a05411",
    "q_hour_weekday_heatmap" -> "c102de233310aae4",
    "q_hourly_top_docs" -> "fec6bde933391ea5",
    "q_ivf_assign" -> "cc4560ca6d7b91bf",
    "q_ivf_assign_frozen" -> "cc4560ca6d7b91bf",
    "q_ivf_tuning" -> "d869486a5a348994",
    "q_keep_best_stats" -> "d9dc2c41639873b4",
    "q_lang_id" -> "a43de96ddc130d49",
    "q_lang_id_ngram" -> "bf2e4a54b7651f6a",
    "q_length_profile" -> "73f50db15ca16ef5",
    "q_lsh_tuning" -> "cead22c51d49f8b0",
    "q_media_ann" -> "854db11fdaabc78f",
    "q_media_checksums" -> "a1efbaf6a2867c02",
    "q_media_features" -> "7db607258fc05ae0",
    "q_media_neardups" -> "51516860e85fff69",
    "q_minhash_components" -> "6183208fd0ddbc87",
    "q_minhash_incremental" -> "091f3da4f3b1c132",
    "q_minhash_lsh" -> "e2f3f97aae4dda8e",
    "q_minute_counts_click" -> "e26ba7efd09ce8f8",
    "q_minute_counts_view" -> "e760ce4d41daeb59",
    "q_mixture_weights" -> "acfa0e37c428dca3",
    "q_neardup_recall" -> "bd9e6d25af391060",
    "q_ngram_jaccard" -> "01021d8df2e1dd49",
    "q_ngram_repetition" -> "cb3256d740395ebe",
    "q_order_history_ranks" -> "437da90b90f926a2",
    "q_order_share" -> "e030f7c9d9672911",
    "q_pack_sequences" -> "69d45156b76c1c3d",
    "q_packing_stats" -> "b7315c70c09e4a03",
    "q_passage_dedup" -> "26ae1f56a9ee7f42",
    "q_passage_dedup_stats" -> "05cf55f56947a2fd",
    "q_perplexity_bigram" -> "859372ca4bc82d67",
    "q_perplexity_bigram_approx_guarantee" -> "5fad427c4ac4b0fd",
    "q_perplexity_buckets" -> "ce15254febbf7647",
    "q_perplexity_buckets_approx_guarantee" -> "5fad427c4ac4b0fd",
    "q_pii_scan" -> "d5e25862da96c208",
    "q_quality_scores" -> "5db2539c22c0d12f",
    "q_quality_sweep" -> "6effb82a21ab0b2e",
    "q_quota_sample" -> "581530b08ccad62e",
    "q_redis_feature_keys" -> "b5824f7c48444193",
    "q_region_revenue" -> "b556fec379c1e3fe",
    "q_repetition_gate" -> "f428c5a343e32352",
    "q_repetition_scores" -> "1474c2d789734598",
    "q_retention" -> "c847547b20239ef8",
    "q_revenue_attribution" -> "d99dbcf4b8421373",
    "q_revenue_rollup" -> "9d193e3097e04452",
    "q_sample_composition" -> "b25b7aedeb2dca81",
    "q_segment_status_pivot" -> "6e9a824b38590d47",
    "q_segments_with_orders" -> "5f38fef961bde64e",
    "q_semantic_components" -> "d5e38ef8586fb9b0",
    "q_semantic_decontam" -> "0e876b6a3452ad0d",
    "q_semantic_dedup" -> "ffab6ab15a3041e8",
    "q_semantic_incremental" -> "a1180a7a9ce2a25c",
    "q_session_stats" -> "5b6dc8f891f879d9",
    "q_sessions" -> "2d272574852fe329",
    "q_sessions_stream" -> "9d21cc8725d2bd4f",
    "q_shard_interleave" -> "ecc1f5738b2b1f66",
    "q_shard_stats" -> "e15c1d46fb849b94",
    "q_shipping_priority" -> "13b0879768c51cf5",
    "q_simhash_clusters" -> "3d537ee1bbd39987",
    "q_simhash_components" -> "3d537ee1bbd39987",
    "q_source_datasheet" -> "f2590bd1cc65edf6",
    "q_source_divergence" -> "42104ade05cd06ba",
    "q_source_entropy" -> "bb0d995eec418053",
    "q_source_funnel" -> "0791ee68734d4730",
    "q_source_vocab_overlap" -> "266eb5f99e85971c",
    "q_spike_events" -> "394f812670e5ae9e",
    "q_split_leakage" -> "1931cb31fb561609",
    "q_stratified_sample" -> "0a335b40d04a22f2",
    "q_tfidf_top_terms" -> "eb20a1824c5d1ea9",
    "q_time_to_click" -> "6a2b46edfc34505a",
    "q_token_budget_mix" -> "7f5a4b93da09ce3c",
    "q_token_regex" -> "a69f92046328a9f9",
    "q_token_stats" -> "12fc21d8225a6ee8",
    "q_top_docs" -> "9c61db7da5cdd198",
    "q_top_orders" -> "90d31778f7aba454",
    "q_trailing_count_1h" -> "65eaa6f2ef08c0b8",
    "q_type_distribution" -> "376be5edd79e4c31",
    "q_value_percentiles" -> "30ff9d758572f9ce",
    "q_value_percentiles_approx_guarantee" -> "5def552664155050",
    "q_vocab_top100" -> "72a26fdc60c11049",
    "q_winnow_components" -> "c7956fd20c30238f",
    "q_winnow_fingerprints" -> "b491862f34ce166d",
    "q_winnow_incremental" -> "5f01d8d9241795b6",
    "q_winnow_matches" -> "75284c45941e297b",
    "q_winnow_matches_topk" -> "d4bb9471f9da40e3",
    "q_winnow_novelty" -> "29a22a6f3090e028",
    "q_winnow_source_matrix" -> "b8efcf576de6f336",
    "q_winnow_tuning" -> "6c6372256601bdac")
}
