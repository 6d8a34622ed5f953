package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The driver contract the query families derive: one name set for
  * builders and oracles, the oracle text unchanged, and no name declared
  * twice.
  */
class QueryContractSpec extends AnyFunSuite {

  private val expectedNames: Set[String] = Set(
      "q01_agg_pricing", "q02_containment_subset", "q03_containment_either",
      "q04_pivot_pairs", "q05_upsert_discard", "q06_nodup_blank",
      "q07_variant_explode", "q08_hom_gene_haplotype",
      "q09_hom_novel_haplotype", "q100_prefix_topk", "q101_bpe_merges",
      "q102_asof_join", "q103_range_join", "q104_interval_join",
      "q105_dedup_keep_best", "q106_hard_negatives", "q107_bm25_topk",
      "q108_sq8_topk", "q109_importance_weights", "q10_token_stats",
      "q110_span_dedup", "q111_quality_margin", "q112_excise_passages",
      "q113_dedup_audit_card", "q114_ivf_sq_topk", "q115_redact_pii",
      "q116_priority_sample", "q117_cluster_split", "q118_mmr_rerank",
      "q119_bpe_encode", "q11_quality", "q120_incremental_dedup",
      "q121_hybrid_rrf", "q122_scd2_build", "q123_funnel",
      "q124_cohort_retention", "q125_streaming_funnel",
      "q126_streaming_cohort", "q127_streaming_scd2",
      "q128_lsh_quality_sweep", "q129_drift_report", "q12_langid",
      "q130_zorder_layout", "q131_bigram_lm_quality", "q132_late_data_audit",
      "q133_tokenizer_fertility", "q134_span_corruption",
      "q135_retrieval_ndcg", "q136_budget_prefix", "q137_mixture_plan",
      "q138_sliding_window", "q139_quantile_normalize", "q13_fingerprint",
      "q140_streaming_sliding", "q141_novelty_report",
      "q142_url_canonicalize", "q143_host_report", "q144_unigram_lm",
      "q145_unigram_fertility", "q146_host_cap_sample", "q147_host_pagerank",
      "q148_unigram_likelihood", "q149_ivf_drift", "q14_exact_dedup",
      "q150_matrix_unpivot", "q151_strip_shuffle", "q152_sql_pivot",
      "q153_sql_decontaminate", "q154_sql_minhash_pairs",
      "q155_sql_exact_dedup", "q156_sql_funnel", "q157_sql_cohort",
      "q158_sql_scd2", "q159_sql_bm25_topk", "q15_minhash_sig",
      "q160_sql_rrf_fuse", "q16_minhash_pairs", "q17_ngram_jaccard",
      "q18_simhash_pairs", "q19_topk_cosine", "q20_ivf_topk",
      "q21_lsh_embedding_pairs", "q22_events_hourly", "q23_sessions",
      "q24_media_features", "q25_streaming_window", "q26_hom_genotype",
      "q27_hom_gene_phenotype", "q28_hom_phenotype_recommendation",
      "q29_het_variants", "q30_load_pipeline_100k",
      "q31_load_gene_haplotype_2M", "q32_collapse_by_key",
      "q33_fk_resolution", "q34_phenotype_normalize", "q35_het_genotype",
      "q36_het_gene_phenotype", "q37_het_recommendation",
      "q38_interval_join", "q39_bloom_pruned_join", "q40_condensed_report",
      "q41_report_phenotype", "q42_dsv_render", "q43_novel_matrix",
      "q44_stage_graph_layout", "q45_salted_agg", "q46_streaming_dedup",
      "q47_ivf_cell_pairs", "q48_report_genotype", "q49_report_collapsed",
      "q50_stratified_sample", "q51_dup_clusters", "q52_weighted_repeat",
      "q53_knn_join", "q54_dedup_keep", "q55_stream_static_enrich",
      "q56_decontamination", "q57_strip_boilerplate", "q58_pack_sequences",
      "q59_repetition_signals", "q60_pii_redaction",
      "q61_streaming_contamination", "q62_vocabulary",
      "q63_curation_pipeline", "q64_ngram_containment",
      "q65_dedupe_segments", "q66_corpus_stats", "q67_exact_sample",
      "q68_split_assign", "q69_chunk_documents", "q70_tfidf_terms",
      "q71_mixture_report", "q72_ivf_knn_join", "q73_semantic_dedup_keep",
      "q74_quality_filter", "q75_token_budget_mix", "q76_shuffled_shards",
      "q77_training_mix", "q78_cross_corpus_dedup", "q79_top_per_group",
      "q80_outlier_report", "q81_streaming_minhash",
      "q82_streaming_ivf_ingest", "q83_bpe_pair_counts", "q84_char_entropy",
      "q85_assemble_sequences", "q86_unigram_surprisal", "q87_split_leakage",
      "q88_streaming_assembly", "q89_dsv_regex", "q90_upsert_merge",
      "q91_stage_hooks", "q92_jsonl_roundtrip", "q93_per_group_sample",
      "q94_nfc_normalize", "q95_snapshot_diff", "q96_percentile_gate",
      "q97_orc_roundtrip", "q98_temperature_mix", "q99_pq_adc_topk")

  /** SHA-256 over the name-sorted (name, oracle) pairs, each field
    * followed by a NUL byte. Any edit to any oracle changes it; the
    * recorded value is the oracles' digest from before the split into
    * families, and an intended oracle change updates it here.
    */
  private def oracleDigest(oracles: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    oracles.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("builders and oracles share one set of 160 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 160)
    assert(SparkEntry.queries.keySet == expectedNames)
  }

  test("oracle text is byte-identical to the recorded digest") {
    assert(oracleDigest(SparkEntry.oracleSql) ==
      "859e9dc7eb630ca42c099559214b9235dde7a58b595417fc1d61618846c293bd")
  }

  test("a name declared by two families fails, naming the query") {
    def q(name: String) = Query(name, (s: SparkSession, _: String) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      Query.byName(Seq(q("q_a"), q("q_dup")), Seq(q("q_b"), q("q_dup")))
    }
    assert(e.getMessage.contains("q_dup"))
    assert(Query.byName(Seq(q("q_a")), Seq(q("q_b"))).keySet == Set("q_a", "q_b"))
  }
}
