"""The three workloads and their seeded invocation sequences.

A sequence is a pure function of (workload, seed, seconds): the same
arguments always give the same cells in the same order, and the engine
receives nothing else from the seed.

The relational and corpus pools are listed in strata: consecutive
groups of cells of similar cost (ranked by full-pool passes on 4
cores). A run takes one cell per stratum, so every run covers the whole
cost range of its pool, and plays the taken cells for a number of
rounds, each round in a fresh seeded order. Stratifying keeps a run's totals close to the pool's
whatever cells the seed picks. The cell a stratum gives rotates with the
seed, so any n consecutive seeds measure every cell of a pool whose
strata hold at most n cells.
"""
import random
from typing import NamedTuple

import numpy as np

# 77 relational cells (Relational, Analytics, Events, q33, q63),
# cheapest first on the x10 fixture.
REL_POOL = [
    "q43_pivot", "q59_string_agg", "q49_range_frame",
    "q146_source_lang_chi2", "q108_zorder_layout", "q06_forecast_revenue",
    "q74_lateral_topk", "q45_geomean_udaf", "q157_skew_profile",
    "q100_vocab_coverage", "q46_intersect", "q14_scalar_funcs",
    "q153_kanonymity_audit", "q102_weighted_sample",
    "q08_anti_join_customers", "q10_setops", "q91_entropy",
    "q103_nullsafe_join", "q02_filter_project", "q156_pareto_skyline",
    "q90_histogram", "q47_outer_join", "q63_approx_percentiles",
    "q104_hll_sketch_union", "q55_range_join", "q17_hourly_windows",
    "q75_year_spine", "q114_source_kl", "q96_exists_subquery",
    "q67_merge_upsert", "q94_cohort_retention", "q170_tcloseness_audit",
    "q111_rfm_segmentation", "q92_zscore_anomaly", "q05_region_revenue",
    "q119_ewma_telemetry", "q03_top_orders", "q109_event_transitions",
    "q04_semi_join_priority", "q15_fizzbuzz", "q20_asof_join",
    "q19_json_extract", "q93_scd2_intervals", "q173_tcloseness_drift",
    "q155_ldiversity_audit", "q164_seq_patterns", "q12_topk_per_group",
    "q105_variant_shred", "q61_bucketed_join", "q51_topk_aggregator",
    "q48_rank_funcs", "q106_sql_udf", "q38_supplier_revenue",
    "q99_stopword_scrub", "q98_map_funcs", "q97_filtered_agg", "q16_cube",
    "q18_sessionization", "q73_ntile_deciles", "q33_approx_distinct",
    "q110_constraint_audit", "q57_correlated_avg", "q07_broadcast_brand",
    "q120_attribution", "q52_grouping_sets", "q40_date_funcs",
    "q13_window_running", "q09_rollup", "q11_distinct_agg",
    "q60_session_window", "q101_split_leakage", "q01_pricing_summary",
    "q95_triangle_count", "q112_winsorized_stats", "q89_ols_regression",
    "q88_moment_stats", "q39_percentiles",
]

# 104 corpus cells (Dedup, TextAnalysis, Similarity, Corpus,
# Multimodal, Training, q66), strata cheapest first on the generated
# sf0.1 (mean of three passes, each scaled to the passes' mean total).
# Within a stratum the cells are ordered so that the four cell sets the
# rotation gives have near-equal sum, median and p66 of per-cell times
# (times from 13 runs at seeds 1-13, each scaled by its run's speed);
# in rank order their sums spanned 15% of the mean and their medians 24%.
CORPUS_POOL = [
    "q62_dedup_clusters", "q22_minhash_lsh",
    "q176_cluster_balanced_sample", "q121_cluster_canonical",
    "q50_hash_sample", "q21_exact_dedup", "q42_frame_sample",
    "q31_media_metadata", "q148_tokenizer_fertility",
    "q151_ctx_length_sweep", "q118_filter_cascade",
    "q65_stratified_sample", "q126_bpe_merge_pairs", "q66_freq_items",
    "q23_ngram_jaccard", "q25_token_stats", "q56_array_funcs",
    "q141_unimax_epochs", "q34_regex_tokens", "q44_resize_plan",
    "q134_shingle_containment", "q80_split_assignment",
    "q162_mmr_select", "q143_cluster_silhouette", "q26_quality_score",
    "q124_dedup_capstone", "q79_sequence_packing", "q169_bpe_encode",
    "q128_signal_correlation", "q69_doc_chunking", "q30_ann_ivf",
    "q72_domain_mixture", "q177_dup_passages", "q32_media_decode_stub",
    "q41_salted_heavy_hitters", "q132_ann_ivf_multiprobe",
    "q125_zipf_spectrum", "q168_ann_maintenance", "q175_dupspan_scrub",
    "q149_curriculum_interleave", "q166_crossmodal_knn",
    "q137_hard_negatives", "q140_source_dup_matrix",
    "q37_srp_lsh_neardup", "q29_knn_brute", "q174_countmin_heavy",
    "q136_neardup_split_leakage", "q150_embed_diversity",
    "q129_heaps_hapax", "q139_normalized_dedup", "q87_inverted_index",
    "q163_bitext_mining", "q58_knn_l2", "q152_delta_dedup",
    "q78_regex_scrub", "q133_semdedup", "q142_length_ks_drift",
    "q113_bm25_retrieval", "q53_llm_pipeline", "q84_pmi_collocations",
    "q117_chunk_dedup", "q160_pq_adc_knn", "q171_embed_spectrum",
    "q123_quality_calibration", "q76_bloom_decontam",
    "q64_fuzzy_blocked", "q147_df_spectrum", "q144_minhash_calibration",
    "q127_mixture_rebalance", "q81_funnel", "q138_token_budget",
    "q158_pq_codebook", "q85_quantize_embeddings", "q27_langid",
    "q77_kmeans_train", "q68_decontamination", "q130_label_separation",
    "q154_prefix_ssjoin", "q83_interpolate", "q159_embed_dim_stats",
    "q179_boilerplate_scrub", "q115_embed_outliers", "q161_hybrid_rrf",
    "q107_lm_xent_score", "q71_tfidf_topterms", "q82_unpivot",
    "q116_knn_label_eval", "q180_kmv_distinct", "q167_bpe_merge_train",
    "q54_embed_pipeline", "q70_repetition_score", "q28_fingerprint",
    "q178_kmv_source_overlap", "q165_fs_linkage", "q181_cdc_dedup",
    "q135_dsir_weights", "q172_media_neardup", "q24_simhash",
    "q35_simhash_neardup", "q145_winnow_fingerprints",
    "q131_crossdoc_ngram_dup", "q86_pagerank_nations",
    "q36_embed_neardup", "q122_bigram_lm_xent",
]

SHAPES = ["narrow", "routed"]


class Spec(NamedTuple):
    scale: str       # fixture directory (None: generated dataflow records)
    prebuild: bool   # build the family memos in set-up
    pool: list       # cells, cheapest first; None for the dataflow shapes
    stratum: int     # cells per stratum
    top: int         # the costliest `top` cells go in strata of two
    rate: float      # invocations per second of run_seconds, as measured on
                     # 4 cores: sets the rounds a run plays (>= 1)
    settle: int      # untimed rounds on the workload's own input before timing


SPEC = {
    "rel_x10": Spec("sf1", False, REL_POOL, 4, 0, 0.8, 1),
    "corpus_sf01": Spec("sf0.1", True, CORPUS_POOL, 4, 12, 3.0, 1),
    "dataflow": Spec(None, False, None, 1, 0, 4.0, 15),
}

DATAFLOW_RECORDS = 100_000
DATAFLOW_KEYS = 100_000
DATAFLOW_ZIPF = 1.1


def _rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def strata(spec):
    body, top = spec.pool[:len(spec.pool) - spec.top], spec.pool[len(spec.pool) - spec.top:]
    return ([body[i:i + spec.stratum] for i in range(0, len(body), spec.stratum)] +
            [top[i:i + 2] for i in range(0, len(top), 2)])


def rounds(workload, k, seconds):
    return max(1, round(seconds * SPEC[workload].rate / k))


def sequence(workload, seed, seconds):
    """(cells to warm, invocation sequence) for one run. A dataflow
    invocation is one pair of the two shapes, in seeded order."""
    rng = _rng(workload, seed)
    spec = SPEC[workload]
    if spec.pool is None:
        return [], ["+".join(rng.sample(SHAPES, 2)) for _ in range(rounds(workload, 1, seconds))]
    drawn = [s[(seed + i) % len(s)] for i, s in enumerate(strata(spec))]
    seq = [c for _ in range(rounds(workload, len(drawn), seconds))
           for c in rng.sample(drawn, len(drawn))]
    return sorted(drawn), seq


def dataflow_input(seed):
    """DATAFLOW_RECORDS Zipf-skewed keys in [1, DATAFLOW_KEYS] as
    little-endian int32 bytes; the same seed gives the same bytes."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, DATAFLOW_KEYS + 1) ** DATAFLOW_ZIPF
    keys = rng.choice(DATAFLOW_KEYS, DATAFLOW_RECORDS, p=p / p.sum()) + 1
    return keys.astype("<i4").tobytes()
