"""Extension operators beyond the reference surface (SURVEY.md §2.11 /
BASELINE.json north star): the LLM-training-data-pipeline toolkit."""

from .dedup import (duplicate_spans, sorted_neighborhood_pairs, edit_distance_pairs,
                    set_similarity_pairs, containment_pairs,
                    embedding_dedup_pairs, exact_dedup,
                    minhash_banding, lsh_pairs_incremental,
                    minhash_lsh_pairs, near_dedup,
                    ngram_jaccard_pairs, shingles, simhash)
from .graph import bfs_distances, cc_incremental, connected_components, label_propagation, pagerank, triangle_count, weighted_distances
from .similarity import (brute_force_topk, cosine, dequantize_embeddings,
                         hard_negatives, hard_negatives_ivf, ivf_topk, ivf_topk_trained, lsh_topk,
                         quantize_embeddings)
from .rollup import rollup_merge, time_rollup
from .basket import item_cooccurrence
from .stats import abc_classes, chi2_contingency, equifreq_bins, group_gini, group_mad, group_mode, histogram
from .dq import benford_digits, dq_validate, k_anonymity
from .text import (bigram_lm_score, bm25_scores, boilerplate_density, bpe_ish_token_count, char_entropy, chunk_documents,
                   decontaminate, dedup_lines, detect_language, fingerprint,
                   inverted_index,
                   gopher_filter,
                   pack_sequences, pmi_pairs, quality_score, repetition_ratio,
                   resample_mixture, scrub_pii,
                   normalize_text, stratified_sample, tf_idf, token_count, tokens,
                   word_ngrams)
from .multimodal import (ahash_images, ahash_pairs,
                         attach_binary_meta, decode_audio,
                         decode_images, decode_pixel_stats, extract_features,
                         resize_images, sample_frames)
from .curation import (blocklist_filter, classifier_score, corpus_stats,
                       kmeans_quantized, kmeans_train,
                       group_outliers, profile_columns,
                       weighted_sample, winsorize,
                       ngram_logcount_score, pareto_frontier,
                       per_source_cap, semantic_dedup)
from .skew import heavy_hitters, salted_join, skew_histogram
from .bloom import bloom_filter, bloom_pruned_semi_join, build_bloom
from .asof import asof_join, range_join
from .upsert import merge_upsert
from .diff import (fingerprint_compare, row_digest, snapshot_diff,
                   table_fingerprint)
from .behavior import (cohort_retention, conversion_times, funnel, growth_accounting, rfm_segments, scd2_from_log,
                       sessionize, transition_matrix)
from .reshape import pivot_table, unpivot
from .layout import compaction_plan, shard_plan, shard_plan_incremental, zorder_by, zorder_key
from .splits import consistent_sample, leakage_safe_split
from .timeseries import ewma, gap_fill, group_ols, ohlc, rolling_sum, theil_sen, twap
from .linalg import embedding_covariance, pca_project, rademacher_projection

__all__ = [
    "connected_components", "triangle_count", "bfs_distances", "weighted_distances", "label_propagation", "pagerank", "near_dedup", "duplicate_spans",
    "embedding_dedup_pairs", "exact_dedup", "minhash_lsh_pairs",
    "minhash_banding", "lsh_pairs_incremental", "ngram_jaccard_pairs", "shingles", "simhash",
    "brute_force_topk", "cosine", "dequantize_embeddings", "ivf_topk",
    "lsh_topk", "quantize_embeddings",
    "bm25_scores", "bpe_ish_token_count", "char_entropy", "chunk_documents",
    "decontaminate", "dedup_lines", "detect_language", "gopher_filter",
    "pack_sequences",
    "repetition_ratio", "resample_mixture", "scrub_pii", "stratified_sample",
    "fingerprint", "inverted_index", "quality_score", "tf_idf",
    "rollup_merge", "time_rollup", "chi2_contingency", "equifreq_bins", "histogram", "bigram_lm_score", "dq_validate", "k_anonymity", "transition_matrix", "token_count", "tokens", "pmi_pairs", "winsorize",
    "word_ngrams",
    "snapshot_diff", "table_fingerprint", "fingerprint_compare",
    "row_digest",
    "asof_join", "range_join", "merge_upsert", "funnel", "scd2_from_log", "cohort_retention", "sessionize", "growth_accounting", "rfm_segments", "conversion_times", "pivot_table", "unpivot", "edit_distance_pairs",
    "zorder_by", "zorder_key", "compaction_plan", "shard_plan", "shard_plan_incremental", "containment_pairs", "leakage_safe_split", "consistent_sample", "set_similarity_pairs", "sorted_neighborhood_pairs", "cc_incremental",
    "gap_fill", "group_ols", "rolling_sum", "ewma", "ohlc", "twap", "theil_sen", "embedding_covariance", "pca_project",
    "pareto_frontier", "benford_digits", "rademacher_projection", "hard_negatives", "hard_negatives_ivf", "normalize_text",
    "group_mode", "group_mad", "group_gini", "abc_classes", "item_cooccurrence", "boilerplate_density",
    "ahash_images", "ahash_pairs",
    "attach_binary_meta", "decode_audio", "decode_images",
    "decode_pixel_stats", "extract_features",
    "resize_images", "sample_frames",
    "blocklist_filter", "classifier_score", "corpus_stats",
    "kmeans_quantized", "kmeans_train", "ivf_topk_trained",
    "group_outliers", "profile_columns", "weighted_sample",
    "ngram_logcount_score", "per_source_cap",
    "semantic_dedup",
    "heavy_hitters", "salted_join", "skew_histogram",
    "bloom_filter", "bloom_pruned_semi_join", "build_bloom",
]
