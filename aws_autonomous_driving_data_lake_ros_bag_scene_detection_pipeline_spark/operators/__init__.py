from ..sources.tables import union_by_name
from .caching import cache_scope, register_persist
from .dedup import (
    banding_for_recall,
    contamination, decontaminate, dup_clusters, duplicate_ids,
    duplicate_passages,
    exact_dedup, jaccard, keep_cluster_representatives,
    minhash_index, minhash_lsh_pairs, minhash_match_pairs,
    minhash_signature, near_dedup,
    ngram_jaccard_pairs, remove_duplicate_spans, simhash, simhash_pairs,
)
from .multimodal import (
    byte_histogram_features, decode_audio, decode_image,
    media_metadata, pack_media,
    parse_avi, parse_gif_frames, parse_mp4,
    repartition_for_media, resize_pixels, sample_frames,
)
from .classifier import (
    LogisticModel, fit_logistic, logistic_expr, score_logistic,
)
from .diff import snapshot_diff
from .expectations import check_expectations, violation_samples
from .embeddings import (
    PCAModel, embedding_moments, fit_pca, project_embeddings,
)
from .fuzzy import edit_distance_pairs, fuzzy_join
from .joins import binned_interval_join, salted_join
from .pivot import pivot_wide
from .profile import profile_drift, profile_table
from .quality import (  # noqa: F401
    corpus_report, lm_bigram_score, tfidf_top_terms, token_repetition,
)
from .sampling import (
    chunk_documents, chunk_documents_sentences, deterministic_shuffle, hash_sample,
    hash_sample_sql, hash_split,
    pack_sequences, reservoir_sample, reservoir_sample_sql,
    stratified_hash_sample, temperature_mix_rates, weighted_sample,
)
from .similarity import (
    brute_force_topk, embedding_dup_pairs, embedding_index,
    embedding_near_dedup,
    cell_balance, embedding_match_pairs, ivf_index, ivf_pivots,
    ivf_pq_index, ivf_pq_probe, ivf_probe, ivf_repivot, ivf_topk,
    kmeans_pivots, lsh_topk, opq_rotation, pq_codebooks, pq_encode,
    rotate_vectors, rotation_model,
    semantic_cell_drops, semantic_cells, semantic_dedup,
    semantic_dup_pairs,
)
from .sketches import (
    distinct_rollup_check, distinct_sketch, freq_estimate, freq_sketch,
    histogram_psi, histogram_sketch, quantile_estimate, rollup_distinct,
    rollup_freq,
    rollup_histogram,
)
from .sessionize import (
    change_point_intervals, funnel, funnel_per_session,
    merge_intervals, sessionize,
)
from .timeseries import (
    asof_join, cascade_update, detect_anomalies, detect_anomalies_multi, downsample_cascade,
    forward_fill, interpolate_poses, lag_lead,
    windowed_agg_batch,
    resample_asof, running_agg,
)
from .tsmatch import (  # noqa: F401
    estimate_lag, motif_bucket_drops, motif_pairs, pattern_topk, pattern_topk_multi, sliding_windows, xcorr_lags,
)
from .retrieval import (  # noqa: F401
    bm25_deletion_deltas, bm25_probe, bm25_probe_many, bm25_topk,
    corpus_stats, inverted_index,
    probe_buckets,
    rrf_fuse, term_stats,
)
from .audio import (  # noqa: F401
    mixdown_audio, resample_audio,
)
from .vp8l import (  # noqa: F401
    decode_webp, parse_webp_container,
)
from .sensors import (  # noqa: F401
    COMPRESSED_IMAGE_DEFINITION, IMAGE_DEFINITION,
    POINTCLOUD2_DEFINITION, decode_pointcloud2,
    decode_ros_compressed_image, decode_ros_image,
    ros_image_media_info, transform_points, voxel_downsample,
)
from .topk import top_k_per_group

__all__ = [
    "asof_join", "binned_interval_join", "brute_force_topk",
    "byte_histogram_features",
    "cascade_update", "change_point_intervals", "chunk_documents",
    "chunk_documents_sentences",
    "contamination", "decontaminate",
    "decode_audio", "decode_image", "downsample_cascade",
    "dup_clusters",
    "duplicate_ids", "embedding_dup_pairs", "embedding_index",
    "semantic_cell_drops", "semantic_cells", "semantic_dedup",
    "semantic_dup_pairs",
    "embedding_match_pairs", "exact_dedup", "forward_fill",
    "bm25_probe", "bm25_topk", "corpus_stats", "deterministic_shuffle",
    "hash_sample", "hash_sample_sql", "hash_split", "ivf_index", "ivf_pivots",
    "cell_balance", "ivf_repivot", "kmeans_pivots",
    "ivf_pq_index", "ivf_pq_probe", "opq_rotation", "pq_codebooks",
    "pq_encode", "rotate_vectors", "rotation_model",
    "ivf_probe", "ivf_topk", "jaccard", "lag_lead",
    "banding_for_recall", "cache_scope", "lm_bigram_score", "register_persist", "lsh_topk", "minhash_lsh_pairs",
    "merge_intervals", "minhash_index", "minhash_match_pairs",
    "minhash_signature", "near_dedup", "ngram_jaccard_pairs", "pack_media", "pack_sequences", "pivot_wide", "salted_join",
    "profile_table", "repartition_for_media", "resample_asof",
    "detect_anomalies", "detect_anomalies_multi", "inverted_index", "rrf_fuse",
    "resize_pixels", "running_agg",
    "motif_bucket_drops", "motif_pairs", "pattern_topk", "pattern_topk_multi", "sliding_windows",
    "distinct_rollup_check", "distinct_sketch", "rollup_distinct",
    "media_metadata", "parse_avi", "parse_gif_frames", "parse_mp4", "sample_frames", "sessionize", "simhash", "simhash_pairs", "stratified_hash_sample",
    "corpus_report",
    "temperature_mix_rates", "tfidf_top_terms",
    "token_repetition", "top_k_per_group", "union_by_name",
]
