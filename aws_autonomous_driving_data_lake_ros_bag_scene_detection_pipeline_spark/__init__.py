"""PySpark-native analytics engine with the query/data-processing
capabilities of aws-samples/aws-autonomous-driving-data-lake-ros-bag-scene-detection-pipeline.

The reference (at /root/reference, studied in SURVEY.md) is a three-hop
pipeline: ROS bag extraction -> topic synchronization onto a 10 Hz grid
(spark_scripts/synchronize_topics.py) -> scene-interval detection
(spark_scripts/detect_scenes.py). This package re-expresses every
operator Spark-first (DataFrame/SQL, Catalyst-optimizable) and adds the
large-scale training-data-pipeline surface (dedup, similarity search,
text analysis, multimodal plumbing).

Modules
-------
- ``session``   : tuned SparkSession builder (AQE, UTC, Arrow).
- ``sources``   : parquet/table readers, rosbag-shaped source plumbing.
- ``operators`` : alignment (spine/LOCF/as-of join), sessionization,
                  pivot, top-k, dedup, similarity — pure DF->DF.
- ``functions`` : column-level helpers (text stats, vector math).
- ``pipeline``  : synchronize_topics + detect_scenes re-implementations.
- ``streaming`` : Structured Streaming replacements for the trigger
                  Lambda (completeness-gated micro-batching).
- ``plans``     : plan-inspection helpers used by tests/bench.
"""

__version__ = "0.1.0"

from .operators import (  # noqa: E402,F401
    asof_join, binned_interval_join, brute_force_topk, byte_histogram_features,
    cascade_update, change_point_intervals, chunk_documents,
    chunk_documents_sentences, contamination, decode_audio,
    decode_image, downsample_cascade, dup_clusters, duplicate_ids,
    check_expectations, violation_samples,
    distinct_rollup_check, distinct_sketch, duplicate_passages,
    rollup_distinct, media_metadata,
    parse_avi, parse_gif_frames, parse_mp4,
    edit_distance_pairs, embedding_moments, fit_logistic, fit_pca,
    freq_estimate, freq_sketch, funnel, funnel_per_session,
    fuzzy_join, logistic_expr,
    score_logistic, LogisticModel,
    histogram_sketch, project_embeddings, quantile_estimate,
    rollup_freq, rollup_histogram, PCAModel,
    embedding_dup_pairs, embedding_index, embedding_match_pairs,
    embedding_near_dedup, exact_dedup,
    semantic_cell_drops, semantic_cells, semantic_dedup, semantic_dup_pairs, forward_fill, hash_sample, hash_split, interpolate_poses, ivf_index, ivf_pivots, ivf_pq_index, ivf_pq_probe, ivf_probe, ivf_repivot, ivf_topk, jaccard, kmeans_pivots, lag_lead, opq_rotation, pq_codebooks, pq_encode, rotate_vectors, rotation_model,
    lm_bigram_score,
    banding_for_recall, cache_scope, cell_balance, lsh_topk, minhash_index, minhash_lsh_pairs, minhash_match_pairs,
    minhash_signature, near_dedup, ngram_jaccard_pairs,
    merge_intervals, pack_media, pack_sequences, pivot_wide, profile_drift, profile_table,
    bm25_deletion_deltas, bm25_probe, bm25_probe_many, bm25_topk,
    corpus_report, corpus_stats,
    decontaminate,
    detect_anomalies, detect_anomalies_multi, deterministic_shuffle, histogram_psi,
    inverted_index, probe_buckets, rrf_fuse, term_stats,
    estimate_lag, motif_bucket_drops, motif_pairs, pattern_topk, pattern_topk_multi, repartition_for_media, xcorr_lags, resample_asof, running_agg, sliding_windows,
    reservoir_sample, salted_join, weighted_sample,
    remove_duplicate_spans,
    resize_pixels, sample_frames, sessionize, simhash, simhash_pairs,
    snapshot_diff, stratified_hash_sample,
    temperature_mix_rates, tfidf_top_terms, token_repetition,
    top_k_per_group, union_by_name, windowed_agg_batch,
)
from .session import get_spark, set_state_store  # noqa: E402,F401
from . import functions  # noqa: E402,F401
