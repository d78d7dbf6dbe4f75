"""Reusable operator library: the engine API a pipeline author calls
directly (the query registry in ``plans/`` exercises the same
primitives in oracle-checked form)."""

from portfolio1_etl_spark.operators.multimodal import (
    MEDIA_FEATURES_SCHEMA,
    MEDIA_SCHEMA,
    decode_bmp,
    decode_media,
    decode_media_features,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
    extract_mp4_samples,
    featurize_media,
    image_metadata_media,
    probe_image_dimensions,
    read_media_dir,
    resize_media,
    sample_frames,
)
from portfolio1_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg
from portfolio1_etl_spark.operators.gif import decode_gif, encode_gif
from portfolio1_etl_spark.operators.sinks import (
    add_chain_constraint,
    analyze_chain,
    chain_constraints,
    chain_stats,
    clone_chain,
    compact_parquet,
    drop_chain_constraint,
    overwrite_partitions,
    prune_versions,
    read_changes,
    read_version,
    write_jsonl,
    write_orc,
    write_partitioned,
    write_range_sorted,
    write_report_csv,
    write_snapshot,
    write_versioned,
)
from portfolio1_etl_spark.operators.zorder import (
    scan_fraction,
    write_zordered,
    zorder_key,
)
from portfolio1_etl_spark.operators.ann_index import (
    build_ivf_index,
    cell_stats,
    ingest_vectors,
    query_ivf_index,
    rebalance_index,
)
from portfolio1_etl_spark.operators.dedup import (
    connected_components,
    hot_shingles,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    shingle_hashes,
    with_repetition_cols,
    simhash,
    verify_candidates,
)
from portfolio1_etl_spark.operators.similarity import (
    brute_force_topk,
    quantized_topk,
    scalar_quantize,
    signbit_lsh_topk,
    threshold_pairs,
    with_norms,
)
from portfolio1_etl_spark.operators.sketches import (
    cms_build,
    cms_build_weighted,
    cms_estimate,
    cms_merge,
)
from portfolio1_etl_spark.operators.clustering import (
    assign_cells,
    lloyd_kmeans,
    update_centroids,
)
from portfolio1_etl_spark.operators.graph import out_weights, pagerank
from portfolio1_etl_spark.operators.pq import (
    pq_topk,
    split_subspaces,
    train_codebook,
)
from portfolio1_etl_spark.operators.bucketing import bucketed, write_bucketed
from portfolio1_etl_spark.operators.sketches import (
    bloom_build,
    bloom_merge,
    bloom_might_contain,
    bloom_probe,
)
from portfolio1_etl_spark.operators.mixture import (
    budget_prefix_select,
    naive_budget_prefix,
)
from portfolio1_etl_spark.operators.bpe_train import (
    train_bpe_merges,
    train_bpe_state,
)
from portfolio1_etl_spark.operators.logreg import train_logreg
from portfolio1_etl_spark.operators.checkpointing import materialize

__all__ = [
    "MEDIA_SCHEMA",
    "MEDIA_FEATURES_SCHEMA",
    "read_media_dir",
    "featurize_media",
    "decode_media",
    "decode_media_features",
    "encode_ppm",
    "decode_ppm",
    "encode_wav",
    "decode_wav",
    "resize_media",
    "sample_frames",
    "compact_parquet",
    "write_partitioned",
    "write_report_csv",
    "write_snapshot",
    "shingle_hashes",
    "hot_shingles",
    "jaccard_pairs",
    "minhash_signatures",
    "lsh_candidates",
    "verify_candidates",
    "simhash",
    "with_norms",
    "brute_force_topk",
    "threshold_pairs",
    "signbit_lsh_topk",
    "write_bucketed",
    "bucketed",
    "write_orc",
    "write_jsonl",
    "overwrite_partitions",
    "connected_components",
    "with_repetition_cols",
    "scalar_quantize",
    "quantized_topk",
    "cms_build",
    "cms_build_weighted",
    "cms_estimate",
    "cms_merge",
    "assign_cells",
    "lloyd_kmeans",
    "update_centroids",
    "out_weights",
    "pagerank",
    "pq_topk",
    "split_subspaces",
    "train_codebook",
    "bloom_build",
    "bloom_merge",
    "bloom_might_contain",
    "bloom_probe",
    "budget_prefix_select",
    "naive_budget_prefix",
    "train_bpe_merges",
    "train_bpe_state",
    "train_logreg",
    "build_ivf_index",
    "ingest_vectors",
    "query_ivf_index",
    "write_range_sorted",
    "write_versioned",
    "read_version",
    "read_changes",
    "prune_versions",
    "clone_chain",
    "analyze_chain",
    "chain_stats",
    "add_chain_constraint",
    "drop_chain_constraint",
    "chain_constraints",
    "materialize",
]
