"""The benchmark's query mixes.

Each mix is a fixed list of registered queries run by one closed-loop
client; the cold pass runs them in the listed order, and the workload
seed only permutes the order within each warm pass.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # Text statistics, exact and near dedup and kNN over documents and
    # embeddings: eager localCheckpoint builds inside the query call,
    # shingle and pair shuffles, and q67's per-session memo on the first
    # pass.
    "curation": [
        "q55_tfidf",
        "q5h_winnow_fingerprint",
        "q63_minhash_lsh_pairs",
        "q65_ngram_jaccard",
        "q67_dedup_clusters",
        "q70_knn_bruteforce",
    ],
    # Writes beside reads: pandas-UDF image decode (Python workers and
    # Arrow), a sharded parquet write, and bounded Structured Streaming
    # runs.
    "ingest": [
        "q81_pixel_stats",
        "q8d_jpeg_decode",
        "q84_etl_sharded_write",
        "q47_stream_tumbling_window",
        "q8j_stream_image_ingest",
    ],
}

# The warm-up query, run once on the small catalog during set-up.
WARMUP_QUERY = "q01_pricing_summary"
