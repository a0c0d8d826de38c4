"""EXT query aggregator — the training-data-pipeline surface over
``documents`` and ``embeddings`` (SURVEY.md §2 EXT rows, §7.4),
split by family:

- ext_dedup:      x1/x2/x8/x8b/x9/x9b/x15/x21/x24/x29/x32
- ext_similarity: x3/x10/x11/x14/x22/x27
- ext_text:       x4/x5/x6/x7/x23/x25/x26/x30
- ext_pipeline:   x17/x18/x19/x20/x28/x31/x12/x13/f3b

Importing this module registers every EXT query (the registry's
_ensure_loaded imports the five family modules itself). Driver-facing
order is pinned by registry.DRIVER_WINDOW, not by import order. Re-exports below keep
the historical ``queries.extensions`` import surface working.
"""

from __future__ import annotations

from server_spark.queries import (  # noqa: F401
    ext_analytics,
    ext_dedup,
    ext_pipeline,
    ext_similarity,
    ext_text,
)
from server_spark.queries.ext_common import (  # noqa: F401
    JACCARD_MIN,
    N_QUERY_VECS,
    NEARDUP_COS,
    TOPK,
    _docs,
    _emb,
)
from server_spark.queries.ext_dedup import (  # noqa: F401
    x1_exact_dedup,
    x2_ngram_jaccard,
    x8_minhash_neardup,
    x8b_minhash_oracle,
    x9_simhash_fingerprint,
    x9b_simhash_oracle,
    x15_neardup_components,
    x21_corpus_build,
    x24_cross_source_contamination,
    x29_eval_decontaminate,
    x32_cluster_survivors_quality,
)
from server_spark.queries.ext_pipeline import (  # noqa: F401
    BATCH_SIZE,
    PACK_BUDGET,
    STRATUM_N,
    f3b_fuzzy_rank_udf,
    x12_multimodal_meta,
    x13_udtf_chunks,
    x17_hash_split,
    x18_quality_filter,
    x19_stratified_sample,
    x20_sequence_packing,
    x28_source_mix_budget,
    x31_length_batching,
)
from server_spark.queries.ext_similarity import (  # noqa: F401
    _seeded_tables,
    x3_cosine_topk,
    x10_embedding_neardup,
    x11_lsh_cosine_topk,
    x14_ivf_topk,
    x22_embedding_quantize,
    x27_norm_outlier_trim,
)
from server_spark.queries.ext_text import (  # noqa: F401
    TFIDF_K,
    VOCAB_K,
    x4_text_quality,
    x5_langid_heuristic,
    x6_doc_fingerprint,
    x7_token_counts,
    x23_vocab_topk,
    x25_repetition_ratio,
    x26_pii_scrub,
    x30_tfidf_topterms,
)
