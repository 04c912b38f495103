"""North-star extension operators (SURVEY.md §2.8).

Beyond the reference's surface: the operations a large-scale LLM training-data
pipeline needs — deduplication, similarity search, text analysis, temporal
joins, multimodal columns — built Spark-first on the ``documents`` /
``embeddings`` / ``events`` tables.
"""

from map_spark_sql_spark.operators.dedup import (
    content_hash,
    exact_dedup,
    method_agreement,
    minhash_signatures,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from map_spark_sql_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_pairs_lsh,
    diversity_stats,
    mmr_rerank,
    topk_batch,
    topk_filtered,
)
from map_spark_sql_spark.operators.grouped import geomean_by, zscore_by
from map_spark_sql_spark.operators.packing import (
    global_running_sum,
    pack_sequences,
    select_token_budget,
)
from map_spark_sql_spark.operators.skew import salted_collect_list, salted_topk
from map_spark_sql_spark.operators.temporal import (
    asof_join,
    interval_band_join,
    interval_overlap_join,
)
from map_spark_sql_spark.operators.text import (
    quality_stats,
    rolling_fingerprint,
    token_counts,
    token_fingerprint,
)

__all__ = [
    "content_hash",
    "exact_dedup",
    "minhash_signatures",
    "minhash_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_pairs_lsh",
    "diversity_stats",
    "method_agreement",
    "mmr_rerank",
    "topk_batch",
    "topk_filtered",
    "asof_join",
    "salted_collect_list",
    "salted_topk",
    "geomean_by",
    "zscore_by",
    "global_running_sum",
    "pack_sequences",
    "select_token_budget",
    "interval_band_join",
    "interval_overlap_join",
    "quality_stats",
    "rolling_fingerprint",
    "token_counts",
    "token_fingerprint",
]
