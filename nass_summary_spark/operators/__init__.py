from nass_summary_spark.operators.rollup import leaf_rows, path_prefixes, path_rollup
from nass_summary_spark.operators.merge import presence_catalog, total_and_sum_merge
from nass_summary_spark.operators.pivot import class_pivot, crosstab
from nass_summary_spark.operators.fallback import multilevel_fallback
from nass_summary_spark.operators.weighted import fractional_weighted_rollup
from nass_summary_spark.operators.asof import asof_join
from nass_summary_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from nass_summary_spark.operators.similarity import (
    cosine_dedup_pairs,
    knn_bruteforce,
    knn_lsh,
)

__all__ = [
    "path_prefixes",
    "path_rollup",
    "leaf_rows",
    "total_and_sum_merge",
    "presence_catalog",
    "class_pivot",
    "crosstab",
    "multilevel_fallback",
    "fractional_weighted_rollup",
    "asof_join",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "cosine_dedup_pairs",
    "knn_bruteforce",
    "knn_lsh",
]
