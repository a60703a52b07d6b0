from graphraft_spark.search.text import match_entities
from graphraft_spark.search.vector import (
    cosine_col,
    dot_col,
    knn,
    l2_normalize_col,
)

__all__ = [
    "match_entities",
    "cosine_col",
    "dot_col",
    "knn",
    "l2_normalize_col",
]
