from .distance import cosine_similarity, dot_product, l2_distance, l2_norm
from .fuzzy import indel_ratio
from .jsonfn import json_path_col

__all__ = [
    "cosine_similarity",
    "dot_product",
    "l2_distance",
    "l2_norm",
    "indel_ratio",
    "json_path_col",
]
