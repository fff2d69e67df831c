from vectolite_spark.functions.vector import (
    cosine_score,
    dot_product,
    l2_norm,
    l2_normalize,
    query_vector_literal,
)

__all__ = [
    "cosine_score",
    "dot_product",
    "l2_norm",
    "l2_normalize",
    "query_vector_literal",
]
