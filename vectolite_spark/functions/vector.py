"""Vector scalar functions as native Spark column expressions.

Reference semantics (verified, SURVEY.md §2.3; /root/reference/vectolite.py:151-162):
cosine(a, b) = dot(a,b) / (||a||*||b||), computed in float64 over float32
inputs, with a zero-norm guard -> score 0.0; negative scores preserved
(no clamping).

Spark-first design: the score is a pure column expression over higher-order
functions (``zip_with`` + ``aggregate``) — it stays JVM-side inside
whole-stage codegen, no Python in the hot path. The top-k operators
score with the Arrow-batched matmul kernel instead
(``_pandas_udfs.make_batch_topk_mapper``); on wide vectors the matmul
wins, on dim<=64 the codegen expression is competitive.

At 100 TB: the expression evaluates per-row on executors with no driver
involvement; the query vector ships as a literal inside the serialized plan
(a few hundred bytes) — no broadcast join needed for single-query top-k.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def query_vector_literal(qvec: Sequence[float]) -> Column:
    """Embed a driver-side query vector into the plan as an array literal."""
    return F.array(*[F.lit(float(x)) for x in qvec])


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision (matches oracle order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: Column | str) -> Column:
    """L2-normalize an array<float> column (zero vectors pass through unchanged).

    Normalized vectors turn Euclidean LSH (MLlib BucketedRandomProjectionLSH)
    into a cosine-similarity index: ||a-b||^2 = 2 - 2*cos(a,b).
    """
    col = F.col(a) if isinstance(a, str) else a
    nrm = l2_norm(col)
    return F.when(nrm == 0.0, col.cast("array<double>")).otherwise(
        F.transform(col, lambda x: x.cast("double") / nrm)
    )


def cosine_score(emb: Column | str, qvec: Sequence[float]) -> Column:
    """Cosine similarity of an embedding column against a fixed query vector.

    Exactly the reference's scoring semantics (vectolite.py:151-162):
    float64 math, zero-norm (either side) -> 0.0, no clamping.
    """
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qvec))
    if qnorm == 0.0:
        return F.lit(0.0)
    q = query_vector_literal(qvec)
    dot = dot_product(emb, q)
    dnorm = l2_norm(emb)
    return F.when(dnorm == 0.0, F.lit(0.0)).otherwise(dot / (dnorm * F.lit(qnorm)))
