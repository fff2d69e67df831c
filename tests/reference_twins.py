"""Reference twins of the engine's Arrow-batched kernels.

Most twins state an operator's semantics as Spark column expressions
(interpreted higher-order functions, no Python in the plan); a few
derive a kernel's output from its written formula in plain Python. They
are many times slower than the engine's forms, so they live here, where
the parity tests compare the engine against them row for row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectolite_spark.functions.vector import cosine_score
from vectolite_spark.operators.dedup import norm_tokens, widen_small_input
from vectolite_spark.operators.retrieval import TRGM_N
from vectolite_spark.operators.topk import SCORE_DECIMALS


def topk_ids_expr(
    embeddings: DataFrame, qvec: Sequence[float], k: int, id_col: str = "vec_id"
) -> DataFrame:
    """``topk.topk_ids`` with the codegen cosine expression as the scorer."""
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_score(F.col("embedding"), qvec), SCORE_DECIMALS).alias(
            "score"
        ),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def simhash_expr(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """``dedup.simhash`` as ``bits`` chained ``aggregate()`` vote folds."""
    hexchars = bits // 4
    hv = F.transform(
        norm_tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, hexchars), 16, 10).cast("long"),
    )

    def voter(m):
        return lambda acc, x: acc + F.when(x.bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)

    sig = None
    for j in range(bits):
        mask = 1 << j
        vote = F.aggregate(hv, F.lit(0), voter(mask))
        bit = F.when(vote > 0, F.lit(mask)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return df.select(F.col(id_col), sig.cast("long").alias("simhash"))


def fingerprint_expr(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", gram: int = 8
) -> DataFrame:
    """``textstats.fingerprint``: one interpreted md5 per character offset."""
    t = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (gram - 1)),
        lambda i: F.md5(t.substr(i, F.lit(gram))),
    )
    fp = F.when(F.length(t) >= gram, F.array_min(grams)).otherwise(F.md5(t))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def trigram_col(text_col):
    """Distinct character trigrams of ``lower(text)`` as an array
    expression. Texts shorter than 3 chars produce an empty array (the
    WHEN guard matters: ``sequence(1, 0)`` would DESCEND, not return
    empty)."""
    lt = F.lower(text_col)
    n = F.length(lt)
    idx = F.when(n >= TRGM_N, F.sequence(F.lit(1), n - (TRGM_N - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(F.transform(idx, lambda i: lt.substr(i, F.lit(TRGM_N))))


def cdc_chunk_rows_catalyst(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """``dedup._cdc_chunk_rows`` as array expressions: same boundary rule
    (a ``window``-char context whose md5 starts '00'), same output rows."""
    text = F.col(text_col)
    n = F.length(text)
    positions = F.when(n >= window, F.sequence(F.lit(1), n - window + 1)).otherwise(
        F.array().cast("array<int>")
    )
    bs = F.filter(
        positions,
        lambda i: F.md5(text.substr(i, F.lit(window))).substr(1, 2) == "00",
    )
    cuts = F.concat(F.array(F.lit(1)), bs, F.array(n + 1))
    idxs = F.sequence(F.lit(0), F.size(cuts) - 2)
    chunks = F.filter(
        F.transform(
            idxs,
            lambda j: text.substr(F.get(cuts, j), F.get(cuts, j + 1) - F.get(cuts, j)),
        ),
        lambda c: F.length(c) > 0,
    )
    return (
        widen_small_input(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(chunks).alias("_chunk"))
        .select(
            F.col(id_col),
            F.md5("_chunk").alias("chunk_hash"),
            F.length("_chunk").alias("_len"),
        )
    )


def srp_codes_from_formula(vecs, n_tables: int, n_planes: int) -> list[list[int]]:
    """Each vector's SRP bucket codes straight from the formula, one row
    at a time: component j of plane g is +1 iff the first hex nibble of
    md5('g:j') is >= 8 (else -1), and table t's code sets bit i when the
    vector's dot product with plane t*n_planes + i is >= 0."""
    import hashlib

    def sign(g: int, j: int) -> float:
        nib = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[0], 16)
        return 1.0 if nib >= 8 else -1.0

    out = []
    for v in vecs:
        v = [float(x) for x in v]
        row = []
        for t in range(n_tables):
            code = 0
            for i in range(n_planes):
                g = t * n_planes + i
                dot = 0.0
                for j, x in enumerate(v):
                    dot += sign(g, j) * x
                code |= int(dot >= 0) << i
            row.append(code)
        out.append(row)
    return out
