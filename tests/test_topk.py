"""Flagship cosine top-k: reference semantics (SURVEY.md §2.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vectolite_spark.functions.vector import cosine_score
from vectolite_spark.operators.topk import topk_ids, topk_search
from vectolite_spark.schema import load_table


def _py_cosine(a, b):
    dot = sum(float(x) * float(y) for x, y in zip(a, b))
    na = math.sqrt(sum(float(x) ** 2 for x in a))
    nb = math.sqrt(sum(float(y) ** 2 for y in b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (na * nb)


def test_cosine_matches_reference_math(spark):
    rows = [
        (1, [1.0, 0.0, 2.0]),
        (2, [-1.0, 0.5, 0.25]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm guard -> 0.0 (vectolite.py:159-162)
        (4, [-1.0, -1.0, -1.0]),  # negative scores preserved, not clamped
    ]
    q = [1.0, 1.0, 1.0]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", cosine_score("embedding", q).alias("s")).collect()
    }
    for i, emb in rows:
        assert got[i] == pytest.approx(_py_cosine(emb, q), abs=1e-12)
    assert got[3] == 0.0
    assert got[4] < 0.0


def test_tie_break_ascending_id(spark):
    # equal vectors -> equal scores -> ids ascending (verified reference
    # behavior: stable sort in scan order, vectolite.py:171)
    rows = [(i, [1.0, 1.0]) for i in (5, 3, 9, 1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [r["vec_id"] for r in topk_ids(df, [1.0, 1.0], 3).collect()]
    assert got == [1, 3, 5]


def test_cosine_properties(spark):
    # SURVEY.md §5.2 item 3: |s| <= 1+eps; scale invariance for c > 0
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # Components are exactly 0 or bounded away from the float32 denormal
    # zone: with c >= 0.01 every scaled component stays >= 1e-5, far above
    # the ~1.2e-38 normal floor.  Without the bound hypothesis finds inputs
    # like 1.4e-45 where c*x underflows to 0.0 in float32 storage, the
    # zero-norm guard fires, and scale invariance legitimately breaks (the
    # reference engine stores the same underflowed zeros, vectolite.py:102)
    # -- the ENGINE is right and the unbounded property was too strong.
    finite = st.one_of(
        st.just(0.0),
        st.floats(min_value=1e-3, max_value=100),
        st.floats(min_value=-100, max_value=-1e-3),
    )

    @settings(max_examples=30, deadline=None)
    @given(
        vec=st.lists(finite, min_size=4, max_size=4),
        q=st.lists(finite, min_size=4, max_size=4),
        c=st.floats(min_value=0.01, max_value=50, allow_nan=False),
    )
    def check(vec, q, c):
        df = spark.createDataFrame(
            [(1, vec), (2, [c * x for x in vec])], "id long, embedding array<float>"
        )
        got = {
            r["id"]: r["s"]
            for r in df.select("id", cosine_score("embedding", q).alias("s")).collect()
        }
        assert abs(got[1]) <= 1.0 + 1e-9
        # float32 storage of c*vec perturbs the direction slightly
        assert got[2] == pytest.approx(got[1], abs=1e-3)

    check()


def test_arrow_and_expr_paths_agree(spark, sf_dir):
    from reference_twins import topk_ids_expr

    from vectolite_spark.schema import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    arrow = [(r["vec_id"], r["score"]) for r in topk_ids(embs, qvec, 20).collect()]
    expr = [
        (r["vec_id"], r["score"])
        for r in topk_ids_expr(embs, qvec, 20).collect()
    ]
    assert arrow == expr


def test_topk_batch_matches_single(spark, sf_dir):
    from vectolite_spark.operators.topk import topk_batch
    from vectolite_spark.schema import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id").isin([3, 77])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = topk_batch(queries, embs, k=5).collect()
    for qid in (3, 77):
        qvec = [float(x) for x in embs.filter(F.col("vec_id") == qid).first()["embedding"]]
        single = [(r["vec_id"], r["score"]) for r in topk_ids(embs, qvec, 5).collect()]
        got = [
            (r["vec_id"], r["score"])
            for r in sorted(
                (r for r in batch if r["query_id"] == qid), key=lambda r: r["rn"]
            )
        ]
        assert got == single


def test_topk_rejects_nonpositive_k(spark):
    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        topk_ids(df, [1.0], 0)


def test_topk_search_end_to_end(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = topk_search(docs, embs, qvec, k=5).collect()
    assert len(out) == 5
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert out[0]["doc_id"] == 0 and out[0]["score"] == pytest.approx(1.0)
    # filtered search only returns matching lang
    en = topk_search(docs, embs, qvec, k=5, doc_filter=F.col("lang") == "en").collect()
    assert all(r["lang"] == "en" for r in en)


def test_topk_batch_guards_driver_collect(spark):
    """VERDICT r6 item 4: the small-Q serving paths collect the query
    table driver-side; an over-ceiling query table must fail loudly with
    a pointer to the distributed path, never silently OOM the driver."""
    import pytest
    from pyspark.sql import functions as F

    from vectolite_spark.operators.topk import topk_batch

    embs = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    queries = spark.range(20).select(
        F.col("id").alias("query_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("float") for i in range(4)]).alias(
            "query_vec"
        ),
    )
    # under the ceiling: serves normally
    assert topk_batch(queries, embs, k=3, max_driver_rows=20).count() == 60
    # over the ceiling: loud failure naming the distributed alternative
    with pytest.raises(ValueError, match="topk_batch_lsh"):
        topk_batch(queries, embs, k=3, max_driver_rows=19)


def test_srp_batch_probe_guards_driver_collect(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from vectolite_spark.operators.ann import build_srp_index, srp_index_topk_batch
    from vectolite_spark.schema import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "srp_guard")
    build_srp_index(embs, path, n_tables=4, n_planes=3)
    queries = embs.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert srp_index_topk_batch(
        spark, path, queries, k=2, max_driver_rows=5
    ).count() > 0
    with pytest.raises(ValueError, match="topk_batch_lsh"):
        srp_index_topk_batch(spark, path, queries, k=2, max_driver_rows=4)
