"""BM25 + reciprocal-rank fusion: ranking behavior on a corpus with known
ground truth (the registry oracle proves engine-parity; these prove the
retrieval SEMANTICS are right)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vectolite_spark.operators.retrieval import BM25_B, BM25_K1, bm25_scores, rrf_fuse


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark engine spark engine spark engine"),  # tf-heavy on both terms
        (2, "spark runs on a cluster"),                 # one term, short
        (3, "an engine note " + "padding " * 40),       # one term, long doc
        (4, "nothing relevant here at all"),            # no match
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranking_and_values(corpus):
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(corpus, ["spark", "engine"]).collect()
    }
    # doc 4 matches nothing -> absent entirely (never scored, never scanned out)
    assert set(got) == {1, 2, 3}
    # doc 1 hits both terms with tf=3 each; docs 2/3 hit one term once,
    # and 3 is much longer, so length normalization must push it below 2
    assert got[1] > got[2] > got[3]

    # spot-check doc 2 against the closed-form formula
    n_docs, dls = 4, {1: 6, 2: 5, 3: 43, 4: 5}
    avgdl = sum(dls.values()) / n_docs
    df_spark = 2  # docs 1 and 2
    idf = math.log((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1)
    tf = 1
    expect = idf * tf * (BM25_K1 + 1) / (
        tf + BM25_K1 * ((1 - BM25_B) + BM25_B * dls[2] / avgdl)
    )
    assert got[2] == pytest.approx(expect, abs=1e-6)


def test_rrf_fusion_math(spark):
    lex = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    vec = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    got = {r["doc_id"]: r for r in rrf_fuse(lex, vec).collect()}
    assert set(got) == {10, 20, 30}
    # doc 20 appears in both lists -> sum of both contributions
    assert got[20]["rrf"] == pytest.approx(1 / 61 + 1 / 62, abs=1e-6)
    assert got[10]["rrf"] == pytest.approx(1 / 61, abs=1e-6)
    assert got[30]["rrf"] == pytest.approx(1 / 62, abs=1e-6)
    assert got[10]["rank_vec"] is None and got[30]["rank_lex"] is None
    # the doc present in both lists must outrank single-list docs here
    order = sorted(got, key=lambda d: (-got[d]["rrf"], d))
    assert order[0] == 20


def test_rerank_stub_deterministic_and_gated(spark):
    import hashlib

    from vectolite_spark.operators.retrieval import rerank

    docs = spark.createDataFrame(
        [(1, "first text"), (2, "second text"), (3, "third text")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1,), (3,)], "doc_id long")
    got = rerank(cands, docs, query="q").collect()
    # only candidates scored, ordered by score desc then id
    assert {r["doc_id"] for r in got} == {1, 3}
    scores = [r["rerank_score"] for r in got]
    assert scores == sorted(scores, reverse=True)

    def expect(text):
        h = hashlib.md5(f"q|{text}".encode()).hexdigest()[:8]
        return round(int(h, 16) % 1000000 / 1e6, 6)

    by_id = {r["doc_id"]: r["rerank_score"] for r in got}
    assert by_id == {1: expect("first text"), 3: expect("third text")}

    # a second run is bit-identical (the whole point of the stub)
    assert {r["doc_id"]: r["rerank_score"] for r in rerank(cands, docs, "q").collect()} == by_id

    # provider='local' must fail loudly without model libs, inside the udf
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        rerank(cands, docs, query="q", provider="local").collect()
    assert "sentence-transformers" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )


def test_bm25_append_matches_rebuild(spark, sf_dir, tmp_path):
    """v2 incremental append: build on half the corpus, append the other
    half, and every score must equal a from-scratch rebuild's
    bit-for-bit (df merge + exact integer avgdl arithmetic); a replayed
    delta hits the doclen overlap guard."""
    import pytest

    from vectolite_spark.operators.retrieval import (
        BM25Index,
        append_bm25_index,
        build_bm25_index,
    )
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    inc_path = str(tmp_path / "bm25_inc")
    build_bm25_index(half_a, inc_path, n_buckets=8)
    append_bm25_index(half_b, inc_path)
    full_path = str(tmp_path / "bm25_full")
    build_bm25_index(docs, full_path, n_buckets=8)

    inc, full = BM25Index(spark, inc_path), BM25Index(spark, full_path)
    assert (inc.n_docs, inc.total_dl, inc.avgdl) == (
        full.n_docs,
        full.total_dl,
        full.avgdl,
    )
    terms = ["vector", "scan", "window", "merge"]
    got = sorted(
        (r["doc_id"], r["score"]) for r in inc.scores(terms).collect()
    )
    want = sorted(
        (r["doc_id"], r["score"]) for r in full.scores(terms).collect()
    )
    assert got == want and got, "append must equal rebuild exactly"
    with pytest.raises(ValueError, match="already indexed"):
        append_bm25_index(half_b, inc_path)  # replayed delta


def test_bm25_index_matches_scan_side(spark, sf_dir, tmp_path):
    """The persisted inverted index must reproduce the scan-side BM25
    scores exactly, and the probe must read only the query terms'
    partitions (partition pruning on bucket)."""
    from vectolite_spark.operators.retrieval import (
        BM25Index,
        build_bm25_index,
        bm25_scores,
        term_bucket,
    )
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25idx")
    build_bm25_index(docs, path, n_buckets=16)
    idx = BM25Index(spark, path)
    terms = ["vector", "scan", "merge"]
    got = {(r["doc_id"], r["score"]) for r in idx.topk(terms, k=10).collect()}
    want = {
        (r["doc_id"], r["score"])
        for r in bm25_scores(docs, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    }
    assert got == want and len(got) == 10
    # pruning: the probe plan carries a bucket partition filter, and the
    # probed bucket set is exactly the terms' buckets
    plan = idx.scores(terms)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan
    assert {term_bucket(t, 16) for t in terms} == {
        term_bucket(t, idx.n_buckets) for t in terms
    }
    # stats survive the parquet round trip
    assert idx.n_docs == docs.count() and idx.n_buckets == 16


@pytest.mark.parametrize("seed", [3, 17, 92])
def test_bm25_matches_naive_reference(spark, seed):
    """Differential: the single-pass array-filter formulation must equal a
    naive pure-Python BM25 over randomized corpora (duplicate terms in
    the query, repeated tokens, docs with zero hits, single-token docs)."""
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(25)
    ]
    terms = ["alpha", "gamma", "alpha"]  # duplicate on purpose

    # naive reference
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    uniq = list(dict.fromkeys(terms))
    df = {t: sum(1 for v in toks.values() if t in v) for t in uniq}
    expected = {}
    for i, v in toks.items():
        s = 0.0
        hit = False
        for t in uniq:
            tf = v.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1)
            s += idf * tf * (BM25_K1 + 1) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * len(v) / avgdl)
            )
        if hit:
            expected[i] = round(s, 6)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_scores(sdf, terms).collect()}
    assert set(got) == set(expected)
    for i in expected:
        assert got[i] == pytest.approx(expected[i], abs=2e-6), i


def test_bm25_index_batch_topk_equals_per_query(spark, tmp_path):
    """One batched probe must produce exactly each query's individual
    indexed top-k (fan-out join and shared bucket read change the plan,
    never the answer), and the probe must prune to the union's buckets."""
    from vectolite_spark.operators.retrieval import BM25Index, build_bm25_index

    rows = [
        (1, "spark engine spark cluster"),
        (2, "query filter join merge"),
        (3, "stream window batch stream"),
        (4, "spark join window"),
        (5, "nothing relevant"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "bm25idx")
    build_bm25_index(docs, path, n_buckets=8)
    idx = BM25Index(spark, path)
    queries = [(10, ["spark", "join"]), (20, ["stream", "window"])]
    got = {
        (r["query_id"], r["rn"]): (r["doc_id"], r["score"])
        for r in idx.batch_topk(queries, k=3).collect()
    }
    for qid, terms in queries:
        solo = idx.topk(terms, k=3).collect()
        for rank, r in enumerate(solo, start=1):
            assert got[(qid, rank)] == (r["doc_id"], r["score"]), (qid, rank)
    assert len(got) == sum(
        min(3, idx.scores(t).count()) for _, t in queries
    )


def test_mmr_lambda_one_is_plain_topk(spark, sf_dir):
    """With lam=1 the diversity penalty vanishes, so MMR's greedy pick
    order must equal the plain rounded-cosine ranking."""
    from pyspark.sql import functions as F

    from vectolite_spark.operators.retrieval import mmr_rerank_topk
    from vectolite_spark.operators.topk import topk_batch
    from vectolite_spark.schema import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mmr = mmr_rerank_topk(embs, queries, n_candidates=50, k=10, lam=1.0)
    plain = topk_batch(queries, embs, k=10)
    got = {(r["query_id"], r["rn"]): r["vec_id"] for r in mmr.collect()}
    want = {(r["query_id"], r["rn"]): r["vec_id"] for r in plain.collect()}
    assert got == want


def test_mmr_suppresses_result_set_duplicates(spark):
    """Two identical top-scoring vectors: plain top-2 returns both copies;
    MMR's second pick must skip the duplicate for the distinct vector."""
    from pyspark.sql import functions as F

    from vectolite_spark.operators.retrieval import mmr_rerank_topk
    from vectolite_spark.operators.topk import topk_batch

    rows = [
        (1, [0.9, 0.4359, 0.0]),  # most relevant
        (2, [0.9, 0.4359, 0.0]),  # exact duplicate of 1 (mutual sim = 1)
        (3, [0.6, 0.0, 0.8]),     # less relevant, far from 1 (sim ~ 0.54)
        (4, [0.0, 1.0, 0.0]),     # barely relevant
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    plain = [r["vec_id"] for r in topk_batch(queries, embs, k=2).orderBy("rn").collect()]
    assert plain == [1, 2]
    mmr = [
        r["vec_id"]
        for r in mmr_rerank_topk(embs, queries, n_candidates=4, k=2, lam=0.5)
        .orderBy("rn")
        .collect()
    ]
    assert mmr == [1, 3]


def test_passage_highlight_finds_densest_window(spark):
    """The emitted window must contain the maximum number of term hits,
    verified against a brute-force sweep; zero-hit docs fall back to the
    document head (best_start=0, n_hits=0)."""
    from vectolite_spark.operators.retrieval import passage_highlight

    rows = [
        (1, "x " * 30 + "vector scan merge " + "y " * 30 + "vector", "en", "s", 0),
        (2, "no hits here at all just filler words and more filler", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in passage_highlight(docs, ("vector", "scan", "merge"), k=10, width=5).collect()}
    r1 = out[1]
    toks = rows[0][1].split()
    hits = [i for i, t in enumerate(toks) if t in ("vector", "scan", "merge")]
    best = max(
        range(max(1, len(toks) - 4)),
        key=lambda s: (sum(1 for p in hits if s <= p < s + 5), -s),
    )
    want_n = sum(1 for p in hits if best <= p < best + 5)
    assert r1["n_hits"] == want_n == 3
    assert r1["best_start"] == best
    assert r1["snippet"] == " ".join(toks[best : best + 5])
    if 2 in out:
        assert out[2]["n_hits"] == 0 and out[2]["best_start"] == 0


def test_mmr_matches_pure_python_reference(spark):
    """Differential: the distributed greedy (Arrow group task) must equal
    a transparent pure-Python MMR over randomized candidate sets —
    duplicate vectors, zero vectors, score ties, k > n."""
    import random

    import numpy as np

    from vectolite_spark._pandas_udfs import round_half_up
    from vectolite_spark.operators.retrieval import mmr_rerank_topk

    def ref_mmr(ids, vecs, qv, lam, k):
        def cos(a, b):
            aa, bb = float(np.dot(a, a)), float(np.dot(b, b))
            if aa == 0.0 or bb == 0.0:
                return 0.0
            return float(np.dot(a, b)) / ((aa ** 0.5) * (bb ** 0.5))

        rel = {i: float(round_half_up(cos(v, qv))) for i, v in zip(ids, vecs)}
        byid = dict(zip(ids, vecs))
        order = sorted(ids, key=lambda i: (-rel[i], i))
        chosen = [order[0]]
        while len(chosen) < min(k, len(ids)):
            best, best_score = None, None
            for i in ids:
                if i in chosen:
                    continue
                ms = max(
                    float(round_half_up(cos(byid[i], byid[c]))) for c in chosen
                )
                s = float(round_half_up(lam * rel[i] - (1.0 - lam) * ms))
                if best is None or s > best_score or (s == best_score and i < best):
                    best, best_score = i, s
            chosen.append(best)
        return chosen

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(3, 12)
        d = 4
        vecs = []
        for i in range(n):
            if i > 0 and rng.random() < 0.3:
                vecs.append(list(vecs[rng.randrange(i)]))  # duplicate
            elif rng.random() < 0.1:
                vecs.append([0.0] * d)  # zero vector
            else:
                vecs.append([round(rng.uniform(-1, 1), 3) for _ in range(d)])
        ids = list(range(1, n + 1))
        qv = [round(rng.uniform(-1, 1), 3) for _ in range(d)]
        lam = rng.choice([0.3, 0.5, 0.7])
        k = rng.choice([2, 5, n + 3])

        embs = spark.createDataFrame(
            list(zip(ids, vecs)), "vec_id long, embedding array<double>"
        )
        queries = spark.createDataFrame(
            [(0, qv)], "query_id long, query_vec array<double>"
        )
        got = [
            r["vec_id"]
            for r in mmr_rerank_topk(embs, queries, n_candidates=n, k=k, lam=lam)
            .orderBy("rn")
            .collect()
        ]
        want = ref_mmr(
            ids, [np.array(v) for v in vecs], np.array(qv), lam, k
        )
        assert got == want, f"trial {trial}: {got} != {want}"


# --------------------------------------------------------------------------
# Trigram substring index
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def trgm_index(spark, tmp_path_factory):
    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        build_trigram_index,
    )

    rows = [
        (1, "Merge Join beats nested loops"),   # case-insensitive match
        (2, "a merge join and a hash join"),
        (3, "merge sort only, no joins here"),
        (4, "hash aggregate"),
        (5, "xy"),                              # shorter than a trigram
        (6, "the word mergejoin fused"),        # no space -> no match
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("trgm") / "idx")
    build_trigram_index(docs, path, n_buckets=4)
    return docs, TrigramIndex(spark, path)


def test_trigram_extraction_matches_column_twin(spark):
    from reference_twins import trigram_col

    from vectolite_spark.operators.retrieval import extract_trigrams

    texts = ["Merge Join", "ab", "", "aaaa", "xyx yxy"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r["t"]: r["g"]
        for r in df.select("t", trigram_col(F.col("t")).alias("g")).collect()
    }
    for t in texts:
        assert got[t] == extract_trigrams(t), t
    assert extract_trigrams("ab") == []          # sub-trigram -> empty,
    assert extract_trigrams("aaaa") == ["aaa"]   # distinct, first-seen order


def test_trigram_search_exact_vs_scan(trgm_index):
    docs, idx = trgm_index
    got = sorted(
        r["doc_id"] for r in idx.search(docs, "Merge Join").collect()
    )
    want = sorted(
        r["doc_id"]
        for r in docs.filter(
            F.contains(F.lower("text"), F.lit("merge join"))
        ).collect()
    )
    assert got == want == [1, 2]


def test_trigram_candidates_are_superset(trgm_index):
    docs, idx = trgm_index
    cand = {r["doc_id"] for r in idx.candidates("merge join").collect()}
    true = {
        r["doc_id"]
        for r in docs.filter(
            F.contains(F.lower("text"), F.lit("merge join"))
        ).collect()
    }
    assert true <= cand
    # doc 6 ("mergejoin") shares every trigram except 'e j'/' jo' region —
    # whatever the probe picked, verification must have pruned it
    assert 6 not in {
        r["doc_id"] for r in idx.search(docs, "merge join").collect()
    }


def test_trigram_vocabulary_miss_short_circuits(trgm_index):
    docs, idx = trgm_index
    # 'zqz' never occurs -> probe returns no candidates, search is empty
    assert idx.candidates("zqzqzq").count() == 0
    assert idx.search(docs, "zqzqzq").count() == 0


def test_trigram_pattern_too_short_raises(trgm_index):
    docs, idx = trgm_index
    with pytest.raises(ValueError, match="full scan"):
        idx.search(docs, "ab").collect()


def test_trigram_batch_matches_per_query_scan(trgm_index):
    docs, idx = trgm_index
    queries = [(1, "merge join"), (2, "hash"), (3, "zqzqzq")]
    got = sorted(
        (r["query_id"], r["doc_id"])
        for r in idx.batch_search(docs, queries).collect()
    )
    want = sorted(
        (qid, r["doc_id"])
        for qid, pat in queries
        for r in docs.filter(
            F.contains(F.lower("text"), F.lit(pat.lower()))
        ).collect()
    )
    assert got == want
    assert (3, 5) not in got  # zero-match query contributes nothing


def test_regex_literal_extraction_rules():
    from vectolite_spark.operators.retrieval import regex_literals

    assert regex_literals("merge +joins?") == ["merge ", "join"]
    assert regex_literals("scan [a-z]+ merge") == ["scan ", " merge"]
    # escapes break runs and are dropped, never decoded
    assert regex_literals(r"fast\.\d+slow") == ["fast", "slow"]
    # ? / * / { drop the char they quantify (it may match zero times)
    assert regex_literals("abc*def") == ["def"]
    assert regex_literals("abcd{0,3}efg") == ["abc", "efg"]
    with pytest.raises(ValueError, match="full scan"):
        regex_literals("red|blue")
    with pytest.raises(ValueError, match="full scan"):
        regex_literals("(abc)def")
    # multi-char escape families must refuse, not leave their trailing
    # chars in the run: \x41bcdef matches "Abcdef", but naive 2-char
    # consumption extracts the spurious required run "41bcdef"
    for pat in (
        r"\x41bcdef",
        r"\07abc",
        r"\cAabc",
        r"\p{Lower}abc",
        r"\Qa.b\Eabc",
        r"\1abc",
        "abc\\",  # dangling backslash
    ):
        with pytest.raises(ValueError, match="full scan"):
            regex_literals(pat)
    # single-char escapes still just break the run (no refusal)
    assert regex_literals(r"abcd\nefgh") == ["abcd", "efgh"]
    assert regex_literals(r"abcd\wefgh") == ["abcd", "efgh"]


def test_regex_search_exact_vs_scan(trgm_index):
    docs, idx = trgm_index
    pat = "merge (joi|sor)"  # unsupported -> must refuse, not mis-serve
    with pytest.raises(ValueError):
        idx.regex_search(docs, pat)
    pat = "merge [a-z]+ beats?"
    got = sorted(
        r["doc_id"] for r in idx.regex_search(docs, pat).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in docs.filter(
            F.regexp_like(F.lower("text"), F.lit(pat))
        ).collect()
    )
    assert got == want
    # optional quantifiers must not lose matches: 'joins?' hits 'join'
    got2 = sorted(
        r["doc_id"]
        for r in idx.regex_search(docs, "merge joins?").collect()
    )
    assert got2 == [1, 2]


def test_regex_search_without_probeable_literal_raises(trgm_index):
    docs, idx = trgm_index
    with pytest.raises(ValueError, match="full scan"):
        idx.regex_search(docs, "a.b.c")  # runs all shorter than 3


def test_trigram_incremental_append_matches_rebuild(spark, tmp_path):
    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        append_trigram_index,
        build_trigram_index,
    )

    rows = [
        (1, "Merge Join beats nested loops"),
        (2, "a merge join and a hash join"),
        (3, "merge sort only, no joins here"),
        (4, "hash aggregate"),
        (5, "late arriving merge join doc"),
        (6, "another late hash join row"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old, new = docs.filter("doc_id <= 4"), docs.filter("doc_id > 4")

    inc_path = str(tmp_path / "inc")
    build_trigram_index(old, inc_path, n_buckets=4)
    append_trigram_index(new, inc_path)
    full_path = str(tmp_path / "full")
    build_trigram_index(docs, full_path, n_buckets=4)

    inc, full = TrigramIndex(spark, inc_path), TrigramIndex(spark, full_path)
    for pat in ("merge join", "hash"):
        assert sorted(
            r["doc_id"] for r in inc.search(docs, pat).collect()
        ) == sorted(r["doc_id"] for r in full.search(docs, pat).collect())
    # stats df merged exactly (not just search-equivalent)
    key = lambda df: sorted(
        (r["trigram"], r["df"]) for r in df._stats.collect()
    )
    assert key(inc) == key(full)
    # regex path over the incrementally-built index
    got = sorted(
        r["doc_id"] for r in inc.regex_search(docs, "merge joins?").collect()
    )
    assert got == [1, 2, 5]


def test_regex_literals_conservative_hypothesis():
    """THE property the regex index path rests on: for any supported
    pattern, every extracted literal appears verbatim in every string
    the regex matches — so trigram pruning can only over-approximate,
    never lose a match."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    atom = st.one_of(
        st.text(alphabet="abcxyz ", min_size=1, max_size=4),
        st.sampled_from(["[ab]", "[a-z]", ".", r"\d", r"\s"]),
    )
    quant = st.sampled_from(["", "?", "*", "+", "{1,2}", "{0,3}"])
    pattern_s = st.lists(
        st.tuples(atom, quant), min_size=1, max_size=5
    ).map(lambda parts: "".join(a + q for a, q in parts))

    @settings(max_examples=300, deadline=None)
    @given(pattern_s, st.text(alphabet="abcxyz d\t", max_size=30))
    def check(pattern, s):
        from vectolite_spark.operators.retrieval import regex_literals

        try:
            re.compile(pattern)
        except re.error:
            return
        try:
            lits = regex_literals(pattern)
        except ValueError:
            return  # refused patterns make no promise
        if re.search(pattern, s):
            for lit in lits:
                assert lit in s, (pattern, lits, s)

    check()


def test_trigram_compaction_preserves_results(spark, tmp_path):
    import glob

    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        append_trigram_index,
        build_trigram_index,
        compact_trigram_index,
    )

    rows = [(i, f"doc number {i} merge join filler") for i in range(1, 9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_trigram_index(docs.filter("doc_id <= 2"), path, n_buckets=2)
    for lo, hi in ((3, 4), (5, 6), (7, 8)):
        append_trigram_index(
            docs.filter(f"doc_id between {lo} and {hi}"), path
        )
    files_before = glob.glob(f"{path}/postings/bucket=*/*.parquet")
    before = sorted(
        r["doc_id"]
        for r in TrigramIndex(spark, path).search(docs, "merge join").collect()
    )
    n = compact_trigram_index(spark, path)
    files_after = glob.glob(f"{path}/postings/bucket=*/*.parquet")
    after = sorted(
        r["doc_id"]
        for r in TrigramIndex(spark, path).search(docs, "merge join").collect()
    )
    assert before == after == list(range(1, 9))
    assert n > 0
    # 1 build + 3 appends -> >= 4 files per touched bucket before; ONE after
    assert len(files_before) > len(files_after)
    per_bucket = {}
    for f in files_after:
        b = f.split("bucket=")[1].split("/")[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert all(v == 1 for v in per_bucket.values()), per_bucket


def test_trigram_similarity_topk(trgm_index, spark, tmp_path):
    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        build_trigram_index,
        extract_trigrams,
    )

    docs, _ = trgm_index
    # rebuild (module fixture predates the doclen artifact in some runs)
    path = str(tmp_path / "simidx")
    build_trigram_index(docs, path, n_buckets=4)
    idx = TrigramIndex(spark, path)
    got = idx.similarity_topk("merge joim", k=3).collect()  # typo'd query
    # expected ranking recomputed from the same extraction, pure Python
    q = set(extract_trigrams("merge joim"))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    sims = {
        i: round(len(q & set(extract_trigrams(t))) / len(q | set(extract_trigrams(t))), 6)
        for i, t in texts.items()
        if q & set(extract_trigrams(t))
    }
    want = sorted(sims, key=lambda i: (-sims[i], i))[:3]
    assert [r["doc_id"] for r in got] == want
    assert {1, 2} <= set(sims)  # the real merge-join docs are candidates
    assert got[0]["sim"] == pytest.approx(sims[want[0]])
    # a query sharing no trigrams returns empty, not an error
    assert idx.similarity_topk("zqzqzq").count() == 0
    with pytest.raises(ValueError):
        idx.similarity_topk("ab")


def test_trigram_search_survives_duplicate_postings(spark, tmp_path):
    """Defense-in-depth for at-least-once appends: even if the same
    delta is appended twice (replayed micro-batch without the marker),
    the countDistinct intersection must not drop true matches."""
    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        append_trigram_index,
        build_trigram_index,
    )

    rows = [(1, "merge join here"), (2, "hash only")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    late = spark.createDataFrame(
        [(3, "another merge join row")], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    build_trigram_index(docs, path, n_buckets=2)
    append_trigram_index(late, path)
    # a replay through the API now fails loudly (new-ids guard) without
    # touching the index...
    with pytest.raises(ValueError, match="already indexed"):
        append_trigram_index(late, path)
    # ...but the narrower crash window (postings appended, doclen not,
    # replay re-appends postings) can still duplicate posting ROWS —
    # simulate it by re-appending doc 3's postings directly
    dup = spark.read.parquet(f"{path}/postings").filter("doc_id = 3")
    dup.write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")
    alldocs = docs.unionByName(late)
    idx = TrigramIndex(spark, path)
    got = sorted(
        r["doc_id"] for r in idx.search(alldocs, "merge join").collect()
    )
    assert got == [1, 3]  # doc 3 must survive its duplicated postings


def test_trigram_append_rejects_already_indexed_ids(spark, tmp_path):
    """The new-ids caller contract is enforced, not assumed: re-appending
    an indexed doc would double-count df/n_tri and duplicate postings,
    silently degrading rarest-first probes — it must raise instead."""
    from vectolite_spark.operators.retrieval import (
        append_trigram_index,
        build_trigram_index,
    )

    docs = spark.createDataFrame(
        [(1, "merge join beats loops"), (2, "hash join row")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "guard")
    build_trigram_index(docs, path, n_buckets=4)
    with pytest.raises(ValueError, match="already indexed"):
        append_trigram_index(docs.filter("doc_id = 2"), path)
