"""Dedup suite: behavior on synthesized near-duplicate corpora (the driver
tables have few dups; these tests construct known ground truth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectolite_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_srp_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_dup_groups,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain falls softly "
    "on the quiet green meadow near the old stone bridge"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("quiet", "silent")),  # near dup
        (4, "completely different text about database engines and queries"),
        (5, "another unrelated document discussing parquet file formats"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(corpus):
    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(corpus).collect()}
    assert out[1] == 2  # docs 1+2 collapse, keeper is min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1
    assert 2 not in out


def test_minhash_identical_signatures_for_dups(corpus):
    sigs = {r["doc_id"]: tuple(r[f"mh{h}"] for h in range(8))
            for r in minhash_signatures(corpus, num_hashes=8).collect()}
    assert sigs[1] == sigs[2]
    # near-dup shares most minhashes, unrelated docs share none
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_near >= 4
    assert shared_far == 0


def test_minhash_lsh_pairs_find_near_dups(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_sim"]
             for r in minhash_lsh_pairs(corpus).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught by banding
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_near_dup_proximity(corpus):
    s = {r["doc_id"]: r["simhash"] for r in simhash(corpus).collect()}
    assert s[1] == s[2]
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(s[1], s[3]) <= 8  # near dup: few of the 32 bits differ
    assert ham(s[1], s[4]) > ham(s[1], s[3])
    groups = simhash_dup_groups(corpus).collect()
    assert any(g["keep_id"] == 1 and g["group_size"] >= 2 for g in groups)


def test_ngram_jaccard_pairs(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(corpus, min_jaccard=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_embedding_cosine_pairs(spark):
    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.999, 0.01, 0.0]),  # near dup of 1
        (3, 0, [0.0, 1.0, 0.0]),  # orthogonal, same block
        (4, 1, [1.0, 0.0, 0.0]),  # identical to 1 but different block
    ]
    embs = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["score"]
             for r in embedding_cosine_pairs(embs, min_score=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert (1, 3) not in pairs  # below threshold
    assert (1, 4) not in pairs  # blocked apart


def test_simhash_arrow_matches_expr(corpus):
    from reference_twins import simhash_expr

    arrow = {r["doc_id"]: r["simhash"] for r in simhash(corpus).collect()}
    expr = {r["doc_id"]: r["simhash"] for r in simhash_expr(corpus).collect()}
    assert arrow == expr


def test_simhash_r1_finds_one_bit_perturbation(spark):
    # craft a corpus where two docs land exactly 1 simhash bit apart (in
    # the 16-bit space, where a 200-candidate search finds one fast): r=0
    # (identical signatures) misses the pair, r=1's bit-flip probes find it
    import hashlib
    import re

    def py_simhash(text, bits=16):  # mirrors operators/dedup.simhash
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        hv = [int(hashlib.md5(t.encode()).hexdigest()[: bits // 4], 16) for t in toks]
        sig = 0
        for j in range(bits):
            vote = sum(1 if x & (1 << j) else -1 for x in hv)
            if vote > 0:
                sig |= 1 << j
        return sig

    base = BASE
    found = next(
        (
            cand
            for i in range(200)
            if bin(
                py_simhash(base) ^ py_simhash(cand := base.replace("meadow", f"meadow{i}"))
            ).count("1")
            == 1
        ),
        None,
    )
    assert found is not None, "no 1-bit perturbation found in 200 candidates"
    rows = [(1, base), (2, found), (3, "entirely unrelated content about spark")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r0 = {(r["doc_a"], r["doc_b"])
          for r in simhash_near_pairs(df, bits=16, radius=0).collect()}
    r1 = {(r["doc_a"], r["doc_b"]): r["hamming"]
          for r in simhash_near_pairs(df, bits=16, radius=1).collect()}
    assert (1, 2) not in r0  # identical-signature grouping misses it
    assert r1[(1, 2)] == 1  # bit-flip probing finds it
    assert all(p == (1, 2) for p in r1)


def test_simhash_r1_exact_dup_distance_zero(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_pairs(corpus, radius=1).collect()}
    assert pairs[(1, 2)] == 0  # exact dup pair found once, at distance 0


def test_ngram_hot_block_capped(spark):
    # a boilerplate corpus: 30 docs share one 40-char prefix (the hot
    # block), plus one small honest near-dup block. With the cap below 30
    # the hot block contributes zero pairs instead of O(30^2); the small
    # block still dedups.
    boiler = "terms of service apply to all users of this site " * 3
    rows = [(i, boiler + f"variant {i}") for i in range(30)]
    rows += [(100, BASE), (101, BASE)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, min_jaccard=0.5, max_block_size=10).collect()
    }
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs)  # nothing from the hot block
    # with a generous cap the hot block's genuine near-dups DO appear
    pairs_uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, min_jaccard=0.5, max_block_size=100).collect()
    }
    assert any(a < 100 for a, _ in pairs_uncapped)


def test_embedding_hot_block_capped(spark):
    rows = [(i, 0, [1.0, 0.0, 0.001 * i]) for i in range(20)]  # hot label
    rows += [(100, 1, [0.0, 1.0, 0.0]), (101, 1, [0.0, 0.999, 0.01])]
    embs = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(embs, min_score=0.9, max_block_size=5).collect()
    }
    assert pairs == {(100, 101)}  # hot block skipped, small block intact


def test_embedding_srp_finds_dups_without_labels(spark):
    # no label column anywhere: blocks come from the SRP buckets alone.
    # identical vectors share EVERY table's bucket (guaranteed catch);
    # lightly perturbed ones are caught with high probability by 4 tables.
    import random

    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    rows.append((100, list(rows[3][1])))  # exact dup of 3
    perturbed = [x + 0.01 for x in rows[5][1]]
    rows.append((101, perturbed))  # near dup of 5
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["score"]
             for r in embedding_srp_pairs(embs, min_score=0.9).collect()}
    assert pairs[(3, 100)] == 1.0
    assert (5, 101) in pairs and pairs[(5, 101)] > 0.99
    # no duplicate pair rows despite multi-table collisions
    assert len(pairs) == len(set(pairs))


def test_dedup_shuffles_hashes_not_text(corpus):
    # plan-shape check: the exact-dedup shuffle key is the sha2 hash
    plan = exact_dedup(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "sha2" in plan


def test_connected_components_chain_and_island(spark):
    from vectolite_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 (diameter 4: takes multiple propagation rounds)
    # plus the isolated pair 10-11; node 99 appears nowhere -> absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_decontaminate_flags_leaked_ngram(spark):
    from vectolite_spark.operators.dedup import decontaminate

    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares an 8-gram window with the eval doc
            (1, "intro words alpha beta gamma delta epsilon zeta eta theta trailing"),
            # no 8-token overlap
            (2, "entirely unrelated text about parquet readers and shuffles"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, evalset, n=8).collect()}
    assert set(out) == {1}
    assert out[1]["n_shared_grams"] >= 1
    assert out[1]["n_eval_docs"] == 1


def test_cc_loop_converges_on_long_chain(spark, count_jobs):
    """A 1,000-node chain is the worst case for plain min-label
    propagation (diameter 999: one round per unit of diameter). With
    hooking and a pointer jump per round the distributed loop closes it,
    in its natural id order and in a shuffled one, under the default
    ``max_iter`` and in a bounded number of jobs; too small a
    ``max_iter`` still refuses rather than mislabel the tail, and the
    driver union-find route lands on the identical labels."""
    import random

    from vectolite_spark.operators.dedup import connected_components

    want = {i: 1 for i in range(1, 1001)} | {2000: 2000, 2001: 2000}
    ids = list(range(2, 1001))
    random.Random(10).shuffle(ids)
    for order in ([*range(1, 1001)], [1, *ids]):
        chain = [(a, b) for a, b in zip(order, order[1:])] + [(2000, 2001)]
        edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
        with count_jobs() as jobs:
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in connected_components(edges, small_graph_limit=0).collect()
            }
        assert got == want
        assert len(jobs) <= 16, f"{len(jobs)} jobs"  # 14 measured
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2, small_graph_limit=0)
    fast = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert fast == want


def test_pack_sequences_greedy_boundaries(spark):
    from vectolite_spark.operators.packing import pack_sequences

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        ("s1", 1, words(6, "a")),   # bin 0: 6
        ("s1", 2, words(3, "b")),   # bin 0: 9
        ("s1", 3, words(2, "c")),   # bin 0 would be 11 > 10 -> bin 1
        ("s1", 4, words(12, "d")),  # oversized: bin 2 alone
        ("s1", 5, words(1, "e")),   # bin 3 (4+5 would fit only if bin empty)
        ("s2", 6, words(10, "f")),  # exactly capacity: bin 0
        ("s2", 7, words(1, "g")),   # bin 1
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {
        (r["source"], r["bin_id"]): (r["n_docs"], r["n_tokens"])
        for r in pack_sequences(df, capacity=10).collect()
    }
    assert out == {
        ("s1", 0): (2, 9),
        ("s1", 1): (1, 2),
        ("s1", 2): (1, 12),
        ("s1", 3): (1, 1),
        ("s2", 0): (1, 10),
        ("s2", 1): (1, 1),
    }


def test_pack_sequences_invariants_hypothesis(spark):
    """Greedy-packing invariants over random corpora: docs are conserved,
    bins never exceed capacity unless a single oversized doc owns the bin,
    every bin is non-empty, and no two ADJACENT bins could have merged
    (greedy tightness)."""
    from hypothesis import given, settings, strategies as st

    from vectolite_spark.operators.packing import pack_sequences

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=25),
        st.integers(min_value=5, max_value=40),
    )
    def check(tok_counts, cap):
        rows = [
            ("s", i, " ".join(f"w{i}x{j}" for j in range(n)))
            for i, n in enumerate(tok_counts)
        ]
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        bins = sorted(
            (r["bin_id"], r["n_docs"], r["n_tokens"])
            for r in pack_sequences(df, capacity=cap).collect()
        )
        assert [b[0] for b in bins] == list(range(len(bins)))  # dense ids
        assert sum(b[1] for b in bins) == len(tok_counts)      # docs conserved
        assert sum(b[2] for b in bins) == sum(tok_counts)      # tokens conserved
        for _, n_docs, n_tok in bins:
            assert n_docs >= 1
            assert n_tok <= cap or n_docs == 1  # overflow only for a lone doc
        # greedy tightness: bin i+1's FIRST doc must not have fit in bin i;
        # its size is unknown here, but a sufficient check is that merging
        # whole adjacent bins would always overflow when both fit under cap
        for (_, _, a), (_, d2, b) in zip(bins, bins[1:]):
            if d2 == 1 and b <= cap:
                continue  # single-doc bin may simply be followed-on
            assert a + b > cap or d2 > 1

    check()


def test_duplicate_span_coverage(spark):
    from vectolite_spark.operators.dedup import duplicate_span_coverage

    shared = "one two three four five six seven eight"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta"),   # 12 tokens, 8 covered
            (2, "prefix " + shared),                   # 9 tokens, 8 covered
            (3, "totally unique text with nine different words here ok"),
            (4, "short doc"),                          # < 8 tokens -> no grams
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_span_coverage(docs, n=8).collect()
    }
    assert out[1]["covered_tokens"] == 8 and out[1]["n_tokens"] == 12
    assert abs(out[1]["dup_coverage"] - round(8 / 12, 6)) < 1e-9
    assert out[2]["covered_tokens"] == 8 and out[2]["n_tokens"] == 9
    assert out[3]["covered_tokens"] == 0 and out[3]["dup_coverage"] == 0.0
    assert out[4]["covered_tokens"] == 0 and out[4]["n_tokens"] == 2


def test_duplicate_span_coverage_overlapping_spans_union(spark):
    from vectolite_spark.operators.dedup import duplicate_span_coverage

    # 10 shared tokens -> three overlapping dup 8-grams in each doc; the
    # covered-position UNION must count 10, not 3*8
    shared = " ".join(f"tok{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, shared + " xx yy"), (2, "zz " + shared)],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in duplicate_span_coverage(docs, n=8).collect()}
    assert out[1]["covered_tokens"] == 10
    assert out[2]["covered_tokens"] == 10


def test_blocked_fuzzy_pairs_finds_and_caps(spark):
    from vectolite_spark.operators.dedup import blocked_fuzzy_pairs

    rows = [
        (1, "acme widget"),
        (2, "acme widgot"),   # dist 1 from id 1
        (3, "acme gadget"),   # dist > 2 from both
        (4, "zeta part"),     # different block
    ]
    # a hot block bigger than the cap must be dropped entirely
    rows += [(100 + i, f"hot item {i}") for i in range(6)]
    df = spark.createDataFrame(rows, "k INT, nm STRING")
    out = blocked_fuzzy_pairs(df, "k", "nm", max_distance=2, max_block_size=5)
    got = {(r["key_a"], r["key_b"], r["edit_dist"]) for r in out.collect()}
    # widget~widgot dist 1; widget~gadget dist 2; widgot~gadget dist 3 (out);
    # the 6-row "hot" block exceeds the cap and is dropped wholesale
    assert got == {(1, 2, 1), (1, 3, 2)}


def test_incremental_new_unique(spark):
    from vectolite_spark.operators.dedup import incremental_new_unique

    # cutoff = floor(0.8 * 10) = 8: ids 8,9 are the "new batch".
    # id 8 duplicates old id 1's text and must be dropped; id 9 survives.
    rows = [(i, f"old text {i}", "s", 10) for i in range(8)]
    rows += [(8, "old text 1", "s", 10), (9, "genuinely new", "s", 13)]
    df = spark.createDataFrame(
        rows, "doc_id INT, text STRING, source STRING, n_chars INT"
    )
    got = incremental_new_unique(df).collect()
    assert [(r["doc_id"], r["n_chars"]) for r in got] == [(9, 13)]


def test_incremental_new_unique_dedups_only_against_old(spark):
    from vectolite_spark.operators.dedup import incremental_new_unique

    # two identical NEW docs with no old twin both survive (the operator
    # dedups new-vs-corpus, not new-vs-new — intra-batch dedup is
    # exact_dedup's job)
    rows = [(i, f"old {i}", "s", 5) for i in range(8)]
    rows += [(8, "same new", "s", 8), (9, "same new", "s", 8)]
    df = spark.createDataFrame(
        rows, "doc_id INT, text STRING, source STRING, n_chars INT"
    )
    got = sorted(r["doc_id"] for r in incremental_new_unique(df).collect())
    assert got == [8, 9]


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------


def _lcg_text(n: int, seed: int = 7) -> str:
    # deterministic pseudo-random lowercase text with spaces
    out, x = [], seed
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (1 << 31)
        # high bits: LCG low bits are periodic and would collapse the
        # window-hash distribution (few boundaries, degenerate chunks)
        out.append("abcdefghijklmnopqrstuvwxyz      "[(x >> 16) % 32])
    return "".join(out)


def test_cdc_identical_docs_share_every_chunk(spark):
    from vectolite_spark.operators.dedup import cdc_chunk_duplicates

    t = _lcg_text(2000)
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = cdc_chunk_duplicates(df, min_docs=2).collect()
    assert rows, "identical docs must share chunks"
    assert all(r["n_docs"] == 2 and r["n_occurrences"] == 2 for r in rows)
    # chunk lengths tile the doc exactly
    assert sum(r["chunk_len"] for r in rows) == len(t)


def test_cdc_boundaries_resync_after_prefix_insertion(spark):
    from vectolite_spark.operators.dedup import cdc_chunk_duplicates

    t = _lcg_text(3000)
    df = spark.createDataFrame(
        [(1, t), (2, "ZQX" + t)], ["doc_id", "text"]
    )
    shared = cdc_chunk_duplicates(df, min_docs=2).collect()
    # fixed-size chunking would share NOTHING after a prefix insertion;
    # CDC re-synchronizes at the first content boundary
    assert shared, "CDC must recover shared chunks after a prefix edit"
    assert sum(r["chunk_len"] for r in shared) > len(t) // 2


def test_cdc_unrelated_docs_share_nothing(spark):
    from vectolite_spark.operators.dedup import cdc_chunk_duplicates

    df = spark.createDataFrame(
        [(1, _lcg_text(1500, seed=1)), (2, _lcg_text(1500, seed=2))],
        ["doc_id", "text"],
    )
    assert cdc_chunk_duplicates(df, min_docs=2).count() == 0


def test_cdc_short_doc_is_one_chunk(spark):
    from vectolite_spark.operators.dedup import cdc_chunk_duplicates

    df = spark.createDataFrame([(1, "tiny"), (2, "tiny")], ["doc_id", "text"])
    rows = cdc_chunk_duplicates(df, min_docs=2).collect()
    assert len(rows) == 1 and rows[0]["chunk_len"] == 4


# ---------------------------------------------------------------------------
# prefix-filter exact Jaccard join
# ---------------------------------------------------------------------------


def test_prefix_filter_join_equals_brute_force(spark):
    """The prefix filter is an OPTIMIZATION, not an approximation: its
    result must equal the all-pairs brute force exactly (completeness =
    no pair above threshold is pruned; soundness = verify step)."""
    from pyspark.sql import functions as F

    from vectolite_spark.operators.dedup import (
        norm_tokens,
        prefix_filter_jaccard_pairs,
    )
    from vectolite_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    t = 0.9
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(docs, threshold=t).collect()
    }
    sets = docs.select(
        "doc_id", F.array_distinct(F.sort_array(norm_tokens("text"))).alias("ts")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    brute = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .collect()
    }
    assert got == brute and len(brute) > 0


def test_pagerank_closed_form_cliques(spark):
    """A 3-clique, a 2-clique, and an isolated doc: uniform rank inside a
    clique is a PageRank fixed point ((1-d)/N + d*r = r when every node
    receives exactly its own rank back), so members hold 1/N while the
    isolated doc decays to the (1-d)/N floor."""
    from vectolite_spark.operators.dedup import dup_graph_pagerank

    rows = [
        (1, BASE), (2, BASE), (3, BASE),                      # clique of 3
        (4, BASE.replace("fox", "wolf")),                     # clique of 2
        (5, BASE.replace("fox", "wolf")),
        (6, "entirely unrelated text about parquet readers"), # isolated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["rank_millis"] for r in dup_graph_pagerank(df).collect()}
    for i in (1, 2, 3, 4, 5):
        assert got[i] == round(1000.0 / 6, 6), got
    assert got[6] == round(1000.0 * 0.15 / 6, 6), got


def test_cdc_differential_vs_python_reference(spark):
    """Hypothesis differential: the Spark CDC pipeline must agree with an
    independent pure-Python implementation of the same contract
    (boundary = 8-char window md5 prefix '00', chunks between cuts) on
    arbitrary unicode corpora."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vectolite_spark.operators.dedup import cdc_chunk_duplicates

    def py_cdc(texts):
        agg = {}
        for doc_id, t in texts:
            n = len(t)
            bs = [
                i
                for i in range(1, n - 7 + 1)
                if hashlib.md5(t[i - 1 : i + 7].encode("utf-8"))
                .hexdigest()
                .startswith("00")
            ]
            cuts = [1] + bs + [n + 1]
            for a, b in zip(cuts, cuts[1:]):
                if b > a:
                    c = t[a - 1 : b - 1]
                    h = hashlib.md5(c.encode("utf-8")).hexdigest()
                    e = agg.setdefault(h, [len(c), set(), 0])
                    e[1].add(doc_id)
                    e[2] += 1
        return {
            h: (ln, len(docs), occ)
            for h, (ln, docs, occ) in agg.items()
            if len(docs) >= 1
        }

    alphabet = st.characters(
        codec="utf-8", categories=("L", "N", "P", "Z")
    )
    texts_strategy = st.lists(
        st.text(alphabet=alphabet, min_size=0, max_size=60),
        min_size=1,
        max_size=5,
    )

    @settings(max_examples=15, deadline=None)
    @given(texts_strategy)
    def run(texts):
        rows = [(i + 1, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["chunk_hash"]: (r["chunk_len"], r["n_docs"], r["n_occurrences"])
            for r in cdc_chunk_duplicates(df, min_docs=1, top_n=10_000).collect()
        }
        assert got == py_cdc(rows)

    run()

def test_srp_hard_negatives_closed_form(spark):
    # identical vectors collide in every SRP table, so a different-label
    # twin is a guaranteed rank-1 hard negative at score 1.0; a same-label
    # twin must never surface, and ranks per anchor are 1..k dense.
    import random

    from vectolite_spark.operators.dedup import srp_hard_negatives

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(30):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)], f"lab{i % 3}"))
    rows.append((200, list(rows[4][1]), "labX"))   # diff-label twin of 4
    rows.append((201, list(rows[7][1]), "lab1"))   # same-label twin of 7
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = srp_hard_negatives(embs, k=2).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    top4 = sorted(by_anchor[4], key=lambda r: r["neg_rank"])[0]
    assert top4["neg_id"] == 200 and top4["score"] == 1.0
    top200 = sorted(by_anchor[200], key=lambda r: r["neg_rank"])[0]
    assert top200["neg_id"] == 4 and top200["score"] == 1.0
    # same-label twin excluded from 7's negatives
    assert all(r["neg_id"] != 201 for r in by_anchor.get(7, []))
    for anchor, rs in by_anchor.items():
        ranks = sorted(r["neg_rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(rs) <= 2


def test_bitext_margin_mine_closed_form(spark):
    # an identical even/odd twin collides in every SRP table at cosine
    # 1.0; its margin is 1.0 / mean(top-k) >= 1, so it must be mined as
    # its source's best target. Output invariants: src even, tgt odd,
    # one row per src, margins >= threshold.
    import random

    from vectolite_spark.operators.dedup import bitext_margin_mine

    rng = random.Random(23)
    dim = 16
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], 0) for i in range(40)
    ]
    rows.append((201, list(rows[6][1]), 0))  # odd-id twin of even src 6
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = bitext_margin_mine(embs, k=3).collect()
    by_src = {}
    for r in out:
        assert r["src_id"] % 2 == 0 and r["tgt_id"] % 2 == 1
        assert r["margin"] >= 1.0
        assert r["src_id"] not in by_src  # one best target per source
        by_src[r["src_id"]] = r
    best6 = by_src[6]
    assert best6["tgt_id"] == 201 and best6["score"] == 1.0
    # ratio margin: the twin's cosine equals the neighborhood max, so
    # its margin is at least 1 and strictly above any non-twin score
    assert best6["margin"] >= 1.0


def test_minhash_recall_eval_planted_duplicates(spark):
    # exact duplicates share every minhash, so every band collides and
    # the pipeline must recall them: recall == 1.0 with a non-empty truth
    # set. Unrelated long docs must not enter the truth set (J < t).
    from vectolite_spark.operators.dedup import minhash_recall_eval

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, dup), (1, dup), (2, dup + " tail")]
    rows += [
        (i, f"document {i} " + " ".join(f"tok{i}_{j}" for j in range(20)))
        for i in range(3, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_recall_eval(docs, query_max_id=100).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_true"] >= 1           # the planted dup pair is truth
    assert r["n_hit"] == r["n_true"]  # identical sigs always collide
    assert r["recall"] == 1.0
    assert r["recall"] >= r["recall_floor"]


def test_pagerank_deep_iterations_truncated(spark):
    """VERDICT r4 item 7: iterations=10 must run with bounded lineage —
    the every-3rd-step localCheckpoint keeps the final plan a small
    constant (a deep un-truncated unroll carries one join pipeline PER
    iteration), and the clique fixed point still holds exactly."""
    from vectolite_spark.operators.dedup import dup_graph_pagerank

    rows = [
        (1, BASE), (2, BASE), (3, BASE),
        (4, "entirely unrelated text about parquet readers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_graph_pagerank(df, iterations=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the plan STRING carries a large constant (every InMemoryTableScan
    # reprints the cached edge-build subtree), so assert BOUNDEDNESS:
    # 10 iterations must not plan bigger than 4 (both end one lineage
    # segment past their last checkpoint); an un-truncated unroll grows
    # ~linearly per iteration
    plan4 = (
        dup_graph_pagerank(df, iterations=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(plan) <= len(plan4) * 1.1, (len(plan), len(plan4))
    got = {r["doc_id"]: r["rank_millis"] for r in out.collect()}
    for i in (1, 2, 3):
        assert got[i] == round(1000.0 / 4, 6), got
    assert got[4] == round(1000.0 * 0.15 / 4, 6), got



def test_leakage_safe_split_clusters_never_straddle(spark, sf_dir):
    """The split invariant: every near-dup cluster sits entirely in one
    split; singletons get their own id as cluster; identical docs share a
    cluster and therefore a split. Ratio sanity on the real fixture."""
    from vectolite_spark.operators.dedup import leakage_safe_split

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again", "a"),
        (2, "the quick brown fox jumps over the lazy dog again", "a"),
        (3, "completely different text about spark shuffles and joins", "b"),
        (4, "yet another unrelated document mentioning parquet footers", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in leakage_safe_split(docs).collect()}
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == 1
    assert got[1]["split"] == got[2]["split"]
    assert got[3]["cluster_id"] == 3 and got[4]["cluster_id"] == 4

    from vectolite_spark.schema import load_table

    out = leakage_safe_split(load_table(spark, sf_dir, "documents"))
    straddle = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddle == 0
    frac = out.filter(F.col("split") == "train").count() / out.count()
    assert 0.6 < frac < 0.95, frac


def test_cdc_containment_detects_embedded_quote(spark):
    """A long passage embedded verbatim inside a bigger doc: CDC chunk
    boundaries re-synchronize inside the shared span, so most of the
    quote's chunks reappear in the host and containment lands high, with
    the quote as inner_doc; an unrelated doc pairs with nothing.
    Identical docs give containment exactly 1.0."""
    import hashlib

    from vectolite_spark.operators.dedup import cdc_containment_pairs

    def pseudo_text(seed: str, n: int) -> str:
        out = []
        h = seed
        while sum(len(x) for x in out) < n:
            h = hashlib.md5(h.encode()).hexdigest()
            out.append(h)
        return " ".join(out)[:n]

    quote = pseudo_text("quote", 2000)
    host = pseudo_text("prefix", 900) + quote + pseudo_text("suffix", 900)
    other = pseudo_text("unrelated", 2000)
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, other), (4, quote)],
        "doc_id long, text string",
    )
    got = {
        (r["inner_doc"], r["outer_doc"]): r
        for r in cdc_containment_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 4) in got and got[(1, 4)]["containment"] == 1.0  # identical
    assert (1, 2) in got and got[(1, 2)]["containment"] >= 0.5  # quote in host
    assert (4, 2) in got  # the duplicate quote is contained too
    assert not any(3 in k for k in got)  # unrelated doc pairs with nothing


def test_contrastive_triplets_match_brute_force(spark):
    """Near-parallel vectors all collide in every SRP bucket, so the
    candidate set is all pairs and the triplet choice must equal the
    brute-force cosine argmax per side; anchors lacking a same-label
    candidate are dropped."""
    import math

    from vectolite_spark.operators.dedup import contrastive_triplets

    base = [10.0] * 8 + [5.0] * 8
    rows = []
    labels = {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}  # label 2 is a singleton
    for vid, lab in labels.items():
        v = list(base)
        v[0] += vid * 0.01  # tiny distinct perturbation, same SRP signs
        v[1] += (vid % 3) * 0.02
        rows.append((vid, v, lab))
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["anchor_id"]: r for r in contrastive_triplets(embs).collect()}

    vecs = {vid: [float(__import__("numpy").float32(x)) for x in
                  ([base[0] + vid * 0.01, base[1] + (vid % 3) * 0.02] + base[2:])]
            for vid, _ in labels.items()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = math.sqrt(sum(x * x for x in vecs[a]))
        nb = math.sqrt(sum(x * x for x in vecs[b]))
        return round(dot / (na * nb), 6)

    assert 5 not in got  # singleton label: no positive -> dropped
    for a in (1, 2, 3, 4):
        same = [(cos(a, o), -o) for o in labels if o != a and labels[o] == labels[a]]
        diff = [(cos(a, o), -o) for o in labels if labels[o] != labels[a]]
        want_pos = -max(same)[1]
        want_neg = -max(diff)[1]
        assert got[a]["pos_id"] == want_pos, (a, got[a])
        assert got[a]["neg_id"] == want_neg, (a, got[a])
        assert got[a]["margin"] == round(
            got[a]["pos_score"] - got[a]["neg_score"], 6
        )


def test_semdedup_prune_closed_form(spark):
    """SemDeDup on a planted corpus: identical vectors within a cluster
    prune down to the lowest id; cross-cluster identicals never interact;
    orthogonal vectors survive."""
    from pyspark.sql import functions as F

    from vectolite_spark.operators.dedup import semdedup_prune

    rows = [
        # cluster 0: ids 1,2,3 identical (prune 2,3), id 4 orthogonal
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.0, 0.0, 0.0]),
        (3, 0, [1.0, 0.0, 0.0, 0.0]),
        (4, 0, [0.0, 1.0, 0.0, 0.0]),
        # cluster 1: id 5 identical to cluster 0's vectors but OTHER cluster
        (5, 1, [1.0, 0.0, 0.0, 0.0]),
        (6, 1, [0.0, 0.0, 1.0, 0.0]),
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r["cluster"]: (r["n_members"], r["n_pruned"], r["n_kept"], r["kept_id_sum"])
        for r in semdedup_prune(embs, tau=0.9).collect()
    }
    assert out[0] == (4, 2, 2, 1 + 4)
    assert out[1] == (2, 0, 2, 5 + 6)
    # uncapped clusters report capped=0
    assert all(
        r["capped"] == 0 for r in semdedup_prune(embs, tau=0.9).collect()
    )


def test_semdedup_incremental_closed_form(spark):
    """Incremental SemDeDup judges ONLY the delta: base dups suppress
    delta members regardless of id order, lower-id delta members
    suppress higher-id ones, base members are never re-judged, and a
    capped cluster keeps everything with capped=1."""
    from vectolite_spark.operators.dedup import semdedup_incremental

    base = spark.createDataFrame(
        [
            (10, 0, [1.0, 0.0, 0.0]),   # cluster 0 keeper
            (11, 0, [0.0, 1.0, 0.0]),
            (20, 1, [1.0, 0.0, 0.0]),   # cluster 1 keeper
        ],
        "vec_id long, label int, embedding array<float>",
    )
    delta = spark.createDataFrame(
        [
            (5, 0, [1.0, 0.0, 0.0]),    # dup of base 10, LOWER id: pruned
            (30, 0, [0.0, 0.0, 1.0]),   # orthogonal: kept
            (31, 0, [0.0, 0.0, 1.0]),   # dup of delta 30 (higher id): pruned
            (40, 1, [0.0, 1.0, 0.0]),   # cluster 1, no match: kept
            (50, 2, [1.0, 0.0, 0.0]),   # cluster 2 has no base: kept
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = {
        r["cluster"]: r
        for r in semdedup_incremental(base, delta, tau=0.9).collect()
    }
    c0 = out[0]
    assert (c0["n_members"], c0["n_delta"], c0["n_pruned"]) == (5, 3, 2)
    assert c0["kept_id_sum"] == 30 and c0["capped"] == 0
    c1 = out[1]
    assert (c1["n_delta"], c1["n_pruned"], c1["kept_id_sum"]) == (1, 0, 40)
    c2 = out[2]
    assert (c2["n_members"], c2["n_pruned"], c2["kept_id_sum"]) == (1, 0, 50)
    # capped: total cluster size (base + delta) over the cap keeps all
    capped = {
        r["cluster"]: r
        for r in semdedup_incremental(
            base, delta, tau=0.9, max_block_size=4
        ).collect()
    }[0]
    assert capped["capped"] == 1 and capped["n_pruned"] == 0
    assert capped["kept_id_sum"] == 5 + 30 + 31


def test_semdedup_incremental_matches_batch_on_append(spark):
    """When every delta id exceeds every base id (the normal append),
    the incremental keep decision over the delta is bit-identical to
    re-running batch semdedup_prune on base ∪ delta."""
    import random

    from vectolite_spark.operators.dedup import (
        semdedup_incremental,
        semdedup_prune,
    )

    rng = random.Random(8)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, i % 3, v))
        if rng.random() < 0.3:  # plant near-dups across the id range
            rows.append((i + 1000, i % 3, [x * 1.001 for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    base = df.filter("vec_id < 40")
    delta = df.filter("vec_id >= 40")
    inc = {
        r["cluster"]: (r["n_pruned"], r["kept_id_sum"])
        for r in semdedup_incremental(base, delta, tau=0.98).collect()
    }
    # batch keep set over the union, via the same pair rule semdedup_prune
    # uses (pruned iff some lower-id cluster-mate scores >= tau)
    from pyspark.sql import functions as F

    from vectolite_spark.operators.dedup import embedding_cosine_pairs

    pruned_ids = {
        r["id_b"]
        for r in embedding_cosine_pairs(df, min_score=0.98).collect()
    }
    for cluster, (n_pruned, kept_sum) in inc.items():
        delta_ids = [
            r["vec_id"]
            for r in delta.filter(F.col("label") == cluster).collect()
        ]
        exp_pruned = sum(1 for i in delta_ids if i in pruned_ids)
        exp_kept = sum(i for i in delta_ids if i not in pruned_ids)
        assert (n_pruned, kept_sum) == (exp_pruned, exp_kept)
    # sanity: both paths agree the batch audit exists over all clusters
    assert semdedup_prune(df, tau=0.98).count() == 3


def test_semdedup_prune_surfaces_capped_clusters(spark):
    """A cluster larger than max_block_size is SKIPPED by the pairwise
    pass — the audit must say so (capped=1, everything reported kept)
    instead of silently claiming n_pruned=0 as if it had looked
    (ADVICE r7 item 1)."""
    from vectolite_spark.operators.dedup import semdedup_prune

    rows = [(i, 0, [1.0, 0.0]) for i in range(1, 6)]  # 5 identical, hot
    rows += [(10, 1, [1.0, 0.0]), (11, 1, [1.0, 0.0])]  # small cluster
    embs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r["cluster"]: r
        for r in semdedup_prune(embs, tau=0.9, max_block_size=3).collect()
    }
    hot = out[0]
    assert hot["capped"] == 1
    assert hot["n_pruned"] == 0 and hot["n_kept"] == hot["n_members"] == 5
    small = out[1]
    assert small["capped"] == 0
    assert small["n_pruned"] == 1 and small["kept_id_sum"] == 10


def test_curation_pipeline_capstone_funnel_invariants(spark):
    # the composed funnel must be monotone per language, keep ~2/3 of
    # scored near-dedup survivors (ntile head+middle), and count kept
    # tokens over exactly the kept docs.
    from vectolite_spark.registry import curation_pipeline_capstone

    rows = curation_pipeline_capstone(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 2  # multiple languages present in the fixture
    for r in rows:
        assert r["n_input"] >= r["n_exact"] >= r["n_near"] >= r["n_kept"]
        assert r["n_kept"] >= 1
        assert r["tokens_kept"] >= r["n_kept"]  # every kept doc has >=1 token
        # head+middle of a tercile over scored survivors: the no-bigram
        # exclusion can only shrink the scored set, so kept <= ceil(2/3 n)
        assert r["n_kept"] <= -(-2 * r["n_near"] // 3)


def test_cc_distributed_matches_union_find_on_adversarial_mix(spark):
    """The distributed loop detects convergence from a label-sum
    Observation riding the per-round checkpoint (labels never increase,
    so sum-equality implies pointwise equality). Pin that against the
    driver union-find fixpoint on an adversarial mix: chains, a star
    hub, a clique, singleton edges, id gaps, and a node whose only edge
    is a self-loop (its own cluster on both routes)."""
    import random

    from vectolite_spark.operators.dedup import connected_components

    rnd = random.Random(712)
    edges = [(i, i + 1) for i in range(10, 26)]            # chain
    edges += [(1000, x) for x in range(1001, 1017)]        # star hub
    edges += [(a, b) for a in range(50, 56) for b in range(a + 1, 56)]
    edges += [(9_000_000_000 + i, 9_000_000_000 + i + 1) for i in range(4)]
    edges += [
        (rnd.randrange(200, 400), rnd.randrange(200, 400)) for _ in range(150)
    ]
    edges += [(7, 7)]                                      # self-loop only
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, small_graph_limit=0).collect()
    }
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()  # driver union-find
    }
    assert got == want
    assert got[7] == 7


def test_cdc_chunk_rows_arrow_matches_catalyst(spark, sf_dir):
    """The Arrow-batched CDC chunker must produce exactly the rows the
    r8–r11 Catalyst array-expression form produced — same boundary rule
    (md5('00' prefix) per window), same slices, same hashes/lengths —
    on the real corpus plus adversarial unicode/short/empty docs."""
    from reference_twins import cdc_chunk_rows_catalyst

    from vectolite_spark.operators.dedup import _cdc_chunk_rows
    from vectolite_spark.schema import load_table

    def rows(df):
        return sorted(
            (r["doc_id"], r["chunk_hash"], r["_len"])
            for r in df.collect()
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert rows(_cdc_chunk_rows(docs, "text", "doc_id", 8)) == rows(
        cdc_chunk_rows_catalyst(docs, "text", "doc_id", 8)
    )

    tricky = spark.createDataFrame(
        [
            (1, ""),
            (2, "a"),
            (3, "x" * 7),
            (4, "x" * 8),
            (5, "漢字テスト中文ドキュメント" * 10),
            (6, "mixed ascii と 漢字 boundaries" * 20),
            (7, "İstanbul ẞ 😀🎉" * 30),
            (8, None),
        ],
        "doc_id long, text string",
    )
    assert rows(_cdc_chunk_rows(tricky, "text", "doc_id", 8)) == rows(
        cdc_chunk_rows_catalyst(tricky, "text", "doc_id", 8)
    )
