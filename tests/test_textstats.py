"""Text analysis: lang-ID, quality, token counts, fingerprints + ANN IVF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectolite_spark.operators.ann import build_centroids, greedy_probes, ivf_topk
from vectolite_spark.operators.textstats import (
    fingerprint,
    predict_lang,
    quality_features,
    token_counts,
)


def test_predict_lang_markers(spark):
    rows = [
        (1, "the cat and the dog is in that house"),
        (2, "der hund und die katze ist nicht hier"),
        (3, "el perro y la casa es que de los"),
        (4, "xyzzy plugh"),  # no markers anywhere -> tie -> alphabetical first
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["pred"] for r in df.select("doc_id", predict_lang("text").alias("pred")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "es"
    assert got[4] == "de"  # deterministic tie-break


def test_quality_features(spark):
    rows = [
        (1, "the and of to is in that it a good fluent sentence, with punctuation."),
        (2, "zrqx kplm wvnt"),  # junk: no stopwords, no punctuation
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert got[1]["quality"] > got[2]["quality"]
    assert got[2]["n_stop"] == 0 and got[2]["n_punct"] == 0
    assert got[1]["n_tokens"] == 14


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello, world! it's 2024")], "doc_id long, text string")
    r = token_counts(df).first()
    assert r["ws_tokens"] == 4
    # hello , world ! it ' s 2024 -> 8 BPE-ish tokens
    assert r["bpe_tokens"] == 8


def test_fingerprint_detects_shared_content(spark):
    rows = [
        (1, "identical fingerprint text body"),
        (2, "identical fingerprint text body"),
        (3, "totally different content here"),
        (4, "tiny"),  # shorter than the 8-gram -> whole-text md5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]
    assert len(fps[4]) == 32


def test_fingerprint_arrow_matches_expr(spark):
    from reference_twins import fingerprint_expr

    # property: the Arrow hashlib pass and the pure-expression form agree
    # on long docs, unicode (multi-byte chars shift UTF-8 offsets — grams
    # are CHARACTER slices on both paths), boundary lengths, and empties
    rows = [
        (1, "x" * 5000),
        (2, "the quick brown fox " * 400),
        (3, "héllo wörld — ünïcode ✓ " * 50),
        (4, "exactly8"),  # == gram size
        (5, "seven77"),  # just under
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    expr = {r["doc_id"]: r["fingerprint"] for r in fingerprint_expr(df).collect()}
    assert arrow == expr


def test_ivf_centroids_and_search(spark):
    # two well-separated clusters; centroid build must be exact
    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [0.9, 0.1]), (3, 0, [1.1, -0.1]),
        (4, 1, [0.0, 1.0]), (5, 1, [0.1, 0.9]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cents = {r["cluster"]: list(r["centroid"]) for r in build_centroids(embs).collect()}
    assert cents[0][0] == pytest.approx(1.0, abs=1e-6)
    assert cents[1][1] == pytest.approx(0.95, abs=1e-6)  # float32 inputs
    assert greedy_probes(sorted(cents.items()), [1.0, 0.05], 1)[0] == 0
    out = ivf_topk(embs, [1.0, 0.05], k=10).collect()
    ids = [r["vec_id"] for r in out]
    assert set(ids) == {1, 2, 3}  # only the probed cell is scanned
    assert ids[0] in (1, 3)  # nearest first


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from vectolite_spark.operators.ann import lsh_topk
    from vectolite_spark.operators.topk import topk_ids
    from vectolite_spark.schema import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in topk_ids(embs, qvec, 10).collect()}
    approx_rows = lsh_topk(embs, qvec, k=10, seed=42).collect()
    approx = {r["vec_id"] for r in approx_rows}
    assert len(approx_rows) == 10
    # seeded LSH on 500 vectors: expect decent recall, and the query vector
    # itself (cosine 1.0) must always be surfaced
    assert 0 in approx
    assert len(exact & approx) >= 5
    # deterministic across runs with the same seed
    again = {r["vec_id"] for r in lsh_topk(embs, qvec, k=10, seed=42).collect()}
    assert approx == again


def test_ivf_two_probes_widen(spark):
    rows = [
        (1, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    assert ivf_topk(embs, [1.0, 0.0], k=10, n_probe=2).count() == 2


def test_redact_pii_replaces_and_counts(spark):
    from vectolite_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail me at a.b+c@test.org or call +1 (555) 123-4567 today"),
        (2, "no pii here"),
        (3, "two mails x@y.io and z@w.co"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert "[EMAIL]" in got[1]["redacted"] and "[PHONE]" in got[1]["redacted"]
    assert "a.b+c@test.org" not in got[1]["redacted"]
    assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)
    assert got[2]["redacted"] == "no pii here"
    assert (got[2]["n_emails"], got[2]["n_phones"]) == (0, 0)
    assert got[3]["n_emails"] == 2 and got[3]["redacted"].count("[EMAIL]") == 2


def test_repetition_stats_flags_looped_text(spark):
    from vectolite_spark.operators.textstats import repetition_stats

    looped = "spam ham eggs " * 20  # 58 shingles, only 3 distinct
    varied = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, looped), (2, varied)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_distinct"] == 3
    assert got[1]["rep_ratio"] > 0.9
    assert got[2]["n_distinct"] == got[2]["n_shingles"]  # all unique
    assert got[2]["rep_ratio"] == 0.0


def test_approx_distinct_tokens_error_bound(spark, sf_dir):
    # HLL++ at rsd=0.02: sketch estimate within 10% of the exact distinct
    # count per language (wide margin over the 2% target keeps this
    # deterministic-stable across Spark versions).
    import __spark_entry__ as m
    from vectolite_spark.operators.dedup import norm_tokens

    approx = {
        r["lang"]: r["approx_distinct"]
        for r in m.queries()["approx_distinct_tokens"](spark, sf_dir).collect()
    }
    from vectolite_spark.schema import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["lang"]: r["n"]
        for r in docs.select("lang", F.explode(norm_tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for lang, n in exact.items():
        assert abs(approx[lang] - n) / n <= 0.10, (lang, approx[lang], n)


def test_char_entropy_closed_form(spark):
    import math

    from vectolite_spark.operators.textstats import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd")],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert out[1]["char_entropy"] == 0.0
    assert out[1]["distinct_chars"] == 1 and out[1]["n_chars_counted"] == 4
    assert abs(out[2]["char_entropy"] - round(math.log(2), 4)) < 1e-9
    assert abs(out[3]["char_entropy"] - round(math.log(4), 4)) < 1e-9


def test_char_entropy_counts_spaces(spark):
    from vectolite_spark.operators.textstats import char_entropy

    docs = spark.createDataFrame([(1, "a a")], "doc_id INT, text STRING")
    r = char_entropy(docs).collect()[0]
    # chars are {a:2, ' ':1} -> n=3, distinct=2
    assert r["n_chars_counted"] == 3 and r["distinct_chars"] == 2


def test_bigram_lm_closed_form(spark):
    import math

    from vectolite_spark.operators.textstats import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # corpus counts: C(a b)=3, C(b a)=1, C(b c)=1; left counts a->3, b->2
    # doc1 bigrams (a b),(b a),(a b): nll = (0 + ln2 + 0)/3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_nll"] - round(math.log(2) / 3, 4)) < 1e-9
    # doc2 bigrams (a b),(b c): nll = (0 + ln2)/2
    assert out[2]["n_bigrams"] == 2
    assert abs(out[2]["avg_nll"] - round(math.log(2) / 2, 4)) < 1e-9
    assert out[3]["n_bigrams"] == 0 and out[3]["avg_nll"] is None


def test_char_pair_counts_closed_form(spark):
    from vectolite_spark.operators.textstats import char_pair_counts

    docs = spark.createDataFrame(
        [(1, "aba ab"), (2, "x")], "doc_id INT, text STRING"
    )
    # words: aba -> (ab, ba), ab -> (ab); "x" is length-1, excluded
    got = [(r["pair"], r["cnt"]) for r in char_pair_counts(docs).collect()]
    assert got == [("ab", 2), ("ba", 1)]


def test_source_mixture_weights_alpha_half(spark):
    from vectolite_spark.operators.textstats import source_mixture_weights

    # token counts 1 and 4 -> sqrt 1 and 2 -> weights 1/3, 2/3
    docs = spark.createDataFrame(
        [(1, "a", "s1"), (2, "a b c d", "s2")],
        "doc_id INT, text STRING, source STRING",
    )
    got = {r["source"]: r for r in source_mixture_weights(docs).collect()}
    assert got["s1"]["n_tokens"] == 1 and got["s2"]["n_tokens"] == 4
    assert abs(got["s1"]["weight"] - round(1 / 3, 6)) < 1e-12
    assert abs(got["s2"]["weight"] - round(2 / 3, 6)) < 1e-12


def test_vocab_coverage_closed_form(spark):
    from vectolite_spark.operators.textstats import vocab_coverage

    # 10 a's, 5 b's, 1 c -> total 16; top-1 covers 10/16, top-2 15/16
    df = spark.createDataFrame(
        [(0, "a a a a a a a a a a"), (1, "b b b b b c")], ["doc_id", "text"]
    )
    rows = {r["k"]: r for r in vocab_coverage(df, ks=(1, 2, 3)).collect()}
    assert rows[1]["cum_tokens"] == 10 and rows[1]["total_tokens"] == 16
    assert rows[2]["cum_tokens"] == 15
    assert rows[3]["coverage"] == 1.0


def test_zipf_slope_flat_distribution_is_zero(spark):
    from vectolite_spark.operators.textstats import zipf_slope

    # every word equally frequent -> ln(freq) constant -> slope 0
    df = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "aa bb cc dd")], ["doc_id", "text"]
    )
    row = zipf_slope(df).collect()[0]
    assert row["n_terms"] == 4
    assert abs(row["slope"]) < 1e-9
    import math

    assert abs(row["intercept"] - math.log(2.0)) < 1e-6


def test_ngram_novelty_copy_scores_zero(spark):
    from vectolite_spark.operators.textstats import ngram_novelty

    base = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, "an entirely different sentence here now")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in ngram_novelty(df).collect()}
    assert rows[0]["novelty"] == 1.0  # first occurrence owns every shingle
    assert rows[1]["novelty"] == 0.0  # exact copy contributes nothing new
    assert rows[2]["novelty"] == 1.0


def test_bpe_train_closed_form(spark):
    """Corpus 'aaab aaab ab': merge1 = (a,a) weight 4; left-to-right
    application turns aaab into [aa, a, b] (the third 'a' survives), so
    merge2 = (a,b) weight 3, and merge3 = (aa, ab) weight 2."""
    from vectolite_spark.operators.textstats import bpe_train_merges

    df = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
    got = [
        (r["iteration"], r["left_tok"], r["right_tok"], r["cnt"])
        for r in bpe_train_merges(df).orderBy("iteration").collect()
    ]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3), (3, "aa", "ab", 2)]


def test_bpe_merge_nonoverlapping_runs(spark):
    """ADVICE r4 (medium): consecutive occurrences must ALL merge in one
    greedy pass — 'abab' -> [ab, ab] and 'aaaa' -> [aa, aa], not the
    alternate-occurrence [ab, a, b] / [aa, a, a] the naive single
    replace produced. Corpus 'abab aaaa': merge1 = (a,a) weight 3;
    correct application leaves aaaa as [aa, aa] so merge3 sees
    (aa,aa)=1 which ties (ab,ab)=1 and wins the l-asc tiebreak."""
    from vectolite_spark.operators.textstats import bpe_train_merges

    df = spark.createDataFrame([(1, "abab aaaa")], "doc_id long, text string")
    got = [
        (r["iteration"], r["left_tok"], r["right_tok"], r["cnt"])
        for r in bpe_train_merges(df).orderBy("iteration").collect()
    ]
    assert got == [(1, "a", "a", 3), (2, "a", "b", 2), (3, "aa", "aa", 1)]


def test_bpe_train_stops_when_no_pairs(spark):
    """ADVICE r4 (low): an iteration with no adjacent pairs anywhere must
    return the merges found so far, not TypeError on None."""
    from vectolite_spark.operators.textstats import bpe_train_merges

    # all words single-char -> vocab empty -> zero merges
    df = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    assert bpe_train_merges(df).collect() == []

    # vocab fully merged after round 1 -> rounds 2-3 have no pairs
    df2 = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    got = [
        (r["iteration"], r["left_tok"], r["right_tok"], r["cnt"])
        for r in bpe_train_merges(df2).collect()
    ]
    assert got == [(1, "a", "b", 3)]


def test_kmv_sketch_estimator_branch(spark):
    """The sf corpora have < k distinct tokens (exact branch); this pins
    the ESTIMATOR branch on a 5000-token vocabulary: the Spark result
    must equal a pure-Python replay of the same md5 math exactly, and
    the estimate must land within the ~1/sqrt(k) error regime."""
    import hashlib

    from vectolite_spark.operators.textstats import kmv_distinct_tokens

    n, k = 5000, 256
    words = [f"tok{i}" for i in range(n)]
    # a few docs carrying the whole vocabulary with duplicates
    docs = [(i, " ".join(words[i::7] + words[i::11])) for i in range(7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("xx"))
    row = kmv_distinct_tokens(df, group_col="lang", k=k).collect()[0]

    distinct = sorted({w for _, t in docs for w in t.split()})
    us = sorted(
        int(hashlib.md5(w.encode()).hexdigest()[:12], 16) / float(1 << 48)
        for w in distinct
    )
    expect = round((k - 1) / us[k - 1], 6)
    assert row["exact_distinct"] == len(distinct)
    assert row["kmv_distinct"] == expect  # bit-for-bit replay
    rel_err = abs(row["kmv_distinct"] - len(distinct)) / len(distinct)
    assert rel_err < 0.15, rel_err


def test_kmv_uses_window_group_limit(spark):
    """The rn <= k filter must run as WindowGroupLimit (map-side partial
    top-k before the per-group shuffle) — the property that bounds the
    sort at 100 TB."""
    from vectolite_spark.operators.textstats import kmv_distinct_tokens

    df = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    plan = (
        kmv_distinct_tokens(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_encoding_quality_nontrivial_payload(spark):
    """The sf corpora are clean ASCII (the oracle row passes trivially),
    so pin the operator on a payload that actually exercises every
    counter: U+FFFD, C0 controls (with tab/LF/CR exempt), non-ASCII."""
    from vectolite_spark.operators.textstats import encoding_quality

    text = "ok\ttext\n" + "��" + "\x01\x02" + "éñ" + "\r"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = encoding_quality(df).collect()[0]
    assert r["n_chars_exact"] == len(text) == 15
    # ascii chars = "ok\ttext\n" (8) + "\r" (1)
    assert r["n_ascii"] == 9
    assert r["n_control"] == 2        # \x01\x02; tab/LF/CR exempt
    assert r["n_replacement"] == 2    # the two U+FFFD
    assert r["ascii_ratio"] == 9 / 15

    empty = spark.createDataFrame([(2, "")], "doc_id long, text string")
    r2 = encoding_quality(empty).collect()[0]
    assert r2["ascii_ratio"] is None


def test_bpe_apply_closed_form(spark):
    """Corpus 'aaab aaab ab' trains merges (a,a),(a,b),(aa,ab); applying
    them tokenizes aaab -> [aaab] and ab -> [ab], so the doc holds 10
    char tokens and exactly 3 BPE tokens."""
    from vectolite_spark.operators.textstats import bpe_apply_token_counts

    df = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
    r = bpe_apply_token_counts(df).collect()[0]
    assert (r["n_char_tokens"], r["n_bpe_tokens"]) == (10, 3)


def test_stratified_split_exact_counts(spark):
    """10 docs in one stratum -> exactly 8/1/1; 5 docs -> 4/0/1 (integer
    threshold math, no floating 0.8*n)."""
    import __spark_entry__  # noqa: F401  (registry import side effects)
    from vectolite_spark.registry import QUERIES
    import os, tempfile

    d = tempfile.mkdtemp()
    rows = [(i, f"text {i}", "aa" if i < 10 else "bb", "s", 6) for i in range(15)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["lang"], r["split"]): r["cnt"]
        for r in QUERIES["stratified_split"](spark, d).collect()
    }
    assert got[("aa", "train")] == 8 and got[("aa", "val")] == 1 and got[("aa", "test")] == 1
    assert got[("bb", "train")] == 4 and got[("bb", "test")] == 1
    assert ("bb", "val") not in got  # floor(0.9*5) == floor(0.8*5): empty val


def test_cms_never_underestimates_under_collisions(spark):
    """2500 distinct tokens >> 512 buckets forces collisions: every CMS
    estimate must still be >= the exact count (the one-sided guarantee),
    and the heavy hitter's estimate stays within the N/512-per-row
    collision bound."""
    from vectolite_spark.registry import QUERIES
    import os, tempfile

    d = tempfile.mkdtemp()
    body = " ".join(f"w{i}" for i in range(2500))
    rows = [(i, ("hot " * 50) + body, "en", "s", 10) for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = QUERIES["cms_token_estimates"](spark, d).collect()
    hot = [r for r in got if r["token"] == "hot"][0]
    assert hot["exact_count"] == 150
    n_total = 3 * (2500 + 50)
    for r in got:
        assert r["cms_estimate"] >= r["exact_count"], r
    assert hot["cms_estimate"] - hot["exact_count"] <= 2 * n_total / 512 + 1


def test_bloom_vocab_membership_guarantee_and_fp(spark, sf_dir):
    """Members can NEVER miss (Bloom's guarantee); the guaranteed-absent
    probe class hits only by collision, bounded well under the
    theoretical (1-e^{-kn/m})^k for the tiny test vocab."""
    import math

    from vectolite_spark.operators.textstats import bloom_vocab_membership
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = {r["probe_class"]: r for r in bloom_vocab_membership(docs).collect()}
    mem, ab = out["member"], out["absent"]
    assert mem["n_hits"] == mem["n_probes"] and mem["hit_rate"] == 1.0
    assert ab["n_probes"] == mem["n_probes"]
    n, m, k = mem["n_probes"], 4096, 3
    theory = (1.0 - math.exp(-k * n / m)) ** k
    # loose band: observed FP rate can exceed a tiny theory value on few
    # probes, but must stay far from "mostly hitting"
    assert ab["hit_rate"] <= max(5 * theory, 0.05)
    assert 0 < mem["bits_set"] <= min(m, k * n)


def test_bloom_filter_shard_merge_is_bit_or(spark, sf_dir):
    """Sketch mergeability: the filter built over the whole corpus equals
    the bit-OR (set union) of per-shard filters — the property that lets
    each of 1000 executors build locally and union tiny bit sets."""
    from pyspark.sql import functions as F

    from vectolite_spark.operators.dedup import norm_tokens
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")

    def bits_of(df):
        toks = (
            df.select(F.explode(norm_tokens("text")).alias("w"))
            .filter(F.col("w") != "")
            .distinct()
        )
        pos = toks.select(
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"), "w"
        ).select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), "w")),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 4096
            ).alias("bit")
        )
        return {r["bit"] for r in pos.distinct().collect()}

    whole = bits_of(docs)
    a = bits_of(docs.filter(F.col("doc_id") % 2 == 0))
    b = bits_of(docs.filter(F.col("doc_id") % 2 == 1))
    assert whole == a | b


def test_bigram_pmi_closed_form(spark):
    """PMI values verified against the closed-form log(N*c12/(c1*c2)) on a
    corpus with a known collocation: 'new york' co-occurs always, so its
    PMI must exceed a pair of independent frequent words."""
    import math

    from vectolite_spark.operators.textstats import bigram_pmi_collocations

    rows = [(i, "new york " + "the cat sat on the mat " * 2, "en", "s", 0)
            for i in range(6)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r["w1"], r["w2"]): r for r in
           bigram_pmi_collocations(docs, min_count=5, k=20).collect()}
    assert ("new", "york") in out
    ny = out[("new", "york")]
    # counts: 6 docs x 14 tokens = 84 total; 'new'=6, 'york'=6, pair=6
    assert ny["pair_count"] == 6
    want = round(math.log(84.0 * 6 / (6 * 6)), 6)
    assert abs(ny["pmi"] - want) < 1e-9
    # 'the cat' occurs 12x but 'the' is frequent (24) -> lower PMI
    assert ("the", "cat") in out and out[("the", "cat")]["pmi"] < ny["pmi"]


def test_dsir_importance_weights_closed_form(spark):
    """DSIR weights recomputed exactly in pure Python (same md5 buckets,
    same add-1 smoothing, same DECIMAL(30,10)-quantized fold): the raw doc
    that shares the target domain's vocabulary must outrank the alien doc,
    and both weights must match to the emitted 6 dp."""
    import hashlib
    import math
    from decimal import Decimal

    from vectolite_spark.operators.textstats import dsir_importance_weights

    target_text = "alpha beta gamma alpha beta"
    rows = [
        (1, target_text, "en", "t1", 0),
        (2, target_text, "en", "t1", 0),
        (100, "alpha beta gamma", "en", "raw", 0),
        (101, "zeta eta theta iota", "en", "raw", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance_weights(docs, target_sources=["t1"]).collect()
    }
    assert set(got) == {100, 101}

    def grams(text):
        t = text.lower().split()
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:6], 16) % 256

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for _id, text, _l, src, _n in rows:
        for g in grams(text):
            d = ct if src == "t1" else cr
            d[bucket(g)] = d.get(bucket(g), 0) + 1
    tt, tr = float(sum(ct.values())), float(sum(cr.values()))

    def weight(text):
        per: dict[int, int] = {}
        for g in grams(text):
            per[bucket(g)] = per.get(bucket(g), 0) + 1
        acc = Decimal(0)
        for b_, n in per.items():
            lr = math.log((ct.get(b_, 0) + 1.0) / (tt + 256.0)) - math.log(
                (cr.get(b_, 0) + 1.0) / (tr + 256.0)
            )
            acc += Decimal(f"{float(n) * lr:.10f}")
        return round(float(acc), 6)

    assert got[100] == weight("alpha beta gamma")
    assert got[101] == weight("zeta eta theta iota")
    assert got[100] > got[101]


def test_bpe_fertility_closed_form(spark):
    """Same 'aaab aaab ab' corpus as the apply test, split across two
    groups: group g1 holds the full doc (3 words, 10 chars, 3 BPE tokens
    -> fertility 1.0, 10/3 chars/token); g2 holds 'ab ab' (2 words, 4
    chars, 2 tokens after the (a,b) merge)."""
    from vectolite_spark.operators.textstats import bpe_fertility_by_group

    df = spark.createDataFrame(
        [(1, "aaab aaab ab", "g1"), (2, "ab ab", "g2")],
        "doc_id long, text string, grp string",
    )
    got = {r["grp"]: r for r in bpe_fertility_by_group(df, ["grp"]).collect()}
    g1 = got["g1"]
    assert (g1["n_words"], g1["n_chars"], g1["n_bpe_tokens"]) == (3, 10, 3)
    assert g1["fertility"] == 1.0
    assert g1["chars_per_token"] == round(10 / 3, 6)
    g2 = got["g2"]
    assert (g2["n_words"], g2["n_chars"], g2["n_bpe_tokens"]) == (2, 4, 2)
    assert g2["fertility"] == 1.0 and g2["chars_per_token"] == 2.0


def test_k_anonymity_audit_flags_only_small_classes(spark):
    """Only quasi-identifier classes with fewer than 5 members surface;
    the big class is silent; bin edges floor (149 chars -> bin 100)."""
    import os, tempfile

    import __spark_entry__  # noqa: F401
    from vectolite_spark.registry import QUERIES

    d = tempfile.mkdtemp()
    rows = [(i, "x", "en", "big", 149) for i in range(10)]  # one class of 10
    rows += [(100, "x", "de", "rare", 149), (101, "x", "de", "rare", 151)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = [
        (r["lang"], r["source"], r["len_bin"], r["class_size"])
        for r in QUERIES["k_anonymity_audit"](spark, d).collect()
    ]
    assert got == [("de", "rare", 100, 2)]


def test_span_corruption_pairs_match_pure_python(spark):
    """Input/target reconstructed in pure Python (same md5 coins, same
    3-token blocks, same sentinel numbering) for docs chosen to include
    both masked and unmasked blocks; roundtrip invariant: replacing each
    sentinel in the input with its target span recovers the original."""
    import hashlib

    from vectolite_spark.operators.textstats import span_corruption_pairs

    texts = {
        i: " ".join(f"tok{j}" for j in range(20)) for i in range(40)
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in span_corruption_pairs(docs).collect()}

    any_masked = False
    for i, text in texts.items():
        t = text.lower().split()
        nb = (len(t) + 2) // 3
        mask = [
            hashlib.md5(f"{i}:{j}".encode()).hexdigest().startswith("0")
            for j in range(nb)
        ]
        k = 0
        inp, tgt = [], []
        for j in range(nb):
            block = " ".join(t[j * 3 : j * 3 + 3])
            if mask[j]:
                inp.append(f"<extra_id_{k}>")
                tgt.append(f"<extra_id_{k}> {block}")
                k += 1
            else:
                inp.append(block)
        r = got[i]
        assert r["n_tokens"] == len(t)
        assert r["n_masked_blocks"] == k
        assert r["input_text"] == " ".join(inp)
        assert r["target_text"] == " ".join(tgt)
        any_masked = any_masked or k > 0
        # roundtrip: splice target spans back over the sentinels
        recon = r["input_text"]
        for piece in reversed(tgt):
            sent, span = piece.split("> ", 1)
            recon = recon.replace(sent + ">", span)
        assert recon == " ".join(t)
    assert any_masked  # the fixture must exercise the masked branch


def test_dsir_gumbel_key_formula(spark):
    """The Gumbel key is exactly weight + (-ln(-ln(u))) with the doc's
    md5-derived uniform — recomputed in pure Python from each output
    row's own weight; ordering follows the key, not the raw weight."""
    import hashlib
    import math

    from vectolite_spark.operators.textstats import dsir_gumbel_sample

    rows = [(i, f"alpha beta w{i} w{i+1} gamma delta", "t1" if i < 3 else "raw")
            for i in range(30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = dsir_gumbel_sample(docs, target_sources=["t1"], top_n=10).collect()
    assert len(out) == 10
    keys = []
    for r in out:
        u = (int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
             + 0.5) / 2**32
        want = round(r["dsir_weight"] - math.log(-math.log(u)), 6) + 0.0
        assert r["gumbel_key"] == want, (r, want)
        keys.append(r["gumbel_key"])
    assert keys == sorted(keys, reverse=True)


def test_schema_drift_audit_closed_form(spark):
    """Two clean periods: first half 2 rows (prices 10, 20; 1 customer),
    second half 4 rows (prices 30x4; 2 customers). Every metric and
    relative change is hand-computable."""
    import datetime
    import os, tempfile

    import __spark_entry__  # noqa: F401
    from vectolite_spark.registry import QUERIES

    d = tempfile.mkdtemp()
    day = lambda k: datetime.datetime(2024, 1, 1 + k)  # noqa: E731
    rows = [
        (1, 100, "O", 10.0, day(0), "1-URGENT"),
        (2, 100, "O", 20.0, day(1), "1-URGENT"),
        (3, 200, "F", 30.0, day(8), "2-HIGH"),
        (4, 200, "F", 30.0, day(9), "2-HIGH"),
        (5, 300, "F", 30.0, day(9), "3-MEDIUM"),
        (6, 300, "F", 30.0, day(9), "3-MEDIUM"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    got = {r["metric"]: r for r in QUERIES["schema_drift_audit"](spark, d).collect()}
    assert (got["row_count"]["first_half"], got["row_count"]["second_half"]) == (2.0, 4.0)
    assert got["row_count"]["rel_change"] == 1.0
    assert (got["totalprice_mean"]["first_half"], got["totalprice_mean"]["second_half"]) == (15.0, 30.0)
    assert got["totalprice_mean"]["rel_change"] == 1.0
    assert (got["custkey_distinct"]["first_half"], got["custkey_distinct"]["second_half"]) == (1.0, 2.0)
    assert (got["priority_distinct"]["first_half"], got["priority_distinct"]["second_half"]) == (1.0, 2.0)
    assert (got["status_distinct"]["first_half"], got["status_distinct"]["second_half"]) == (1.0, 1.0)
    assert got["status_distinct"]["rel_change"] == 0.0


def test_dsir_importance_weights_degenerate_inputs_raise(spark):
    """ADVICE r6: empty corpus / unmatched target_sources raise a
    descriptive ValueError instead of float(None)'s TypeError."""
    import pytest

    from vectolite_spark.operators.textstats import dsir_importance_weights

    empty = spark.createDataFrame(
        [(1, "t1", ""), (2, "raw", "  ")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="no tokens"):
        dsir_importance_weights(empty, target_sources=["t1"]).collect()

    docs = spark.createDataFrame(
        [(1, "t1", "alpha beta"), (2, "raw", "gamma delta")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(ValueError, match="matched no documents"):
        dsir_importance_weights(docs, target_sources=["nope"]).collect()
    with pytest.raises(ValueError, match="no raw pool"):
        dsir_importance_weights(docs, target_sources=["t1", "raw"]).collect()


def test_ccnet_perplexity_buckets_closed_form(spark):
    # per-language terciles: each lang buckets independently into near-
    # equal thirds; docs too short for bigrams are excluded; bucket 1
    # (head) holds the lowest NLLs, bucket means are non-decreasing.
    from vectolite_spark.operators.textstats import ccnet_perplexity_buckets

    rows = []
    # lang "en": 9 docs — 3 highly repetitive (low NLL), 3 mixed, 3 with
    # unique transitions (high NLL); repeated bigrams get high P(w2|w1)
    for i in range(3):
        rows.append((i, "aa bb aa bb aa bb aa bb", "en"))
    for i in range(3, 6):
        rows.append((i, f"aa bb cc{i} dd{i} aa bb", "en"))
    for i in range(6, 9):
        rows.append((i, f"uq{i}a uq{i}b uq{i}c uq{i}d uq{i}e", "en"))
    # lang "de": 3 docs, its own independent tercile cut
    for i in range(9, 12):
        rows.append((i, f"xx yy xx yy zz{i} xx", "de"))
    rows.append((99, "short", "en"))  # 1 token -> no bigrams -> excluded
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet_perplexity_buckets(docs).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    en = sorted(by_lang["en"], key=lambda r: r["bucket"])
    assert [r["bucket"] for r in en] == [1, 2, 3]
    assert sum(r["n_docs"] for r in en) == 9  # the 1-token doc is excluded
    assert all(r["n_docs"] == 3 for r in en)  # ntile: equal thirds
    # head bucket NLL <= middle <= tail
    assert en[0]["mean_nll"] <= en[1]["mean_nll"] <= en[2]["mean_nll"]
    assert en[0]["max_nll"] <= en[1]["min_nll"]  # buckets partition the order
    de = by_lang["de"]
    assert sum(r["n_docs"] for r in de) == 3  # independent per-lang cut


def test_ccnet_lang_cutpoints_match_numpy_quantiles(spark):
    # exact rank-linear percentiles: the cutpoints must equal numpy's
    # linear-interpolation quantiles of the per-doc NLLs, per language.
    import numpy as np

    from vectolite_spark.operators.textstats import (
        bigram_lm_scores,
        ccnet_lang_cutpoints,
    )

    rows = []
    for i in range(9):
        rows.append((i, f"aa bb cc{i % 4} dd{i % 3} aa bb ee{i}", "en"))
    for i in range(9, 14):
        rows.append((i, f"xx yy zz{i % 2} xx yy ww{i}", "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    nll = {
        r["doc_id"]: r["avg_nll"]
        for r in bigram_lm_scores(docs).collect()
        if r["avg_nll"] is not None
    }
    got = {r["lang"]: r for r in ccnet_lang_cutpoints(docs).collect()}
    for lang, ids in (("en", range(9)), ("de", range(9, 14))):
        vals = np.array([nll[i] for i in ids])
        assert got[lang]["n_scored"] == len(vals)
        assert got[lang]["p33"] == round(float(np.quantile(vals, 1.0 / 3)), 6)
        assert got[lang]["p66"] == round(float(np.quantile(vals, 2.0 / 3)), 6)
