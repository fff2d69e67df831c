"""Text-analysis operators for training-data pipelines (north-star extension):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. Quality/token features are pure column expressions
(JVM-side, whole-stage codegen); lang-id and fingerprint are single-pass
Arrow UDFs (their expression forms evaluate interpreted per-token/per-gram
md5 calls — the slow path, kept for differential testing). All with
portable DuckDB twins (md5 hashes, explicit regex classes — no engine-
specific tokenizers).

Everything here is a narrow per-row transformation: zero shuffles, scales
linearly with executors at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectolite_spark.localframe import local_df
from vectolite_spark.operators.dedup import (
    norm_tokens,
    widen_small_input,
    word_shingles,
)

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "ich"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "los", "las", "y", "es", "que", "de"],
    "fr": ["le", "la", "les", "et", "est", "que", "des", "un"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3"],  # pinyin-ish tokens
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "for", "on", "with", "as", "at"]

# portable "BPE-ish" token regex: alnum runs OR single non-alnum-non-space
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^.!?,;:]"


def predict_lang(text_col: Column | str) -> Column:
    """argmax over marker counts; ties break alphabetically (deterministic).
    One Arrow-batched UDF: tokenize once per row, intersect all marker sets
    (the pure-expression form re-tokenizes per language and runs ~5x
    slower; semantics identical, oracle-verified)."""
    from vectolite_spark._pandas_udfs import make_lang_udf

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return make_lang_udf(LANG_MARKERS)(c)


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-token-length
    features + a composite quality score in [0,1]-ish (deterministic
    arithmetic over integer counts -> oracle-exact)."""
    t = F.col(text_col)
    toks = norm_tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    # PUNCT_RE matches NON-punctuation chars; stripping them leaves only
    # punctuation, whose length is the count
    n_punct = F.length(F.regexp_replace(t, PUNCT_RE, ""))
    # ratio of tokens that are English stopwords (function-word density — a
    # classic fluency signal; word salad scores low)
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    mean_tok_len = (
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        / n_tokens
    )
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    length_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    # deliberately NOT rounded: both engines evaluate the identical IEEE
    # expression tree, so the doubles are bit-identical — while ROUND(x, 6)
    # DIVERGES when a power-of-2 token/char count parks the exact value on
    # a decimal half-boundary (found at sf0.1: 32 tokens -> 0.2620625,
    # Spark HALF_UP vs DuckDB round-half-even on binary-exact doubles; the
    # same landmine class defused in multimodal round 1). Rounding is what
    # creates the hazard here, not what removes it.
    quality = (
        0.4 * length_score
        + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
        + 0.2 * F.least(punct_ratio * 20, F.lit(1.0))
        + 0.1 * F.least(mean_tok_len / 10, F.lit(1.0))
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
        mean_tok_len.alias("mean_tok_len"),
        quality.alias("quality"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return df.select(
        F.col(id_col),
        F.size(norm_tokens(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0))).alias(
            "bpe_tokens"
        ),
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    email_re: str = EMAIL_RE,
    phone_re: str = PHONE_RE,
) -> DataFrame:
    """PII scrubbing for corpus curation: emails then phone-shaped runs
    replaced with typed placeholders, pure codegen regexp_replace (zero
    shuffle, linear scan — the shape that streams through 100 TB). The
    default patterns use only syntax with identical semantics in Java
    regex (Spark) and RE2 (DuckDB oracle): classes, counted reps, no
    backrefs/lookaround. Returns (id, redacted, n_emails, n_phones)."""
    emails = F.regexp_extract_all(F.col(text_col), F.lit(email_re), F.lit(0))
    no_email = F.regexp_replace(F.col(text_col), email_re, "[EMAIL]")
    phones = F.regexp_extract_all(no_email, F.lit(phone_re), F.lit(0))
    return df.select(
        F.col(id_col),
        F.regexp_replace(no_email, phone_re, "[PHONE]").alias("redacted"),
        F.size(emails).alias("n_emails"),
        F.size(phones).alias("n_phones"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repeated-3-gram stats per doc — the Gopher-style repetition quality
    signal (a doc whose shingles are mostly duplicates is boilerplate or
    looped generation). Pure array expressions, zero shuffle; emits the
    exact integer counts rather than only a rounded ratio so the oracle
    comparison never sits on a decimal half-boundary (power-of-two
    shingle counts are common). rep_ratio = 1 - distinct/total stays for
    human use, rounded after the (inexact) division."""
    sh = word_shingles(norm_tokens(text_col))
    return df.select(
        F.col(id_col),
        F.size(sh).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_distinct"),
    ).withColumn(
        "rep_ratio",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_shingles"),
            6,
        ),
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 8,
) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over all
    character 8-gram shingles (rolling-hash family, md5 for portability).
    Equal fingerprints => near-certain shared content block.

    One Arrow-batched hashlib pass per row: the pure-expression form
    (``transform(sequence(...))``, the tests' parity reference) evaluates
    ONE INTERPRETED md5 PER CHARACTER OFFSET — a 10 KB doc is 10 000
    interpreted calls."""
    from vectolite_spark._pandas_udfs import make_fingerprint_udf

    fp = make_fingerprint_udf(gram)(F.col(text_col))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats): a classic
    gibberish / compression-quality signal — natural prose lands ~3-4.3,
    single-char spam near 0, uniform random base64 near ln(64).

    Pure built-in plan: split-to-chars + explode (narrow), one shuffle to
    count (doc_id, char) pairs, one shuffle keyed on doc_id to fold counts
    into the entropy sum.  Per-term doubles are quantized to DECIMAL(30,10)
    before the fold so the sum is order-independent (Spark partial
    aggregation order vs DuckDB's would otherwise produce last-ulp drift),
    then rounded to 4 dp.
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("distinct_chars"),
    )
    n_tot = F.col("n")
    # -(c/n) * ln(c/n), quantized per term, summed exactly as DECIMAL
    term = (-(F.col("c") / n_tot) * F.log(F.col("c") / n_tot)).cast(
        "decimal(30,10)"
    )
    ent = (
        counts.join(per_doc.select(id_col, "n", "distinct_chars"), id_col)
        .groupBy(id_col, "n", "distinct_chars")
        .agg(F.round(F.sum(term).cast("double"), 4).alias("char_entropy"))
    )
    return ent.select(
        F.col(id_col),
        F.col("n").cast("long").alias("n_chars_counted"),
        F.col("distinct_chars").cast("long").alias("distinct_chars"),
        "char_entropy",
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram LM negative log-likelihood per document — the
    CCNet-style "perplexity filter" shape: train MLE bigram statistics on
    the corpus itself, then score each doc's average -ln P(w2|w1).
    Outlier docs (word salad, boilerplate with rare transitions) score
    high; fluent in-domain text scores low.

    Scale plan: bigrams are md5-hashed at generation so all three shuffles
    (bigram counts, left-token counts, count join back) carry 32-char
    keys; counts get map-side partial aggregation; the count join is
    co-keyed with the count shuffle. Per-term doubles are DECIMAL-
    quantized so the per-doc sum is order-independent across engines.
    Docs with < 2 tokens have no bigrams: n_bigrams 0, avg_nll NULL.

    Execution (round 12): the tokenize+md5 bigram stream has THREE
    consumers (bigram counts, left counts, the per-doc score join) —
    profiled at sf0.1, each recomputed it from the scan as a 1-task
    stage (~2.4 s CPU each, single parquet file = one split). The
    stream is now fanned out before the per-row stage
    (``widen_small_input``, a no-op on an already-parallel scan) and
    materialized ONCE through the managed cache every consumer shares
    (replaced on the next call, unpersisted by sweep isolation —
    storage level spills to disk at scale, and the cached relation
    carries only (id, two md5s) per bigram, never text).
    """
    from vectolite_spark.operators.dedup import (
        _managed_cache,
        widen_small_input,
    )

    toks = norm_tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("t"))
    wide = widen_small_input(base)
    # the hashes are grouping/join keys only (never output), so store
    # them as 16-byte binary via unhex — injective on md5 hex, identical
    # group/join equality, and the CACHED stream (ADVICE r12) carries
    # half the key bytes of the 32-char hex form
    pairs_arr = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.unhex(F.md5(F.element_at(F.col("t"), i))).alias("w1_h"),
                F.unhex(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("t"), i),
                            F.element_at(F.col("t"), i + 1),
                        )
                    )
                ).alias("bg_h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1_h:binary,bg_h:binary>>"))
    big = _managed_cache(
        "bigram_lm_stream",
        wide.select(F.col(id_col), F.explode(pairs_arr).alias("p")).select(
            F.col(id_col),
            F.col("p.w1_h").alias("w1_h"),
            F.col("p.bg_h").alias("bg_h"),
        ),
    )
    cb = big.groupBy("bg_h").agg(F.count(F.lit(1)).alias("cb"))
    cl = big.groupBy("w1_h").agg(F.count(F.lit(1)).alias("cl"))
    term = (-F.log(F.col("cb") / F.col("cl"))).cast("decimal(30,10)")
    scored = (
        big.join(cb, "bg_h")
        .join(cl, "w1_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            # decimal sum -> double FIRST, then double/long division: Spark's
            # decimal/integer division would pick an engine-specific quotient
            # scale; double division is the same IEEE op DuckDB runs
            F.round(F.sum(term).cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_nll"
            ),
        )
    )
    return base.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        "avg_nll",
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per LANGUAGE,
    rank documents by LM perplexity and cut into ``n_buckets`` equal-size
    buckets — head (lowest perplexity, cleanest) through tail. CCNet keeps
    head+middle for LM pretraining; the per-language cut is the point
    (a global threshold would drop entire low-resource languages whose
    absolute perplexities run higher).

    The scorer is the corpus-trained bigram LM (``bigram_lm_scores``);
    docs too short to have bigrams (avg_nll NULL) are excluded, like
    CCNet's length floor. Bucketing is ``ntile`` over the TOTAL order
    (avg_nll asc, doc_id asc) — deterministic across engines since
    avg_nll is already 4dp-rounded. Returns one row per (lang, bucket):
    n_docs, mean_nll (DECIMAL-folded, order-free), min_nll, max_nll.

    At 100 TB: the LM train+score shuffles carry md5 keys (see
    ``bigram_lm_scores``); the ntile is one shuffle on lang with
    per-language sorted partitions — languages are few and the window
    carries only (doc_id, avg_nll) pairs. A true 100 TB run would swap
    ntile for approx-quantile cutpoints; the exact tercile is the
    driver-verifiable contract of that plan."""
    from pyspark.sql import Window

    scores = bigram_lm_scores(df, text_col, id_col)
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    s = scores.join(langs, id_col).filter(F.col("avg_nll").isNotNull())
    w = Window.partitionBy("lang").orderBy(
        F.asc("avg_nll"), F.asc(id_col)
    )
    b = s.withColumn("bucket", F.ntile(n_buckets).over(w))
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("avg_nll").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_nll"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
        .orderBy("lang", "bucket")
    )


def ccnet_lang_cutpoints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The 100 TB form of the CCNet split: per-language perplexity
    CUTPOINTS (exact 1/3 and 2/3 percentiles of the bigram-LM NLL)
    instead of a global ntile window. At scale the split runs in two
    cheap passes — compute cutpoints (this aggregate; swap in
    approx_percentile when exactness isn't contractually needed), then
    bucket each doc with two comparisons in the scan — rather than
    sorting every language partition. Exact `percentile` here is
    engine-portable (rank = p*(n-1) linear interpolation, the same
    definition as DuckDB's quantile_cont), so the driver verifies the
    cutpoint math the approximate production pass approximates.
    One aggregate row per language: (lang, n_scored, p33, p66)."""
    scores = bigram_lm_scores(df, text_col, id_col).filter(
        F.col("avg_nll").isNotNull()
    )
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    return (
        scores.join(langs, id_col)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.round(F.percentile("avg_nll", F.lit(1.0 / 3)), 6).alias("p33"),
            F.round(F.percentile("avg_nll", F.lit(2.0 / 3)), 6).alias("p66"),
        )
        .orderBy("lang")
    )


def char_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """One BPE-style merge iteration at the character level: count adjacent
    within-word character pairs across the corpus (frequency-weighted — every
    token occurrence counts) and return the top ``top_n`` merge candidates.
    This is the inner loop of byte-pair-encoding vocabulary induction; run
    iteratively with merges applied it yields a BPE vocab.

    Scale plan: two-level aggregation rides Zipf's law — token occurrences
    first collapse to the (much smaller) distinct-word vocabulary with
    map-side partial counts, and pair explosion + substring arithmetic
    (whole-stage codegen, no Python) runs once per distinct word instead of
    once per occurrence; pair counts are then frequency-weighted sums. A
    natural-language corpus has a vocab orders of magnitude smaller than
    its token stream, so the expensive explode shrinks proportionally
    (measured 6.5x at sf0.1). Top-N via TakeOrderedAndProject (no full
    sort). Ordering is deterministic: count desc, pair asc.
    """
    toks = norm_tokens(text_col)
    words = (
        widen_small_input(df)
        .select(F.explode(toks).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_n)
    )


def source_mixture_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-smoothed data-mixing weights per source: the standard
    multilingual/multi-source training-mix recipe — sample source s with
    probability n_s^alpha / sum_t n_t^alpha (alpha < 1 upweights small
    sources). Emits per-source doc/token counts and the alpha=0.5 weight.

    Scale plan: one shuffle for the per-source counts (map-side partial
    agg over a handful of groups); the normalizer is a scalar broadcast.
    sqrt(count) is an exact IEEE op on both engines; weights are rounded
    to 6 dp so the tiny-group double sum cannot leak order sensitivity.
    """
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(norm_tokens(text_col))).cast("long").alias("n_tokens"),
    )
    smoothed = counts.withColumn(
        "_p", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    )
    total = smoothed.agg(F.sum("_p").alias("_z"))
    return (
        smoothed.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.round(F.col("_p") / F.col("_z"), 6).alias("weight"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (5, 10, 25),
) -> DataFrame:
    """Top-K vocabulary coverage: what fraction of all corpus token
    occurrences is covered by the K most frequent words, for each K — the
    first number a tokenizer/vocab designer asks for (how far does a tiny
    vocab go) and the standard head-heaviness summary of a corpus.

    Scale plan: one shuffle builds word counts with map-side partial
    aggregation; the global top-max(K) is a TakeOrderedAndProject (heap
    per partition, no full sort); the cumulative-sum window then runs over
    only max(K) <= 100 rows, so the single-partition window — normally a
    scale smell — is bounded by a constant, not by corpus size.  The
    corpus-total token count is a 1-row aggregate broadcast in.
    Ordering ties break on the word itself, so ranks are deterministic
    across engines.
    """
    from pyspark.sql import Window

    top_k = max(ks)
    wc = (
        df.select(F.explode(norm_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = wc.agg(F.sum("n").cast("long").alias("total"))
    top = wc.orderBy(F.col("n").desc(), F.col("w").asc()).limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("w").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("w").asc()))
        .cast("long")
        .alias("k"),
        F.sum("n").over(w).cast("long").alias("cum_tokens"),
    )
    return (
        ranked.filter(F.col("k").isin(*ks))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "cum_tokens",
            F.col("total").alias("total_tokens"),
            F.round(F.col("cum_tokens") / F.col("total"), 6).alias("coverage"),
        )
    )


def zipf_slope(
    df: DataFrame, text_col: str = "text", top_n: int = 100
) -> DataFrame:
    """Zipf rank-frequency fit over the top ``top_n`` words: least-squares
    slope/intercept of ln(freq) on ln(rank).  Natural corpora sit near
    slope -1; synthetic or templated text drifts far off — a cheap whole-
    corpus "does this look like language" diagnostic.

    Scale plan: word counts shuffle once (partial agg); the top-N is a
    TakeOrderedAndProject; the regression runs over N <= 100 points via
    order-free DECIMAL-quantized sums (each ln-term and product is an
    identical IEEE double on both engines, quantized to 12 dp BEFORE
    summation so partition order cannot perturb the total), then the
    closed-form slope/intercept arithmetic happens on exact sums.
    """
    from pyspark.sql import Window

    wc = (
        df.select(F.explode(norm_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = wc.orderBy(F.col("n").desc(), F.col("w").asc()).limit(top_n)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("w").asc()))
        .cast("double")
        .alias("rnk"),
        F.col("n").cast("double").alias("freq"),
    )
    x = F.log("rnk")
    y = F.log("freq")
    q = lambda c: c.cast("decimal(30,12)")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(q(x)).alias("sx"),
        F.sum(q(y)).alias("sy"),
        F.sum(q(x * y)).alias("sxy"),
        F.sum(q(x * x)).alias("sxx"),
    )
    c = F.col("c").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (c * sxy - sx * sy) / (c * sxx - sx * sx)
    # a single-distinct-token corpus (c == 1) has an exactly-zero
    # denominator: the fit is undefined, so slope/intercept are explicit
    # NULLs rather than a platform-dependent div-by-zero artifact
    defined = F.col("c") >= 2
    return s.select(
        F.col("c").alias("n_terms"),
        F.round(F.when(defined, slope), 6).alias("slope"),
        F.round(F.when(defined, (sy - slope * sx) / c), 6).alias("intercept"),
    )


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document n-gram novelty in ingestion (id) order: the fraction
    of a doc's distinct 3-token shingles whose FIRST corpus occurrence is
    this doc.  Crawl-curation uses exactly this signal to measure how much
    genuinely new content each snapshot/source contributes (novelty ~0 ==
    the doc is stitched from already-seen text; the per-source average
    ranks feeds by marginal value).

    Scale plan: two ANALYTIC shuffles (three exchanges in the censused
    plan — the extra one is ``widen_small_input``'s round-robin
    repartition, a toy-scale fan-out that a real multi-split corpus
    wouldn't carry). The (shingle-hash, doc) pairs need no
    distinct AT ALL — each doc is one input row, so ``array_distinct`` on
    the shingle array dedups within-doc repeats map-side at zero shuffle
    and the exploded pairs are globally unique by construction (a
    ``.distinct()`` here would hash-partition on (doc, hash), which the
    hash-only window can't reuse — Spark would insert a third exchange;
    ADVICE r4). The first-seen doc is then MIN OVER (PARTITION BY hash)
    — shuffle one — and the per-doc rollup is shuffle two. Only md5
    hashes (32 bytes) ever move; the input is widened first so the Arrow
    shingle UDF runs on every core even when the source is a
    single-split file.
    """
    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import make_shingle_udf
    from vectolite_spark.operators.dedup import widen_small_input

    pairs = (
        widen_small_input(df)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(make_shingle_udf()(F.col(text_col)))
            ).alias("s"),
        )
        .select(F.col(id_col), F.md5("s").alias("sh"))
    )
    first = F.min(id_col).over(Window.partitionBy("sh"))
    return (
        pairs.withColumn("first_doc", first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 6)
        )
    )


BPE_SEP = "\x1f"  # unit separator: token-boundary sentinel for BPE merges


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", iterations: int = 3
) -> DataFrame:
    """Iterative BPE vocabulary induction — not just one candidate pass
    (``char_pair_counts``) but the actual training LOOP: pick the most
    frequent adjacent pair, APPLY the merge corpus-wide, recount, repeat.
    Returns one row per iteration: (iteration, left_tok, right_tok, cnt).

    The trick that keeps every step in engine-portable string ops: a
    word's tokenization is a SEP-delimited string (``\\x1f h \\x1f e …``)
    and applying merge (x, y) is literal ``replace`` — but a naive
    single replace of ``SEP x SEP y SEP`` CONSUMES the shared boundary
    separator, so consecutive occurrences merge only alternately
    (``abab -> [ab, a, b]``, not BPE's ``[ab, ab]``). The closed form
    that fixes it without a loop: DOUBLE every separator, replace
    ``SEP x SEPSEP y SEP`` with ``SEP xy SEP`` (each occurrence consumes
    one sep from each outer boundary and the replacement re-emits it, so
    neighbors still match in the same left-to-right pass), then collapse
    ``SEPSEP`` back to ``SEP``. Every surviving boundary is exactly
    doubled at collapse time, and runs merge left-aligned pairwise —
    ``aaaa -> [aa, aa]``, ``aaaaa -> [aa, aa, a]`` — precisely BPE's
    greedy non-overlapping single pass, in Spark and DuckDB alike.
    Merged symbols participate in later iterations like any token.

    Scale plan: the working relation is the DISTINCT-WORD vocabulary with
    occurrence weights (Zipf: thousands of rows for billions of tokens),
    cached and rewritten in place per merge; each iteration is one
    explode + map-side-combined count of 2-token keys plus one driver
    fetch of a single winner row. O(iterations) bounded rounds — the
    same shape a 100 TB tokenizer-training job wants, with the corpus
    touched exactly once at the start.
    """
    from vectolite_spark.operators.dedup import (
        _managed_cache,
        norm_tokens,
        widen_small_input,
    )

    words = (
        widen_small_input(df)
        .select(F.explode(norm_tokens(text_col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    vocab = words.select(
        F.concat(
            F.lit(BPE_SEP), F.array_join(chars, BPE_SEP), F.lit(BPE_SEP)
        ).alias("s"),
        "wc",
    )
    merges = []
    for it in range(1, iterations + 1):
        vocab = _managed_cache(f"bpe_vocab_{it % 2}", vocab)
        toks = F.filter(F.split("s", BPE_SEP), lambda x: x != "")
        # a fully-merged word has one token and no pairs; sequence(1, 0)
        # would DESCEND through index 0, so gate on size >= 2
        idx = F.when(
            F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = vocab.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("l"),
                        F.element_at(toks, i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
            "wc",
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .first()
        )
        if top is None:
            # no adjacent pairs left anywhere (single-char-only corpus,
            # or vocab fully merged before `iterations` rounds) — return
            # the merges found so far rather than TypeError on top['l']
            break
        merges.append((it, top["l"], top["r"], int(top["cnt"])))
        # double-sep / replace / collapse — see the module docstring above
        # for why the naive single replace under-merges consecutive pairs
        doubled = F.replace(F.col("s"), F.lit(BPE_SEP), F.lit(BPE_SEP * 2))
        merged = F.replace(
            doubled,
            F.lit(BPE_SEP + top["l"] + BPE_SEP + BPE_SEP + top["r"] + BPE_SEP),
            F.lit(BPE_SEP + top["l"] + top["r"] + BPE_SEP),
        )
        vocab = vocab.select(
            F.replace(merged, F.lit(BPE_SEP * 2), F.lit(BPE_SEP)).alias("s"),
            "wc",
        )
    return local_df(
        df.sparkSession,
        merges,
        "iteration int, left_tok string, right_tok string, cnt long",
    )


def kmv_distinct_tokens(
    df: DataFrame, text_col: str = "text", group_col: str = "lang", k: int = 256
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002),
    the DETERMINISTIC companion to ``approx_distinct_tokens``'s HLL:
    md5 maps each distinct token to u in [0,1) (first 48 hash bits / 2^48
    — exact in a double on every engine), and the k-th smallest distinct
    u estimates cardinality as (k-1)/u_k. Groups with fewer than k
    distinct tokens are EXACT by construction (the sketch holds them
    all). Unlike HLL's engine-internal registers, every intermediate here
    is plain SQL — DuckDB replays it bit-for-bit, so the driver
    hash-gates the sketch itself, not just a tolerance band.

    Scale plan: one distinct shuffle on (group, token) — map-side
    combined — then the rank filter ``rn <= k`` runs as a
    WindowGroupLimit (Spark >= 3.5): each map task forwards only its
    local k smallest BEFORE the per-group shuffle, so the sort never
    sees more than k rows per group per task; the giant-language skew
    case is bounded the same way. Output carries the exact distinct
    count alongside (it falls out of the same distinct relation at one
    extra tiny aggregation) so the entry doubles as its own error
    report.
    """
    from pyspark.sql import Window

    from vectolite_spark.operators.dedup import norm_tokens

    toks = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(norm_tokens(text_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    u = (
        F.conv(F.substring(F.md5("token"), 1, 12), 16, 10).cast("double")
        / F.lit(float(1 << 48))
    ).alias("u")
    hs = toks.select("grp", u)
    w = Window.partitionBy("grp").orderBy("u")
    sketch = (
        hs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("rn") == k, F.col("u"))).alias("uk"),
            F.count(F.lit(1)).alias("in_sketch"),
        )
    )
    exact = toks.groupBy("grp").agg(F.count(F.lit(1)).alias("exact_distinct"))
    return (
        sketch.join(exact, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.round(
                F.when(
                    F.col("uk").isNull(),
                    F.col("in_sketch").cast("double"),
                ).otherwise(F.lit(float(k - 1)) / F.col("uk")),
                6,
            ).alias("kmv_distinct"),
            F.col("exact_distinct"),
        )
        .orderBy(group_col)
    )


def encoding_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-health signals for corpus curation: replacement
    characters (U+FFFD — the smoking gun of a wrong-charset decode),
    stray C0 control bytes (mojibake / binary spill; tab, LF and CR are
    legitimate), and the ASCII ratio (a cheap script/language drift
    flag). Pure codegen regexp arithmetic — zero shuffle, linear scan,
    the shape that streams through 100 TB. Counts are exact integers;
    the ratio is an UNROUNDED double (both engines evaluate the same
    IEEE division bit-identically, while ROUND would park power-of-two
    char counts on decimal half-boundaries — the quality_features
    lesson)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_ascii = F.length(F.regexp_replace(t, r"[^\x20-\x7E\t\n\r]", ""))
    n_control = F.length(t) - F.length(
        F.regexp_replace(t, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    )
    n_replacement = F.length(t) - F.length(F.regexp_replace(t, "�", ""))
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_exact"),
        n_ascii.cast("long").alias("n_ascii"),
        n_control.cast("long").alias("n_control"),
        n_replacement.cast("long").alias("n_replacement"),
        F.when(n_chars > 0, n_ascii.cast("double") / n_chars.cast("double"))
        .otherwise(F.lit(None))
        .alias("ascii_ratio"),
    )


def bpe_apply_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    iterations: int = 3,
) -> DataFrame:
    """Complete the tokenizer loop: TRAIN BPE merges on the corpus
    (``bpe_train_merges``), then APPLY them corpus-wide and report
    per-document token counts under the induced vocabulary — the number
    a token-budget sampler or packing planner actually consumes. The
    merge table is tiny (one row per iteration) and ships into the plan
    as literals; application is the same double-sep/replace/collapse
    closed form as training (greedy non-overlapping, engine-portable),
    evaluated per word in codegen. One explode + one map-combined
    groupBy — no extra pass over the corpus beyond training's.

    Returns (id, n_char_tokens, n_bpe_tokens): character count before
    merging vs token count after; the ratio is the realized compression
    of the learned vocabulary."""
    return (
        _bpe_scored_words(df, [id_col], text_col, iterations)
        .groupBy(id_col)
        .agg(
            F.sum("nb").cast("long").alias("n_char_tokens"),
            F.sum("na").cast("long").alias("n_bpe_tokens"),
        )
    )


def _bpe_scored_words(
    df: DataFrame, carry_cols: list[str], text_col: str, iterations: int
) -> DataFrame:
    """Shared train+apply kernel: one row per corpus word occurrence with
    its char count ``nb`` and post-merge BPE token count ``na``, carrying
    ``carry_cols`` through for whatever rollup the caller wants. The merge
    table ships as literals; scoring stays in codegen."""
    merges = [
        (r["left_tok"], r["right_tok"])
        for r in bpe_train_merges(df, text_col, iterations).collect()
    ]
    words = df.select(
        *[F.col(c) for c in carry_cols], F.explode(norm_tokens(text_col)).alias("w")
    ).filter(F.col("w") != "")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    s = F.concat(F.lit(BPE_SEP), F.array_join(chars, BPE_SEP), F.lit(BPE_SEP))
    for left, right in merges:
        doubled = F.replace(s, F.lit(BPE_SEP), F.lit(BPE_SEP * 2))
        merged = F.replace(
            doubled,
            F.lit(BPE_SEP + left + BPE_SEP + BPE_SEP + right + BPE_SEP),
            F.lit(BPE_SEP + left + right + BPE_SEP),
        )
        s = F.replace(merged, F.lit(BPE_SEP * 2), F.lit(BPE_SEP))
    n_after = F.size(F.filter(F.split(s, BPE_SEP), lambda x: x != ""))
    return words.select(
        *[F.col(c) for c in carry_cols],
        F.length("w").alias("nb"),
        n_after.alias("na"),
    )


def bpe_fertility_by_group(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    iterations: int = 3,
) -> DataFrame:
    """Tokenizer fertility report: how well the trained BPE vocabulary
    compresses each slice of the corpus — tokens-per-word (fertility, the
    number multilingual tokenizer papers track per language) and
    chars-per-token (realized compression). A vocabulary trained on a
    skewed mix shows high fertility on underrepresented slices; this is
    the signal for rebalancing the mix or growing the vocab.

    All sums are exact integers (map-side combined, one shuffle on the
    tiny group key); the two ratios are single double divisions of exact
    integers, bit-identical across engines. Deterministic order by group.
    """
    scored = _bpe_scored_words(df, group_cols, text_col, iterations)
    out = scored.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("nb").cast("long").alias("n_chars"),
        F.sum("na").cast("long").alias("n_bpe_tokens"),
    )
    return out.select(
        *group_cols,
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    ).orderBy(*group_cols)


def bloom_vocab_membership(
    df: DataFrame,
    text_col: str = "text",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter vocabulary membership with DETERMINISTIC md5 hashes —
    the membership pillar of the sketch family (KMV = distinct count,
    CMS = frequency, Bloom = set membership; Bloom 1970). The corpus
    vocabulary is folded into an ``m_bits``-bit filter (each token sets
    ``k_hashes`` md5-derived bit positions), then the filter is probed
    with (a) every vocabulary token — MUST all hit, Bloom's
    no-false-negative guarantee — and (b) a same-size guaranteed-absent
    set (each token + ' #': tokens are whitespace-split so none can
    contain a space), whose hit count IS the observed false-positive
    rate. Both engines derive identical bit positions from the same md5
    arithmetic, so the driver hash-gates the filter itself, guarantee
    included.

    Output (2 rows): probe_class member|absent, n_probes, n_hits,
    hit_rate (6dp), bits_set.

    Scale: the filter is <= m_bits rows regardless of corpus size and
    broadcast to every probe task; the corpus is scanned ONCE — the
    distinct vocabulary (tiny next to the corpus) is checkpointed and
    every downstream relation (bit set, both probe classes, bits_set
    count) derives from it instead of re-running the explode+distinct
    (uncached, Spark's three consumers re-scanned the corpus 3x);
    sketches from disjoint shards merge by bit-OR (union the position
    sets), so at 100 TB each partition builds locally and the tiny bit
    sets union at the driver. No reference counterpart — north-star
    extension.
    """
    toks = (
        df.select(F.explode(norm_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
        # localCheckpoint, not cache(): blocks are freed by the
        # ContextCleaner once the returned DataFrame is dropped, whereas
        # CacheManager entries outlive every reference (each invocation
        # would leak a vocab-sized cache for the session's lifetime)
        .localCheckpoint(eager=True)
    )

    def bucket(i: Column, w: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(i.cast("string"), F.lit(":"), w)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    ks = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("i")
    bits = (
        toks.select(ks, "w")
        .select(bucket(F.col("i"), F.col("w")).alias("bit"))
        .distinct()
        # <= m_bits rows; consumed by the probe join AND count
        .localCheckpoint(eager=True)
    )
    probes = toks.select(
        F.lit("member").alias("probe_class"), F.col("w")
    ).unionByName(
        toks.select(
            F.lit("absent").alias("probe_class"),
            F.concat(F.col("w"), F.lit(" #")).alias("w"),
        )
    )
    ppos = probes.select("probe_class", "w", ks).select(
        "probe_class", "w", bucket(F.col("i"), F.col("w")).alias("bit")
    )
    hits = (
        ppos.join(F.broadcast(bits.withColumn("present", F.lit(1))), "bit", "left")
        .groupBy("probe_class", "w")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_set"))
        .withColumn("hit", (F.col("n_set") == k_hashes).cast("int"))
    )
    n_bits_set = bits.count()
    return (
        hits.groupBy("probe_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum("hit").cast("long").alias("n_hits"),
        )
        .withColumn(
            "hit_rate",
            F.round(F.col("n_hits").cast("double") / F.col("n_probes"), 6),
        )
        .withColumn("bits_set", F.lit(n_bits_set).cast("long"))
        .orderBy("probe_class")
    )


def bigram_pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation mining via pointwise mutual information (Church & Hanks
    1990): for adjacent token pairs, PMI = log(N * c(w1,w2) / (c(w1) *
    c(w2))) — high-PMI pairs are multiword expressions ("new york") that
    tokenizers, dedup shingles, and BPE merges should treat as units.
    Pairs below ``min_count`` are dropped first (PMI's classic
    rare-pair explosion), then the top ``k`` by (rounded PMI desc, pair
    asc) are emitted.

    Determinism: every count is an exact integer; the only float is the
    final single log expression, computed from integer-valued doubles
    identically on both engines and rounded 6dp before ordering.

    Scale: two narrow corpus scans (pair stream via a zip-with-next
    transform on the token array — no self-join — and the unigram
    stream); pair counts shuffle on the pair, unigram counts on the
    word. The vocab-sized unigram relation is CHECKPOINTED because it
    has three consumers (w1 join, w2 join, corpus token total) —
    otherwise each re-scans the corpus; the token total is a sum over
    it, not a third scan. The two unigram joins are plain equi-joins AQE
    can broadcast when the vocab fits (at 100 TB it picks shuffle
    joins — still vocab-sized, never corpus-sized, because aggregation
    happened first). The min_count filter prunes before the joins.
    """
    toks = df.select(norm_tokens(text_col).alias("t")).filter(F.size("t") > 1)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                lambda w, i: F.struct(
                    w.alias("w1"), F.element_at(F.col("t"), i + 2).alias("w2")
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    words = df.select(F.explode(norm_tokens(text_col)).alias("w")).filter(
        F.col("w") != ""
    )
    # localCheckpoint (not cache): three consumers, blocks freed with the
    # DataFrame reference instead of persisting in CacheManager forever
    uni = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    n_tokens = uni.agg(F.sum("c")).first()[0]
    out = (
        pair_counts.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    F.lit(float(n_tokens))
                    * F.col("c12").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(k)


def dsir_importance_weights(
    df: DataFrame,
    target_sources: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 256,
    top_n: int | None = 50,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every RAW document by how target-domain-like its hashed n-gram
    profile is, and keep the highest-scoring ones.

    Features are word unigrams + bigrams hashed into ``n_buckets`` buckets
    (leading md5 hex — portable across engines). Two bag-of-buckets
    multinomials are estimated with add-1 smoothing: p (over docs whose
    ``source`` is in ``target_sources``) and q (over the rest). A raw
    doc's log importance weight is sum_b n_b(doc) * ln(p_b / q_b) — large
    when the doc's feature mass sits in buckets the target domain uses
    more than the raw pool does.

    Scale plan: the feature explode is narrow; per-doc bucket counts
    combine map-side and shuffle only (doc_id, bucket, count) triples; the
    two corpus distributions aggregate to ``n_buckets`` rows each and the
    joined log-ratio table (256 rows) BROADCASTS to every executor, so
    scoring 100 TB of raw text is one narrow pass over the counts + one
    keyed fold per doc. Per-term products are quantized to DECIMAL(30,10)
    before the fold so the weight sum is partition-order-free (both
    engines fold identical decimals). Deterministic top-n: 6 dp rounded
    weight desc, id asc.
    """
    from vectolite_spark.operators.dedup import (
        _managed_cache,
        widen_small_input,
    )

    toks = widen_small_input(df).select(
        F.col(id_col), F.col(source_col), norm_tokens(text_col).alias("t")
    )
    # sequence(1, 0) DESCENDS in Spark, so short docs need an explicit
    # empty-bigram branch rather than an empty sequence
    bigrams = F.when(
        F.size(F.col("t")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("t")) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(F.concat(F.col("t"), bigrams)).alias("g"),
    ).filter(F.col("g") != "")
    bucketed = grams.select(
        F.col(id_col),
        F.col(source_col),
        (F.conv(F.substring(F.md5(F.col("g")), 1, 6), 16, 10).cast("long")
         % n_buckets).alias("bucket"),
    )
    is_target = F.col(source_col).isin(*target_sources)
    # per_doc has TWO consumers (the distribution fold and the per-doc
    # scoring join) — profiled at sf0.1, each re-ran the gram explode
    # from a 1-task scan. Fanned out above and materialized once via the
    # managed cache; the cached relation is the COMPACT (doc, source,
    # bucket, n) counts (<= 256 rows/doc), never grams or text.
    per_doc = _managed_cache(
        "dsir_per_doc",
        bucketed.groupBy(id_col, source_col, "bucket").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    # two corpus multinomials, derived from the compact per-doc counts
    # (the wide explode combines map-side into (doc, bucket, n) before any
    # shuffle); <= n_buckets rows after the fold, localCheckpointed so the
    # totals job and the log-ratio join don't each re-run the corpus scan
    dist = (
        per_doc.groupBy("bucket")
        .agg(
            F.sum(F.when(is_target, F.col("n")).otherwise(0)).alias("ct"),
            F.sum(F.when(is_target, 0).otherwise(F.col("n"))).alias("cr"),
        )
        .localCheckpoint(eager=True)
    )
    totals = dist.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    ).first()
    # empty corpus (every doc tokenized to nothing) -> dist has no rows
    # -> both sums are NULL; target_sources matching no docs -> tt == 0.
    # Either way the importance distribution is undefined — raise a
    # descriptive error instead of float(None)'s opaque TypeError.
    if totals["tt"] is None or totals["tr"] is None:
        raise ValueError(
            "dsir_importance_weights: no tokens found in the corpus "
            "(empty input or every document tokenized to nothing)"
        )
    if float(totals["tt"]) == 0.0:
        raise ValueError(
            f"dsir_importance_weights: target_sources={target_sources!r} "
            "matched no documents — the target multinomial is undefined"
        )
    if float(totals["tr"]) == 0.0:
        raise ValueError(
            "dsir_importance_weights: every document is in target_sources "
            "— there is no raw pool to weight"
        )
    tt, tr = float(totals["tt"]), float(totals["tr"])
    b = float(n_buckets)
    log_ratio = dist.select(
        "bucket",
        (
            F.log((F.col("ct").cast("double") + F.lit(1.0)) / F.lit(tt + b))
            - F.log((F.col("cr").cast("double") + F.lit(1.0)) / F.lit(tr + b))
        ).alias("lr"),
    )
    term = (F.col("n").cast("double") * F.col("lr")).cast("decimal(30,10)")
    scored = (
        per_doc.filter(~is_target)
        .join(F.broadcast(log_ratio), "bucket")
        .groupBy(id_col, source_col)
        .agg(F.round(F.sum(term).cast("double"), 6).alias("dsir_weight"))
    )
    if top_n is None:
        return scored
    return scored.orderBy(
        F.desc("dsir_weight"), F.asc(id_col)
    ).limit(top_n)


def dsir_gumbel_sample(
    df: DataFrame,
    target_sources: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 256,
    top_n: int = 50,
) -> DataFrame:
    """The DSIR paper's actual selection rule: GUMBEL-TOP-K resampling
    over the importance weights rather than a deterministic arg-top-k —
    sampling without replacement proportional to exp(weight), done as
    one order-by (Xie et al. 2023 §2; Kool et al. 2019 for the
    Gumbel-top-k equivalence). The noise is DETERMINISTIC here: each
    doc's uniform comes from its md5 (u = (hash+0.5)/2^32), so the
    sample is reproducible across engines, retries, and epochs — the
    same trick the epoch-shuffle and sampling ops use. Selection key =
    weight + (-ln(-ln u)), rounded 6 dp with an id tie-break.

    Same two-pass scale shape as ``dsir_importance_weights``; the key
    adds one narrow expression."""
    scored = dsir_importance_weights(
        df,
        target_sources,
        text_col=text_col,
        id_col=id_col,
        source_col=source_col,
        n_buckets=n_buckets,
        top_n=None,
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(F.col("dsir_weight") - F.log(-F.log(u)), 6) + F.lit(0.0)
    return (
        scored.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(top_n)
    )


def span_corruption_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 3,
) -> DataFrame:
    """T5-style span-corruption pairs (Raffel et al. 2020, public): the
    denoising pre-training objective's (input, target) transform. Tokens
    are grouped into ``span``-token blocks; a DETERMINISTIC md5 coin per
    (doc, block) masks ~1/16 of blocks; masked blocks are replaced by
    numbered ``<extra_id_K>`` sentinels in the input and emitted after
    their sentinel in the target.

    Everything is IN-ROW array expression work — zero shuffles, linear
    scan, the shape that streams through 100 TB. The sentinel number K is
    the count of masked blocks BEFORE the block, computed with a
    slice+filter prefix count (O(blocks^2) per row, bounded by document
    length — ~170 blocks for a 512-token doc). md5 coins make the
    corruption reproducible across retries, engines, and epochs.

    Returns (doc_id, n_tokens, n_masked_blocks, input_text, target_text).
    """
    base = df.select(F.col(id_col), norm_tokens(text_col).alias("t"))
    n = F.size("t")
    nb = F.ceil(n / F.lit(float(span))).cast("int")
    js = F.sequence(F.lit(0), nb - 1)  # nb >= 1: norm_tokens never empty

    def coin(j):
        return F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(":"), j.cast("string"))
        ).startswith("0")

    def prefix_k(j):
        # masked blocks strictly before j (the sentinel number)
        return F.size(F.filter(F.slice(F.col("mask"), 1, j), lambda x: x))

    def block_text(j):
        return F.array_join(F.slice(F.col("t"), j * span + 1, span), " ")

    def sentinel(j):
        return F.concat(
            F.lit("<extra_id_"), prefix_k(j).cast("string"), F.lit(">")
        )

    masked = base.select(
        F.col(id_col),
        "t",
        n.alias("n"),
        F.transform(js, coin).alias("mask"),
    )
    js2 = F.sequence(F.lit(0), F.size("mask") - 1)
    is_masked = lambda j: F.element_at(F.col("mask"), j + 1)  # noqa: E731
    return masked.select(
        F.col(id_col),
        F.col("n").cast("long").alias("n_tokens"),
        F.size(F.filter(F.col("mask"), lambda x: x))
        .cast("long")
        .alias("n_masked_blocks"),
        F.array_join(
            F.transform(
                js2,
                lambda j: F.when(is_masked(j), sentinel(j)).otherwise(
                    block_text(j)
                ),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(
                F.filter(js2, is_masked),
                lambda j: F.concat(sentinel(j), F.lit(" "), block_text(j)),
            ),
            " ",
        ).alias("target_text"),
    ).orderBy(id_col)
