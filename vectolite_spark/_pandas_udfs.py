"""Package-level pandas UDF constructors and the numpy vector kernels
they share (no ``from __future__ import annotations`` — pandas_udf
needs resolvable type hints).

Each vector kernel has one body here, and every Spark mapper,
driver-side probe and serving set calls it:

- ``rounded_cosine``: ``dot / (‖a‖·‖b‖)``, zero norm on either side
  -> 0.0, ``round_half_up`` to 6 dp (``_assign_cells`` alone rounds
  only its tie candidates, see its docstring);
- ``top_positions``: the best ``k`` rows by (score desc, id asc);
- ``_srp_planes`` / ``srp_bucket_codes``: the md5-Rademacher planes
  and the packed sign bits of every SRP code, block key and k-means
  seed cell (``srp_seed_cells``);
- ``srp_probe``: the SRP candidate union, rescore and selection over
  code and vector arrays (resident set and micro-batched mapper);
- ``_assign_cells``: nearest-centroid assignment (IVF build, Lloyd
  rounds), whose tie rule ``ann.greedy_probes`` shares.
"""

import math

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def round_half_up(a, decimals=6):
    """HALF_UP rounding (away from zero on ties) matching Spark's
    ``F.round`` on doubles and DuckDB's ``ROUND`` — NOT numpy's
    half-to-even ``np.round``.  A mapper that rounds half-even while the
    expression path / oracle rounds half-up can pick a different tie
    group on x.xxxxxx5 boundary scores and hash-mismatch (same landmine
    class defused in multimodal_features round 1)."""
    f = 10.0 ** decimals
    a = np.asarray(a, dtype=np.float64)
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def row_norms(mat):
    """The L2 norm of each row of a float64 matrix."""
    return np.sqrt((mat * mat).sum(axis=1))


def rounded_cosine(a, b, a_norms=None, b_norms=None, decimals=6):
    """Cosine of every row of ``a`` (N x d, float64) with every row of
    ``b`` (M x d), as an N x M matrix: ``dot / (‖a‖·‖b‖)``, 0.0 when
    either norm is zero, rounded with ``round_half_up`` — the exact
    Spark path's ``F.round(cosine_score, 6)``. ``a_norms``/``b_norms``
    are ``row_norms`` a caller already holds."""
    an = row_norms(a) if a_norms is None else a_norms
    bn = row_norms(b) if b_norms is None else b_norms
    denom = np.outer(an, bn)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom == 0.0, 0.0, (a @ b.T) / denom)
    return round_half_up(sims, decimals)


def top_positions(sc, ids, k):
    """Positions of the ``k`` best rows by (score desc, id asc).
    ``argpartition`` first narrows to the rows scoring at least the
    k-th best score — every row tied at that score stays in, so the id
    tie-break sees the whole tie group — then one lexsort orders them.
    NaN scores sort last, as in a full lexsort."""
    cand = np.arange(len(sc))
    if 0 < k < len(sc):
        kth = sc[np.argpartition(-sc, k - 1)[k - 1]]
        cand = np.flatnonzero(~(sc < kth))
    return cand[np.lexsort((ids[cand], -sc[cand]))[:k]]


def make_shingle_udf(n=3):
    """Normalized word n-gram shingles, matching the SQL-side semantics
    exactly: lower -> collapse whitespace -> split on single spaces ->
    n-token joins (docs shorter than n tokens fall back to the whole token
    string). Arrow-batched: interpreted JVM higher-order functions cost
    ~ms/row; this costs ~us/row."""
    import re

    ws = re.compile(r"\s+")

    def shingles(text):
        toks = ws.sub(" ", (text or "").strip().lower()).split(" ")
        if len(toks) >= n:
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return [" ".join(toks)]

    @pandas_udf("array<string>")
    def _shingle(texts: pd.Series) -> pd.Series:
        return texts.map(shingles)

    return _shingle


def make_block_cosine_pairs_fn(min_score, decimals=6):
    """applyInPandas per blocking group: pairwise cosine via one upper-
    triangle matmul instead of interpreted per-pair fold expressions."""

    def pairs(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
                {"id_a": "int64", "id_b": "int64", "score": "float64"}
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        norms = row_norms(mat)
        sims = rounded_cosine(mat, mat, norms, norms, decimals)
        iu, ju = np.triu_indices(n, k=1)
        keep = sims[iu, ju] >= min_score
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "score": sims[iu[keep], ju[keep]],
            }
        )

    return pairs


def make_incremental_semdedup_fn(tau, decimals=6):
    """applyInPandas per cluster for INCREMENTAL SemDeDup: each group
    holds one cluster's already-curated base members (``is_delta=0``)
    and its newly-arrived delta members (``is_delta=1``); emits one
    verdict row per DELTA member. A delta member is pruned iff some
    cluster-mate RANKED BEFORE it — any base member, or a lower-id
    delta member — has rounded cosine >= tau. Base members are never
    re-judged (they survived their own ingest cycle), so the work is a
    (D x B) matmul per affected cluster, O(delta) per cycle, not the
    batch pass's (B x B). When every delta id exceeds every base id
    (the normal append), the grown keep set is bit-identical to
    re-running batch ``semdedup_prune`` over the union."""

    def verdicts(pdf):
        dmask = pdf["is_delta"].to_numpy() == 1
        if not dmask.any():
            return pd.DataFrame(
                {"block": [], "vec_id": [], "pruned": []}
            ).astype(
                {"block": "int64", "vec_id": "int64", "pruned": "int64"}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(
            np.float64, copy=False
        )
        norms = row_norms(mat)
        dids = ids[dmask]
        sims = rounded_cosine(mat[dmask], mat, norms[dmask], norms, decimals)
        # ranked-before: base rows always precede; delta rows precede
        # only when lower-id; never self
        before = (~dmask[None, :]) | (ids[None, :] < dids[:, None])
        before &= ids[None, :] != dids[:, None]
        pruned = ((sims >= tau) & before).any(axis=1).astype("int64")
        return pd.DataFrame(
            {
                "block": pdf["block"].to_numpy()[dmask],
                "vec_id": dids,
                "pruned": pruned,
            }
        )

    return verdicts


def make_lang_udf(markers):
    """Language-ID argmax in one Arrow pass: tokenize once, intersect all
    marker sets in Python (the expression form re-tokenizes per language —
    Catalyst collapses the shared projection back into each branch).
    Tie-break: highest count, then alphabetically-first language."""
    import re

    ws = re.compile(r"\s+")
    items = sorted((lang, frozenset(ms)) for lang, ms in markers.items())

    @pandas_udf("string")
    def _pred(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = set(ws.sub(" ", (t or "").strip().lower()).split(" "))
            best, best_count = None, -1
            for lang, ms in items:
                c = len(toks & ms)
                if c > best_count:
                    best, best_count = lang, c
            out.append(best)
        return pd.Series(out)

    return _pred


def make_batch_topk_mapper(qids, qvecs, k, rank_mode=False, payload_cols=()):
    """mapInPandas mapper: per Arrow batch, score ALL queries against the
    batch with ONE (N x d) @ (d x Q) matmul and emit each query's local
    top-k rows, selected by the exact global ordering (rounded score desc,
    vec_id asc) so the downstream merge never misses a global winner.

    Output per batch: <= k * Q rows — the distributed partial top-k that
    makes batch similarity search shuffle only k*P*Q rows instead of N*Q.

    ``rank_mode``: for a SINGLE-partition input (the cached working-set
    serving regime) the partition-local top-k IS the global top-k, so the
    mapper buffers the partition's Arrow batches, computes the final
    ranking itself, and emits an ``rn`` column — letting the caller skip
    the merge shuffle entirely. Only correct when the whole table is one
    partition (the caller checks); memory is bounded by that partition,
    which the caller already chose to be a single task's worth.

    ``payload_cols``: extra input columns (e.g. text, metadata) sliced
    onto each query's top-k rows and emitted AFTER the fixed columns —
    result attributes ride WITH the candidates, so serving needs no
    post-hoc join (a per-cycle broadcast-join job measured ~9x slower
    end-to-end than this passthrough). Only <= k*P*Q winner rows ever
    carry the payload bytes.
    """
    qarr = np.asarray(qvecs, dtype=np.float64)  # Q x d
    qn = row_norms(qarr)  # Q
    qid_arr = np.asarray(qids, dtype=np.int64)
    pcols = list(payload_cols)

    def score_block(pdf):
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        ids = pdf["vec_id"].to_numpy()
        payload = {c: pdf[c].to_numpy() for c in pcols}
        return ids, rounded_cosine(mat, qarr, b_norms=qn), payload  # N x Q

    def topk_frame(ids, scores, payload, with_rank):
        out = {"query_id": [], "vec_id": [], "score": []}
        if with_rank:
            out["rn"] = []
        for c in pcols:
            out[c] = []
        for j in range(len(qid_arr)):
            col = scores[:, j]
            order = top_positions(col, ids, k)
            out["query_id"].append(np.full(len(order), qid_arr[j], dtype=np.int64))
            out["vec_id"].append(ids[order])
            out["score"].append(col[order])
            if with_rank:
                out["rn"].append(np.arange(1, len(order) + 1, dtype=np.int64))
            for c in pcols:
                out[c].append(payload[c][order])
        return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield topk_frame(*score_block(pdf), with_rank=False)

    def rank_mapper(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        whole = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        yield topk_frame(*score_block(whole), with_rank=True)

    return rank_mapper if rank_mode else mapper


def make_simhash_udf(bits=16):
    """SimHash signature in one Arrow pass: md5 each normalized token's
    leading hex nibbles -> int, then one vectorized +-1 vote per bit.

    The expression form chains ``bits`` interpreted aggregate() folds that
    each re-derive the token-hash array; worse, any projection that
    references the signature expression N times (e.g. the 17-element
    bit-flip probe array in simhash_near_pairs) re-evaluates the whole
    fold chain N times — 18 s at sf0.1 vs <1 s here. Semantics identical
    and oracle-verified."""
    import hashlib
    import re

    ws = re.compile(r"\s+")
    hexchars = bits // 4
    shifts = np.arange(bits, dtype=np.int64)

    def one(text):
        toks = ws.sub(" ", (text or "").strip().lower()).split(" ")
        hv = np.array(
            [int(hashlib.md5(t.encode()).hexdigest()[:hexchars], 16) for t in toks],
            dtype=np.int64,
        )
        votes = (2 * ((hv[:, None] >> shifts) & 1) - 1).sum(axis=0)
        return int(((votes > 0).astype(np.int64) << shifts).sum())

    @pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return _sim


def make_pair_cosine_udf():
    """Row-wise cosine of two array columns in one Arrow pass: stacked
    (N x d) elementwise products, no interpreted per-row folds (the
    zip_with/aggregate expression costs ~ms/row — unusable on a candidate
    relation). Zero-norm on either side -> 0.0, reference semantics."""

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64, copy=False)
        B = np.stack(b.to_numpy()).astype(np.float64, copy=False)
        dots = (A * B).sum(axis=1)
        denom = row_norms(A) * row_norms(B)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom == 0.0, 0.0, dots / denom)
        return pd.Series(out)

    return _cos


def make_srp_bucket_mapper(n_tables, n_planes):
    """mapInPandas mapper: signed-random-projection LSH buckets for cosine,
    with DETERMINISTIC md5-derived Rademacher hyperplanes (``_srp_planes``)
    — portable, so the DuckDB oracle derives the IDENTICAL planes from the
    same md5 formula instead of embedding thousands of float literals.

    Emits one row per (vector, table): (vec_id, embedding, block) where
    block = 'table:code' formats the row's ``srp_bucket_codes``. Two
    vectors at angle theta collide in one table with prob
    (1 - theta/pi)^n_planes; n_tables unioned tables boost recall.
    Narrow (one matmul per Arrow batch); the groupBy on block downstream
    is the only shuffle.

    Sign boundary note: dot products are float64; numpy's summation order
    differs from DuckDB's left-to-right list_dot_product, so a sign could
    in principle flip when |dot| ~ 1e-13 — the same measure-zero class as
    every rounded-score comparison in this repo (see registry docstring).
    """

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            codes = srp_bucket_codes(mat, n_tables, n_planes)  # N x T
            frames = []
            for t in range(n_tables):
                f = pdf[["vec_id", "embedding"]].copy()
                f["block"] = [f"{t}:{c}" for c in codes[:, t]]
                frames.append(f)
            yield pd.concat(frames, ignore_index=True)

    return mapper


_SRP_PLANES_MEMO: dict = {}


def _srp_planes(n_tables, n_planes, d):
    """Deterministic md5-Rademacher hyperplanes, memoized per
    (n_tables, n_planes, d): component (g, j) is +1 iff the first hex
    nibble of md5('g:j') >= 8. The only plane generator, so every
    consumer (index build, index probe, serving, k-means seeds) derives
    identical planes from pure arithmetic."""
    import hashlib

    key = (int(n_tables), int(n_planes), int(d))
    P = _SRP_PLANES_MEMO.get(key)
    if P is None:
        total = n_tables * n_planes
        P = np.empty((total, d), dtype=np.float64)
        for g in range(total):
            for j in range(d):
                nib = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[0], 16)
                P[g, j] = 1.0 if nib >= 8 else -1.0
        _SRP_PLANES_MEMO[key] = P
    return P


def srp_bucket_codes(mat, n_tables, n_planes):
    """The ``n_tables`` SRP bucket codes of each row of the float64
    matrix ``mat`` (N x T int64): table ``t``'s code packs the signs of
    the row's dot products with planes ``t*n_planes .. (t+1)*n_planes-1``
    of ``_srp_planes``, bit ``j`` for plane ``j``. The one body behind
    every SRP block key (``make_srp_bucket_mapper``,
    ``ann.srp_query_blocks``), ``make_srp_bucket_codes_udf``, the probe's
    query bucketing, the store's resident working set and the k-means
    seeds, so all of them agree bit for bit."""
    if len(mat) == 0:
        return np.zeros((0, n_tables), dtype=np.int64)
    P = _srp_planes(n_tables, n_planes, mat.shape[1])
    bits = (mat @ P.T >= 0).astype(np.int64)  # N x (T*b)
    shifts = np.arange(n_planes, dtype=np.int64)
    return np.stack(
        [
            (bits[:, t * n_planes : (t + 1) * n_planes] << shifts).sum(axis=1)
            for t in range(n_tables)
        ],
        axis=1,
    )


def srp_seed_cells(mat, n_cells):
    """The k-means seed cell of each row: its one-table SRP code under
    ceil(log2(n_cells)) planes, mod ``n_cells``."""
    b = max(1, math.ceil(math.log2(max(2, n_cells))))
    return srp_bucket_codes(mat, 1, b)[:, 0] % n_cells


def make_srp_bucket_codes_udf(n_tables=16, n_planes=6):
    """pandas UDF: embedding -> the row's ``n_tables`` SRP bucket codes
    (``array<long>``, one per table), from the SAME memoized
    md5-Rademacher planes as every other SRP consumer. The store's ANN
    serving facade precomputes this ONCE onto its cached working set
    (ADVICE r9): dispatch cycles then skip the per-cycle N x (T*b)
    matmul and touch full embeddings only for candidate rows."""

    @pandas_udf("array<long>")
    def _codes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(emb.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(list(srp_bucket_codes(mat, n_tables, n_planes)))

    return _codes


def srp_probe(codes, ids, gather, qvecs, k, n_tables, n_planes):
    """The SRP probe of each query in ``qvecs`` over rows whose bucket
    codes are ``codes`` (N x T, ``srp_bucket_codes``) and ids ``ids``:
    a row is a candidate of a query when it shares the query's code in
    at least one table; candidates are scored by ``rounded_cosine`` and
    the best ``k`` chosen by ``top_positions``. ``gather(pos)`` returns
    the float64 vectors and ``row_norms`` of the rows at the ascending
    positions ``pos``; it is called once, with the union of every
    query's candidates, so only candidate vectors are touched.

    Returns one ``(positions, scores)`` pair per query, in rank order.
    The planes are a pure function of (n_tables, n_planes, d), so this
    is row for row the persisted index's ``ann.srp_index_topk`` answer.
    The one probe body behind the resident set and
    ``make_srp_serving_mapper``."""
    qarr = np.asarray(qvecs, dtype=np.float64)  # Q x d
    qn = row_norms(qarr)
    cands = [
        np.flatnonzero((codes == qc).any(axis=1))
        for qc in srp_bucket_codes(qarr, n_tables, n_planes)
    ]
    union = np.unique(np.concatenate(cands))
    if len(union) == 0:
        return [(c, np.zeros(0)) for c in cands]
    U, un = gather(union)
    out = []
    for qi, cand in enumerate(cands):
        at = np.searchsorted(union, cand)
        sc = rounded_cosine(U[at], qarr[qi : qi + 1], un[at], qn[qi : qi + 1])[:, 0]
        top = top_positions(sc, ids[cand], k)
        out.append((cand[top], sc[top]))
    return out


def make_srp_serving_mapper(qids, qvecs, k, n_tables=16, n_planes=6):
    """mapInPandas mapper for the store's micro-batched ANN facade: the
    whole SRP probe (``srp_probe``) for a micro-batch of queries in ONE
    task over the cached single-partition working set — no index scan,
    no join, no shuffle. Only correct on a single-partition input (the
    caller coalesces); the serving regime already bounds that partition
    to one task's worth.

    The input carries (vec_id, embedding, text, metadata, srp_buckets),
    the codes precomputed by ``make_srp_bucket_codes_udf``: a cycle
    stacks the code column once and the embeddings of the candidate
    union only, so its cost is O(candidates), not O(corpus). Emits
    (query_id, vec_id, score, rn, text, metadata), rn 1-based."""
    qid_arr = np.asarray(qids, dtype=np.int64)

    def mapper(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        out = {c: [] for c in ("query_id", "vec_id", "score", "rn", "text", "metadata")}
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            emb = pdf["embedding"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            texts, metas = pdf["text"].to_numpy(), pdf["metadata"].to_numpy()

            def gather(pos):
                m = np.stack(emb[pos]).astype(np.float64, copy=False)
                return m, row_norms(m)

            codes = np.stack(pdf["srp_buckets"].to_numpy()).astype(np.int64, copy=False)
            hits = srp_probe(codes, ids, gather, qvecs, k, n_tables, n_planes)
            for qid, (pos, sc) in zip(qid_arr, hits):
                out["query_id"].extend([int(qid)] * len(pos))
                out["vec_id"].extend(ids[pos].tolist())
                out["score"].extend(sc.tolist())
                out["rn"].extend(range(1, len(pos) + 1))
                out["text"].extend(texts[pos])
                out["metadata"].extend(metas[pos])
        yield pd.DataFrame(out)

    return mapper


def make_fingerprint_udf(gram=8):
    """Winnowing fingerprint (min md5 over character n-gram shingles) in one
    Arrow pass.  The pure-expression form builds one interpreted md5 call
    per character offset via transform(sequence(...)) — a 10 KB doc is
    10 000 interpreted calls; here it's a tight hashlib loop (~1 µs/gram),
    the same treatment lang_id got.  Semantics are identical and
    oracle-verified: grams are CHARACTER slices hashed as UTF-8 (matching
    Spark substr + md5 and DuckDB substring + md5), min over the digest
    bytes == min over the hex string."""
    import hashlib

    def one(t):
        md5 = hashlib.md5
        t = t or ""
        if len(t) < gram:
            return md5(t.encode("utf-8")).hexdigest()
        if t.isascii():
            b = memoryview(t.encode("utf-8"))
            return min(
                md5(b[i : i + gram]).digest() for i in range(len(b) - gram + 1)
            ).hex()
        return min(
            md5(t[i : i + gram].encode("utf-8")).digest()
            for i in range(len(t) - gram + 1)
        ).hex()

    @pandas_udf("string")
    def _fp(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return _fp


def _assign_cells(mat, cmat, cn, cids):
    """Nearest-centroid assignment for one Arrow batch of embeddings:
    for each row of ``mat`` (N x d), the id of the centroid with the
    highest HALF_UP-6dp-rounded cosine, lowest-cluster-id ties,
    zero-norm rows -> lowest id. ``cmat``/``cn``/``cids`` must already
    be sorted by cluster id ascending (first-wins == lowest id).

    Output-identical to ``cids[argmax(round_half_up(cos_matrix, 6))]``
    but does NOT round the full N x C score matrix: ``round_half_up``
    is monotone, so any column whose ROUNDED score ties the rounded row
    max has a RAW score within one rounding bucket (1e-6) of the raw
    row max — only that candidate set (~1 column/row off tie
    boundaries) needs rounding. At the 10M x 8192-cell build shape the
    full-matrix round + argmax + where() postprocess was ~10 elementwise
    N*C passes and cost ~10x the assignment gemm itself (round-12
    profile: 70 s/10K-row batch -> the gemm's ~1 s); the division stays
    the single ``scores / outer(dn, cn)`` op so surviving scores are
    bit-identical to the old kernel."""
    dn = row_norms(mat)
    scores = mat @ cmat.T  # N x C — the irreducible gemm
    denom = np.outer(dn, cn)
    if (dn == 0.0).any() or (cn == 0.0).any():
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = np.where(denom == 0.0, 0.0, scores / denom)
    else:
        np.divide(scores, denom, out=scores)  # same bits, no 2nd temp
    row_max = scores.max(axis=1)
    # one rounding bucket is 1e-6 wide; 2e-6 over-covers boundary cases
    # (a superset of candidates is harmless — non-ties lose the argmax)
    rows, cols = np.nonzero(scores >= (row_max - 2e-6)[:, None])
    rs = round_half_up(scores[rows, cols], 6)
    order = np.lexsort((cols, -rs, rows))  # row asc, rounded desc, col asc
    first = np.unique(rows[order], return_index=True)[1]
    return cids[cols[order[first]]]


def _sorted_centroids(cluster_ids, centroid_vecs):
    """``_assign_cells``' (cmat, cn, cids): the centroids, their norms
    and ids, ordered by cluster id ascending so argmax's first-wins
    tie-break IS the lowest-cluster-id tie-break."""
    cids = np.asarray(cluster_ids, dtype=np.int64)
    order = np.argsort(cids, kind="stable")
    cmat = np.asarray(centroid_vecs, dtype=np.float64)[order]  # C x d
    return cmat, row_norms(cmat), cids[order]


def make_cell_assign_mapper(cluster_ids, centroid_vecs):
    """mapInPandas mapper assigning each vector to its nearest centroid by
    cosine — one (N x d) @ (d x C) matmul per Arrow batch against the
    closure-shipped centroid matrix (C is tiny; no shuffle, no join).

    Tie-break matches ``ann.greedy_probes`` exactly, so a query probes
    the cell its equal vector was assigned to: highest rounded (6 dp,
    HALF_UP) score, then lowest cluster id — so a rebuild assigns
    identically regardless of partitioning.  Zero-norm vectors score 0.0
    against every centroid and land in the lowest cluster id.
    """
    cmat, cn, cids = _sorted_centroids(cluster_ids, centroid_vecs)

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            out = pdf[["vec_id", "embedding"]].copy()
            out["cell"] = _assign_cells(mat, cmat, cn, cids)
            yield out

    return mapper


def _decimal12_scaled(mat):
    """Spark's ``CAST(x AS DECIMAL(28,12))`` for every element of a
    float64 matrix, as exact scaled integers (value * 10^12).

    Spark casts through ``java.math.BigDecimal.valueOf(double)`` — it
    HALF_UP-rounds the double's SHORTEST decimal rendering
    (``Double.toString``) at scale 12, not its exact binary expansion.
    The vectorized fast path rounds the binary product ``|x| * 1e12``;
    the two readings of x differ by <= 0.5 ulp, i.e. <= ~1.2e-3 scaled
    units for |x| < 16, so only elements inside a +-1e-2 guard band of
    the .5 tie — plus anything outside the fast-path domain — take the
    exact ``Decimal(repr(x))`` path (repr is the same shortest decimal
    string). Returns ``(scaled matrix, valid mask)``: non-finite or
    decimal-overflow elements (NULL after Spark's cast) are invalid,
    contribute 0, and must be excluded from sums exactly like Spark's
    null-skipping SUM. The matrix is int64 only when no element or
    column sum can leave int64; otherwise it holds exact Python ints.
    """
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with np.errstate(invalid="ignore", over="ignore"):
        a = np.abs(mat) * 1e12
        fl = np.floor(a)
        fr = a - fl
        finite = np.isfinite(mat)
        fast = finite & (np.abs(mat) < 16.0) & (np.abs(fr - 0.5) >= 1e-2)
        out = np.where(
            finite & (np.abs(mat) < 16.0), fl + (fr >= 0.5), 0.0
        ).astype(np.int64)
    np.multiply(out, np.sign(mat).astype(np.int64), out=out)
    valid = finite & (np.abs(mat) < 1e16)
    slow = valid & ~fast
    # outside the fast domain one scaled element reaches 1e28, and a
    # tall enough batch of fast-domain elements (< 1.6e13 each) could
    # wrap an int64 column sum: such batches accumulate as Python ints
    if (valid & (np.abs(mat) >= 16.0)).any() or mat.shape[0] * 16e12 >= 2**63:
        out = out.astype(object)
    if slow.any():
        with localcontext() as ctx:
            ctx.prec = 60
            idx = np.nonzero(slow)
            for i, j in zip(*idx):
                out[i, j] = int(
                    Decimal(repr(float(mat[i, j])))
                    .scaleb(12)
                    .to_integral_value(rounding=ROUND_HALF_UP)
                )
    out[~valid] = 0
    return out, valid


def _partial_sum_frame(cells, mat):
    """One batch's (cell, pos, psum, cnt) partial-sum rows: per assigned
    cell, the exact decimal(28,12)-quantized column sums as integer
    strings (exact at any depth once Spark re-sums them as
    decimal(38,0)) plus the batch's cell row count. Column sums are
    exact either way: ``_decimal12_scaled`` hands back int64 only when
    no sum can wrap, and Python ints otherwise."""
    scaled, valid = _decimal12_scaled(mat)
    if not valid.all():
        scaled = np.where(valid, scaled, 0)
    recs_cell, recs_pos, recs_sum, recs_cnt = [], [], [], []
    for cell in np.unique(cells):
        sel = cells == cell
        cnt = int(sel.sum())
        sums = scaled[sel].sum(axis=0)
        for pos in range(mat.shape[1]):
            recs_cell.append(int(cell))
            recs_pos.append(pos)
            recs_sum.append(str(int(sums[pos])))
            recs_cnt.append(cnt)
    return pd.DataFrame(
        {
            "cell": pd.Series(recs_cell, dtype="int64"),
            "pos": pd.Series(recs_pos, dtype="int32"),
            "psum": pd.Series(recs_sum, dtype="object"),
            "cnt": pd.Series(recs_cnt, dtype="int64"),
        }
    )


def make_assign_sum_mapper(cluster_ids, centroid_vecs):
    """Fused Lloyd-round mapper (guide §2.3 map-side aggregation, §2.4
    one pass instead of two): nearest-centroid assignment — IDENTICAL
    code path to ``make_cell_assign_mapper`` — plus exact-decimal
    per-cell partial sums, so a single corpus pass replaces the old
    assign-mapper + N*d posexplode + wide pre-aggregation. Only
    C*d skinny (cell, pos, psum, cnt) rows leave the stage; the means
    assembled from these partials are bit-for-bit ``build_centroids``'s
    (parity-pinned by test_ann_index)."""
    cmat, cn, cids = _sorted_centroids(cluster_ids, centroid_vecs)

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            yield _partial_sum_frame(_assign_cells(mat, cmat, cn, cids), mat)

    return mapper


def make_seed_sum_mapper(n_cells):
    """Fused seed-round mapper: the SRP sign-pattern seed cell
    (``srp_seed_cells``, as ``ann._srp_seed_col``) plus the same
    exact-decimal partial sums as ``make_assign_sum_mapper``, replacing
    the seed-column pandas UDF + posexplode aggregation with one fused
    pass."""

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            yield _partial_sum_frame(srp_seed_cells(mat, n_cells), mat)

    return mapper


def make_embed_udf(provider="stub", dim=64, model=None):
    def _resolve():
        # resolved inside the executor python worker, once per process
        from vectolite_spark import embed as E

        if provider == "stub":
            return E.stub_embedder(dim=dim)
        if provider == "local":
            return E.local_embedder(model or E.DEFAULT_LOCAL_MODEL)
        if provider == "openai":
            return E.openai_embedder(model or E.DEFAULT_OPENAI_MODEL)
        raise ValueError(f"unknown provider {provider!r}")

    state = {}

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        fn = state.get("fn")
        if fn is None:
            fn = state.setdefault("fn", _resolve())
        return pd.Series(fn(texts.tolist()))

    return _embed


def make_rerank_udf(query, provider="stub", model=None):
    """Cross-encoder reranking scores for (query, doc) pairs, Arrow-batched
    (one model forward per batch — the shape a real cross-encoder needs;
    row-at-a-time would re-enter the model per doc).

    provider="stub": a DETERMINISTIC stand-in — md5(query|text) mapped to
    [0, 1) at 6dp — so the full rerank pipeline is oracle-checkable in CI
    (no model weights in this container). provider="local" loads a
    sentence-transformers CrossEncoder per executor process, import-gated
    exactly like the embedders.
    """

    def _stub_scores(texts):
        import hashlib

        out = []
        for t in texts:
            h = hashlib.md5(f"{query}|{t or ''}".encode()).hexdigest()[:8]
            out.append(int(h, 16) % 1000000 / 1e6)
        return out

    def _resolve():
        if provider == "stub":
            return _stub_scores
        if provider == "local":
            try:
                from sentence_transformers import CrossEncoder
            except ImportError as e:  # pragma: no cover - no model libs here
                raise ImportError(
                    "provider='local' needs sentence-transformers; "
                    "use provider='stub' in this environment"
                ) from e
            enc = CrossEncoder(model or "cross-encoder/ms-marco-MiniLM-L-6-v2")
            return lambda texts: [
                float(s) for s in enc.predict([(query, t or "") for t in texts])
            ]
        raise ValueError(f"unknown provider {provider!r}")

    state = {}

    @pandas_udf("double")
    def _score(texts: pd.Series) -> pd.Series:
        fn = state.get("fn")
        if fn is None:
            fn = state.setdefault("fn", _resolve())
        return pd.Series(fn(texts.tolist()))

    return _score


def make_pq_adist_udf(table):
    """Asymmetric-distance PQ lookup in one Arrow pass: ``table`` is the
    per-query (m x k) query-to-centroid subspace distance table; each
    row's distance = m table lookups summed in FIXED j order (left-
    associative float64 adds — bit-identical to the old literal-array
    expression chain AND to the oracle SQL's parenthesized fold, so
    oracled results don't move). Replaces the m*k-literal expression
    form, whose Catalyst analysis cost is linear in the table size —
    ~1.8 s of driver time PER QUERY at k=256 (the 1M SCALING run);
    a closure-shipped numpy table is O(1) plan size."""
    T = [np.asarray(t, dtype=np.float64) for t in table]

    @pandas_udf("double")
    def _adist(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        C = np.stack(codes.to_numpy()).astype(np.int64, copy=False)
        out = T[0][C[:, 0]]
        for j in range(1, len(T)):
            out = out + T[j][C[:, j]]
        return pd.Series(out)

    return _adist


def make_pq_adist_multi_udf(tables):
    """Batch-probe variant of ``make_pq_adist_udf``: ``tables`` maps
    query_id -> (m x k) distance table, and the UDF scores
    (codes, query_id) PAIR rows — the shape ``IVFPQIndex.batch_topk``
    produces by broadcast-joining the (query_id, cell) routing relation
    onto the probed-cell union. Per-row math is the SAME fixed-j-order
    left-assoc float64 sum as the single-query UDF (grouping rows by
    query and reusing its m-lookup adds), so a batch probe's distances
    are bit-identical to Q single probes."""

    T = {
        int(qid): [np.asarray(t, dtype=np.float64) for t in tab]
        for qid, tab in tables.items()
    }

    @pandas_udf("double")
    def _adist(codes: pd.Series, qids: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        C = np.stack(codes.to_numpy()).astype(np.int64, copy=False)
        q = qids.to_numpy()
        out = np.empty(len(C), dtype=np.float64)
        for qid in np.unique(q):
            sel = q == qid
            Tq = T[int(qid)]
            acc = Tq[0][C[sel, 0]]
            for j in range(1, len(Tq)):
                acc = acc + Tq[j][C[sel, j]]
            out[sel] = acc
        return pd.Series(out)

    return _adist


def _pq_encode_batch(vecs, cb, m):
    """(N, d) float64 -> (N, m) int32 PQ codes: one (N, k) distance
    matrix per subspace built dim-at-a-time (explicit left-assoc
    float64 accumulation — see ann.build_pq's determinism contract),
    then argmin (first-min = lowest centroid id on ties, matching the
    oracle's ROW_NUMBER tie-break)."""
    import numpy as np

    k, d = cb.shape
    sub = d // m
    codes = np.empty((len(vecs), m), dtype=np.int32)
    for j in range(m):
        acc = np.zeros((len(vecs), k), dtype=np.float64)
        for dim in range(sub):
            diff = vecs[:, j * sub + dim, None] - cb[None, :, j * sub + dim]
            acc = acc + diff * diff
        codes[:, j] = np.argmin(acc, axis=1)
    return codes


def make_pq_encode_mapper(codebook, m, with_embedding=False):
    """mapInPandas encoder for product quantization (``_pq_encode_batch``
    per Arrow batch). ``with_embedding=True`` carries the input
    embedding column through — ``build_pq``'s Lloyd rounds need
    (embedding, codes) pairs, and carrying the column through the SAME
    narrow pass replaces the old base-join-encode shuffle join (a full
    corpus-wide exchange per round) with zero exchanges."""
    import numpy as np

    cb = np.asarray(codebook, dtype=np.float64)

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
            codes = _pq_encode_batch(vecs, cb, m)
            out = {"vec_id": pdf["vec_id"].values, "codes": list(codes.tolist())}
            if with_embedding:
                out["embedding"] = pdf["embedding"].values
            yield pd.DataFrame(out)

    return mapper


def make_assign_encode_mapper(cluster_ids, centroid_vecs, codebook, m):
    """Fused IVF-assign + PQ-encode pass for index builds: both outputs
    are pure per-row functions of the embedding, so computing them in
    ONE mapInPandas pass replaces the old assign-pass + encode-pass +
    ``join("vec_id")`` shape — at corpus scale that join was a full
    shuffle of the d-wide embedding bytes on BOTH sides before the
    ``repartition(cell)`` exchange even started. Yields
    (vec_id, codes, embedding, cell).

    Math is byte-identical to ``make_cell_assign_mapper`` +
    ``make_pq_encode_mapper`` (pinned by
    tests/test_ann_index.py::test_fused_assign_encode_matches_composition):
    cell = argmax of HALF_UP-6dp cosine with lowest-cluster-id ties,
    zero-norm -> lowest cluster id; codes = dim-at-a-time left-assoc
    argmin. ``cluster_ids=None`` passes an existing input ``cell``
    column through instead (the precomputed-cluster routing branch)."""
    import numpy as np

    cb = np.asarray(codebook, dtype=np.float64)
    if cluster_ids is not None:
        cmat, cn, cids = _sorted_centroids(cluster_ids, centroid_vecs)

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            if cluster_ids is not None:
                cell = _assign_cells(mat, cmat, cn, cids)
            else:
                cell = pdf["cell"].values
            codes = _pq_encode_batch(mat, cb, m)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "codes": list(codes.tolist()),
                    "embedding": pdf["embedding"].values,
                    "cell": cell,
                }
            )

    return mapper


def make_mmr_selector(lam: float, k: int):
    """Greedy Maximal-Marginal-Relevance selector for ONE query's candidate
    group (Carbonell & Goldstein 1998): repeatedly pick
    argmax lam*rel - (1-lam)*max_sim_to_selected, ties -> vec_id asc.

    Cross-engine determinism: rel arrives already 6dp-rounded from the
    candidate stage; pairwise cosines are ``rounded_cosine`` (the
    _SQL_COS shape: dot / (sqrt(aa)*sqrt(bb)), zero-norm -> 0, HALF_UP);
    the penalty weight is computed as ``1.0 - lam`` HERE and written as
    ``(1.0 - lam)`` in the oracle SQL (never the decimal literal — IEEE
    1-0.7 != 0.3), so both engines subtract the identical double.
    Expects columns (query_id, vec_id, score, v); emits
    (query_id, vec_id, rel, rn).
    """
    mu = 1.0 - lam

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["score"].to_numpy(dtype=np.float64)
        sims = rounded_cosine(V, V)
        n = len(ids)
        k_ = min(k, n)

        def argbest(scores, mask):
            return top_positions(np.where(mask, scores, -np.inf), ids, 1)[0]

        mask = np.ones(n, dtype=bool)
        first = argbest(rel, mask)
        chosen = [first]
        mask[first] = False
        while len(chosen) < k_:
            maxsim = sims[:, chosen].max(axis=1)
            mmr = round_half_up(lam * rel - mu * maxsim)
            nxt = argbest(mmr, mask)
            chosen.append(nxt)
            mask[nxt] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "vec_id": ids[chosen],
                "rel": rel[chosen],
                "rn": np.arange(1, k_ + 1, dtype=np.int64),
            }
        )

    return fn


def make_trigram_udf():
    """Distinct character trigrams of ``lower(text)``, first-occurrence
    order — delegates to ``operators.retrieval.extract_trigrams`` so the
    build path and the probe's driver-side twin share one definition
    (the tests pin it against a JVM column-expression twin).
    Arrow-batched because the Catalyst form (per-char ``substr`` inside
    ``transform`` + ``array_distinct``) measured ~10x slower on the
    sf0.1 build: ~15M substring expressions per corpus pass vs a tight
    per-doc Python loop at ~us/doc.

    Marked non-deterministic (guide §4.4) although the function is pure:
    the explode()-inferred ``size(t) > 0`` filter otherwise gets pushed
    below the projection WITH ITS OWN COPY of the UDF — two
    ArrowEvalPython nodes, every document tokenized twice per build (and
    the duplicate lands below the small-corpus fan-out exchange, i.e. on
    one task). The flag forbids the optimizer from duplicating or
    reordering the call; output is unchanged."""
    from vectolite_spark.operators.retrieval import extract_trigrams

    @pandas_udf("array<string>")
    def _trigrams(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: extract_trigrams(t or ""))

    return _trigrams.asNondeterministic()


def make_cdc_chunk_udf(window=8):
    """Content-defined chunks of one document as
    ``array<struct<h, l>>`` (md5 hex of each chunk, char length) —
    the Arrow-batched form of the Catalyst array-expression chunker
    the tests keep as its parity reference.

    Boundary rule unchanged (oracle parity): cut where the
    ``window``-char context's md5 hex starts '00' — tested as
    ``digest()[0] == 0``, the same predicate without hexifying. The
    Catalyst original evaluated one md5 + substr PER CHARACTER through
    interpreted higher-order functions (~11.6 us/position measured at
    sf0.1, 17.5 s CPU per warm corpus pass); hashlib in a tight loop
    over a memoryview is ~0.7 us/position (ASCII fast path slices
    bytes; non-ASCII docs fall back to per-position char slicing, which
    is what character-based substr semantics require). Marked
    non-deterministic (guide 4.4) so the optimizer cannot duplicate
    the call below a pushed filter."""
    import hashlib

    md5 = hashlib.md5
    w = int(window)

    def chunks(t):
        t = t or ""
        n = len(t)
        if n >= w:
            if t.isascii():
                mv = memoryview(t.encode())
                bs = [
                    i + 1
                    for i in range(n - w + 1)
                    if md5(mv[i : i + w]).digest()[0] == 0
                ]
            else:
                bs = [
                    i + 1
                    for i in range(n - w + 1)
                    if md5(t[i : i + w].encode()).digest()[0] == 0
                ]
        else:
            bs = []
        cuts = [1] + bs + [n + 1]
        out = []
        for j in range(len(cuts) - 1):
            c = t[cuts[j] - 1 : cuts[j + 1] - 1]
            if c:
                out.append((md5(c.encode()).hexdigest(), len(c)))
        return out

    @pandas_udf("array<struct<h: string, l: int>>")
    def _cdc(texts: pd.Series) -> pd.Series:
        return texts.map(chunks)

    return _cdc.asNondeterministic()
