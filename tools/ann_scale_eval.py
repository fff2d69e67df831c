"""Scale-credible ANN validation (VERDICT r8 item 2).

Generates a deterministic 1M x 64 clustered corpus (synthdata), builds
IVF-PQ and SRP indexes ONCE, and measures recall@10 vs exact brute
force over >= 100 held-out queries plus build/probe wall-times. Results
go into SCALING.md section 9; the seeded pytest floor lives in
tests/test_ann_scale.py (smaller N, same recipe).

Reference baseline for context: an O(N*d) scan at 1M x 64 is ~10 s per
query single-core (BASELINE.md regime); Spark brute force at local[32]
is measured below by the exact-truth pass itself.

Usage: python tools/ann_scale_eval.py [N] [workdir] [geometry] [profile]
       (defaults: 1_000_000, /root/repo/.cache/ann_scale, clustered, full)
       geometry: clustered | aniso (synthdata.GEOMETRIES — aniso is the
       realistic-geometry stressor VERDICT r9 item 3 asked for: rotated
       per-cluster anisotropy, heteroscedastic radii, Zipf-skewed cells)
       profile:  full  — the section-9/9b harness (both index families,
                 per-query probe jobs; the historical numbers in
                 SCALING 9/9b were measured this way);
                 point — the section-9c decade-extension harness
                 (VERDICT r11 item 4): ONE IVF-PQ build at the 9b
                 steady-state operating point (m=32, n_probe=8,
                 refine=1000) probed with IVFPQIndex.batch_topk — one
                 Spark job per sweep point instead of Q sequential
                 probe jobs, the r11 batch shape that makes a 10M x 64
                 point affordable — plus an executable recall floor
                 (exit 1 below 0.95) so the recorded decade can't
                 silently regress.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import time

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from vectolite_spark.operators.index_sync import index_ready  # noqa: E402


print = functools.partial(print, flush=True)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    work = sys.argv[2] if len(sys.argv) > 2 else f"{REPO}/.cache/ann_scale"
    geometry = sys.argv[3] if len(sys.argv) > 3 else "clustered"
    profile = sys.argv[4] if len(sys.argv) > 4 else "full"
    gtag = "" if geometry == "clustered" else f"_{geometry}"
    n_queries, k = 128, 10

    from vectolite_spark.operators.ann import (
        IVFPQIndex,
        build_ivfpq_index,
        build_srp_index,
        srp_index_topk_batch,
    )
    from vectolite_spark.operators.topk import topk_batch
    from vectolite_spark.session import get_spark
    from vectolite_spark.synthdata import (
        planted_neighbor_corpus,
        synthetic_clustered_vectors,
    )

    spark = get_spark()
    corpus_path = f"{work}/corpus_planted{gtag}_n{n}"
    if not os.path.exists(f"{corpus_path}/_SUCCESS"):
        t0 = time.time()
        planted_neighbor_corpus(
            spark, n, n_queries, per_query=10, geometry=geometry
        ).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        print(f"corpus gen: {time.time() - t0:.1f}s -> {corpus_path}")
    embs = spark.read.parquet(corpus_path)

    queries = (
        synthetic_clustered_vectors(
            spark, n_queries, start_id=n, partitions=1, geometry=geometry
        )
        .select(
            (F.col("vec_id") - n).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .cache()
    )
    queries.count()

    # exact truth: one batch brute-force job (also the honest "what does
    # a full scan cost on this box" number)
    t0 = time.time()
    truth_rows = topk_batch(queries, embs, k=k).collect()
    t_exact = time.time() - t0
    truth: dict[int, set] = {}
    for r in truth_rows:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    print(f"exact batch truth: {t_exact:.1f}s total, "
          f"{t_exact / n_queries * 1000:.0f} ms/query amortized")

    results: dict[str, dict] = {
        "n": n, "dim": 64, "n_queries": n_queries, "k": k,
        "geometry": geometry, "profile": profile,
        "exact_batch_total_s": round(t_exact, 2),
        "exact_ms_per_query": round(t_exact / n_queries * 1000, 1),
    }

    if profile == "point":
        # section-9c decade extension: the 9b steady-state operating
        # point (m=32 — finer subspaces instead of refine-widening —
        # n_probe=8, refine=1000), cells scaled to hold ~1K-row
        # occupancy (the quantity refine is calibrated against; 9b
        # note 4: refine scales with tie width ~ occupancy, not N)
        n_cells = max(1024, 1 << (n // 1000).bit_length() - 1)
        m, pq_k, refine = 32, 256, 1000
        path = f"{work}/ivfpq_m32{gtag}_n{n}"
        if not index_ready(spark, path):
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.time()
            build_ivfpq_index(
                embs, path, n_cells=n_cells, m=m, pq_k=pq_k,
                pq_iters=2, ivf_iters=2,
            )
            results["ivfpq_build_s"] = round(time.time() - t0, 1)
            print(f"ivfpq build (cells={n_cells}, m={m}, pq_k={pq_k}): "
                  f"{results['ivfpq_build_s']}s")
        idx = IVFPQIndex(spark, path)
        qpairs = [
            (int(r["query_id"]), [float(v) for v in r["query_vec"]])
            for r in queries.collect()
        ]

        def batch_point(n_probe: int, ref: int) -> float:
            t0 = time.time()
            rows = idx.batch_topk(
                qpairs, k=k, n_probe=n_probe, refine=ref
            ).collect()
            dt = time.time() - t0
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
            tot = sum(len(v) for v in truth.values())
            key = f"ivfpq_m32_probe{n_probe}_refine{ref}"
            results[key] = {
                "recall@10": round(hits / tot, 4),
                "batch_total_s": round(dt, 1),
                "ms_per_query_amortized": round(dt / len(qpairs) * 1000, 1),
            }
            print(key, results[key])
            return hits / tot

        # the 9b diagnostic shape: n_probe sweep at the base refine
        # (flat => quantization-bound), then the measured query-time fix
        # (refine widened 5x/10x) — at 10M the aniso Zipf hot cells grow
        # with N, so PQ tie width grows past the 1M-calibrated refine
        # and the widened point is the honest decade operating point
        base = batch_point(8, refine)
        flat = abs(batch_point(32, refine) - base) < 0.05
        best = max(base, batch_point(8, 5 * refine), batch_point(8, 10 * refine))
        results["n_probe_flat_at_base_refine"] = bool(flat)
        # one single-query probe job for the legacy latency column
        qv = qpairs[0][1]
        idx.topk(qv, k=k, n_probe=8, refine=refine).collect()  # warm
        t0 = time.time()
        idx.topk(qv, k=k, n_probe=8, refine=refine).collect()
        results["ivfpq_m32_single_query_s"] = round(time.time() - t0, 2)
        print(json.dumps(results))
        if best < 0.95:
            print(f"FLOOR FAILED: best recall@10 {best:.4f} < 0.95 "
                  "across the 9b operating points (base + widened refine)")
            sys.exit(1)
        return

    # ---- IVF-PQ ----------------------------------------------------------
    # m=16 (4-dim subspaces), not m=8: with cluster-structured data and a
    # 256-entry codebook, 8-dim subspaces snap every cluster member to
    # the same code (98 distinct code-tuples per ~2000-member cluster,
    # measured) — PQ distances tie across the cluster and the id-asc
    # refine boundary deterministically drops true neighbors. 4-dim
    # subspaces cross code boundaries far more often (781 distinct
    # tuples), and refine=1000 covers the residual tie width. This is
    # the operating rule SCALING section 9 documents: exact-rescore
    # refine must exceed the PQ tie width at the chosen m.
    ivfpq_path = f"{work}/ivfpq_m16{gtag}_n{n}"
    n_cells, m, pq_k, refine = 1024, 16, 256, 1000
    if not index_ready(spark, ivfpq_path):
        shutil.rmtree(ivfpq_path, ignore_errors=True)
        t0 = time.time()
        build_ivfpq_index(
            embs, ivfpq_path, n_cells=n_cells, m=m, pq_k=pq_k,
            pq_iters=2, ivf_iters=2,
        )
        results["ivfpq_build_s"] = round(time.time() - t0, 1)
        print(f"ivfpq build (cells={n_cells}, m={m}, pq_k={pq_k}): "
              f"{results['ivfpq_build_s']}s")
    idx = IVFPQIndex(spark, ivfpq_path)
    qrows = queries.collect()
    for n_probe in (8, 32):
        hits = tot = 0
        t0 = time.time()
        for r in qrows:
            got = {
                x["vec_id"]
                for x in idx.topk(
                    [float(v) for v in r["query_vec"]],
                    k=k, n_probe=n_probe, refine=refine,
                ).collect()
            }
            want = truth[r["query_id"]]
            hits += len(got & want)
            tot += len(want)
        dt = time.time() - t0
        key = f"ivfpq_probe{n_probe}"
        results[key] = {
            "recall@10": round(hits / tot, 4),
            "ms_per_query": round(dt / len(qrows) * 1000, 1),
        }
        print(key, results[key])

    # ---- SRP-LSH ---------------------------------------------------------
    srp_path = f"{work}/srp{gtag}_n{n}"
    n_tables, n_planes = 8, 10
    if not index_ready(spark, srp_path):
        shutil.rmtree(srp_path, ignore_errors=True)
        t0 = time.time()
        build_srp_index(embs, srp_path, n_tables=n_tables, n_planes=n_planes)
        results["srp_build_s"] = round(time.time() - t0, 1)
        print(f"srp build (T={n_tables}, b={n_planes}): "
              f"{results['srp_build_s']}s")
    t0 = time.time()
    srp_rows = srp_index_topk_batch(
        spark, srp_path, queries, k=k, max_driver_rows=n_queries,
    ).collect()
    dt = time.time() - t0
    got_map: dict[int, set] = {}
    for r in srp_rows:
        got_map.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(got_map.get(q, set()) & truth[q]) for q in truth)
    tot = sum(len(v) for v in truth.values())
    results["srp_batch"] = {
        "recall@10": round(hits / tot, 4),
        "ms_per_query": round(dt / n_queries * 1000, 1),
        "batch_total_s": round(dt, 1),
    }
    print("srp_batch", results["srp_batch"])

    print(json.dumps(results))


if __name__ == "__main__":
    main()
