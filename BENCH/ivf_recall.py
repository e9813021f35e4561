#!/usr/bin/env python
"""IVF ANN quality ladder: measured recall@10 vs exact brute force.

Grid: corpus size {25k, 100k} x n_probe {1,2,4,8} x Lloyd refinement
steps {0,1,2} over deterministic clustered embeddings (32 planted
clusters, sigma 0.15 — uniform random vectors would make every list
equidistant and the curve meaningless).

Probe selection, list assignment and centroid builds run through the
REAL operators (similarity.ivf_centroids / ivf_refine / ivf_index on
Spark); per-query probe ranking and scoring call the operator's own
numpy kernels (similarity._isum distances, similarity._cosine; (-cos,
vec_id) order) so the 20-query x 24-config grid doesn't need 480 Spark
jobs — the ranking is bit-identical to the operator's by construction.

Appends a table to BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

N_LISTS = 16
K = 10
N_QUERIES = 20
SIZES = [int(x) for x in os.environ.get("IVF_SIZES", "25000,100000").split(",")]
PROBES = (1, 2, 4, 8)
LLOYD = (0, 1, 2)


def synth(n: int) -> np.ndarray:
    rng = np.random.RandomState(12345)
    centers = rng.randn(32, 64)
    x = centers[np.arange(n) % 32] + 0.15 * rng.randn(n, 64)
    return x.astype(np.float32)


def topk_ids(ids: np.ndarray, cos: np.ndarray, k: int) -> list[int]:
    """ivf_topk's order: cosine desc, vec_id asc."""
    order = np.lexsort((ids, -cos))
    return ids[order[:k]].tolist()


def main() -> None:
    from pyspark.sql import functions as F

    from gfs_to_prometheus_spark.operators import similarity
    from gfs_to_prometheus_spark.session import get_spark

    spark = get_spark(app="ivf_recall", cpus=8)
    results = []
    skew: list[dict] = []
    for n in SIZES:
        x = synth(n)
        x64 = x.astype(np.float64)
        ids = np.arange(n, dtype=np.int64)
        # pandas/Arrow carrier: the list-of-tuples form takes the pickled
        # python-RDD path (~5 s fixed + O(n) pickle wall — prohibitive at
        # the 1M-vector ladder level)
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
        df = spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>"
        ).cache()
        df.count()
        queries = [int(i * n // N_QUERIES) for i in range(N_QUERIES)]
        # exact ground truth per query (same scaled-int64 cosine)
        truth = {}
        for q in queries:
            cos = similarity._cosine(x64, x64[q])
            mask = ids != q
            truth[q] = set(topk_ids(ids[mask], cos[mask], K))
        for lloyd in LLOYD:
            cents = similarity.ivf_centroids(df, N_LISTS)
            for _ in range(lloyd):
                cents = similarity.ivf_refine(df, cents)
            assigned = (
                similarity.ivf_index(df, N_LISTS, cents=cents)
                .select("vec_id", "_list")
                .toPandas()
            )
            alist = np.zeros(n, dtype=np.int64)
            alist[assigned["vec_id"].to_numpy()] = assigned["_list"].to_numpy()
            # per-list size distribution: hash-sampled centroids give
            # uneven inverted lists; worst-case probe cost scales with the
            # LARGEST probed list, so imbalance = max/mean is the number
            # that matters at 100 TB (a 3x-imbalanced list triples the
            # tail-latency of every query that probes it)
            sizes = np.bincount(alist, minlength=N_LISTS)
            skew.append(
                {
                    "n": n,
                    "lloyd": lloyd,
                    "min": int(sizes.min()),
                    "p50": int(np.percentile(sizes, 50)),
                    "p90": int(np.percentile(sizes, 90)),
                    "max": int(sizes.max()),
                    "imbalance": round(float(sizes.max() / sizes.mean()), 2),
                }
            )
            print(json.dumps({"skew": skew[-1]}), flush=True)
            crows = sorted(
                (r["_cid"], np.array(r["_cvec"], dtype=np.float64))
                for r in cents.collect()
            )
            cids = np.array([c for c, _ in crows])
            cvecs = np.stack([v for _, v in crows])
            for n_probe in PROBES:
                hits = 0
                for q in queries:
                    d = cvecs - x64[q]
                    d2 = similarity._isum(d, d)
                    probe = cids[np.lexsort((cids, d2))[:n_probe]]
                    cand = ids[np.isin(alist, probe) & (ids != q)]
                    cos = similarity._cosine(x64[cand], x64[q])
                    got = set(topk_ids(cand, cos, K))
                    hits += len(got & truth[q])
                recall = hits / (K * len(queries))
                results.append(
                    {
                        "n": n,
                        "lloyd": lloyd,
                        "n_probe": n_probe,
                        "recall_at_10": round(recall, 4),
                    }
                )
                print(json.dumps(results[-1]), flush=True)
        df.unpersist()

    lines = [
        "",
        "### IVF ANN recall ladder (BENCH/ivf_recall.py)",
        "",
        f"recall@10 vs exact brute force, {N_QUERIES} queries, "
        f"n_lists={N_LISTS}, 32 planted clusters (sigma 0.15), dim 64:",
        "",
        "| corpus | lloyd steps | n_probe=1 | 2 | 4 | 8 |",
        "|---|---|---|---|---|---|",
    ]
    for n in SIZES:
        for lloyd in LLOYD:
            row = [
                r["recall_at_10"]
                for r in results
                if r["n"] == n and r["lloyd"] == lloyd
            ]
            lines.append(
                f"| {n} | {lloyd} | " + " | ".join(f"{v:.3f}" for v in row) + " |"
            )
    lines += [
        "",
        "Per-list size distribution (inverted-list skew; worst-case probe",
        "cost follows the LARGEST probed list, imbalance = max/mean):",
        "",
        "| corpus | lloyd steps | min | p50 | p90 | max | imbalance |",
        "|---|---|---|---|---|---|---|",
    ]
    for s in skew:
        lines.append(
            f"| {s['n']} | {s['lloyd']} | {s['min']} | {s['p50']} | "
            f"{s['p90']} | {s['max']} | {s['imbalance']} |"
        )
    with open(os.path.join(HERE, "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(
        json.dumps(
            {"metric": "ivf_recall_grid", "results": results, "skew": skew}
        )
    )


if __name__ == "__main__":
    main()
