#!/usr/bin/env python
"""IVF operating-point sweep (r9 verdict #2): find the
(n_lists, kmeans_iters, n_probe) point where recall@10 >= 0.9 while
still beating brute force at 64x data.

Method: replicate the sf0.1 embeddings factor-x via scale_probe's
sign-flip perturbation (copies are ~orthogonal — the corpus keeps the
base table's 10-label cluster structure per copy), build the stored
IVF index per (n_lists, iters) combo, then sweep n_probe on the SAME
index. recall@10 against brute-force truth over 32 spread queries;
walls are best-of-2 fresh-plan runs, solo (CLAUDE.md timing rules).

Usage: python tools/ivf_sweep.py [factor] [combos...]
  combos as n_lists:iters, default "64:10 128:10"
Writes JSON to stdout (redirect into evidence/).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from fegis_spark.catalog import run_query  # noqa: E402
from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402
from scale_probe import (  # noqa: E402
    noop_write_s,
    replicate,
    result_pairs,
    timed_best2,
)

K = 10
N_QUERIES = 32


def make_clustered(spark, out_dir: str, n: int, n_clusters: int, dim: int = 64,
                   sigma: float = 0.06, seed: int = 7) -> None:
    """Deterministic CLUSTERED embedding corpus (r10 verdict #5): the
    sf0.1 embeddings are adversarially weakly clustered (near-random),
    so the measured IVF operating point there over-states the scan
    fraction production text embeddings need. Production embeddings
    cluster by topic — model that directly: n_clusters well-separated
    unit centers (Gaussian, normalized), each vector = normalize(center
    + sigma*noise). The noise NORM is sigma*sqrt(dim) (the first draft
    forgot that and produced a near-random corpus at sigma=0.35 —
    kept in the evidence file as the weak-cluster control):
    cos(v, center) ~ 1/sqrt(1 + sigma^2*dim), so sigma=0.06 at dim 64
    gives intra-cluster cosine ~0.9 vs cross-cluster ~0 — comparable
    to topic clusters in real sentence-embedding corpora. Written in
    the embeddings.parquet schema (vec_id, embedding float[],
    label=cluster)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters
    vecs = centers[labels] + sigma * rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(labels[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def sweep(spark, factor: int, combos: list[tuple[int, int]],
          clustered: tuple[int, int] | None = None) -> dict:
    from fegis_spark.operators.knn import ann_ivf_indexed, build_ivf_index, knn_join

    out: dict = {
        "probe": (
            "IVF operating-point sweep on a CLUSTERED corpus (r10 verdict #5)"
            if clustered
            else "IVF operating-point sweep (r9 verdict #2)"
        ),
        "factor": factor,
        "k": K,
        "combos": {},
    }
    if clustered:
        out["clustered"] = {"n": clustered[0], "n_clusters": clustered[1],
                            "sigma": 0.06, "generator": "make_clustered"}

    with tempfile.TemporaryDirectory(prefix="ivf_sweep_") as tmp:
        d = f"{tmp}/x{factor}"
        if clustered:
            make_clustered(spark, d, clustered[0], clustered[1])
        else:
            replicate(spark, d, factor)
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n = emb.count()
        out["n_vectors"] = n
        step = max(n // N_QUERIES, 1)
        queries = emb.filter(F.col("vec_id") % step == 0).limit(N_QUERIES)

        def exact_df():
            return knn_join(
                queries,
                spark.read.parquet(f"{d}/embeddings.parquet"),
                "vec_id",
                "vec_id",
                k=K,
            )

        run_query(spark, exact_df, noop_write_s)  # warm
        t_exact = timed_best2(spark, exact_df)
        truth = run_query(spark, exact_df, result_pairs)
        out["exact_s"] = t_exact

        for n_lists, iters in combos:
            path = f"{tmp}/ivf_{n_lists}_{iters}"
            t0 = time.time()
            run_query(
                spark,
                lambda: emb,
                lambda e: build_ivf_index(
                    e, path, "vec_id", n_lists=n_lists, kmeans_iters=iters
                ),
            )
            build_s = round(time.time() - t0, 3)

            def ivf_df(n_probe, _p=path):
                return ann_ivf_indexed(
                    spark, _p, queries, "vec_id", k=K, n_probe=n_probe
                )

            combo = {"build_s": build_s, "probes": {}}
            probes = sorted({
                max(1, n_lists // 64), max(1, n_lists // 32),
                max(1, n_lists // 16), n_lists // 8, n_lists // 4,
                n_lists // 2,
            })
            run_query(spark, lambda: ivf_df(probes[0]), noop_write_s)  # warm
            for n_probe in probes:
                t_ivf = timed_best2(spark, lambda: ivf_df(n_probe))
                got = run_query(spark, lambda: ivf_df(n_probe), result_pairs)
                combo["probes"][f"n_probe={n_probe}"] = {
                    "scan_frac": round(n_probe / n_lists, 4),
                    "ivf_probe_s": t_ivf,
                    "speedup": round(t_exact / t_ivf, 2),
                    f"recall_at_{K}": round(len(truth & got) / len(truth), 4),
                }
            out["combos"][f"n_lists={n_lists},iters={iters}"] = combo
    return out


def main() -> None:
    args = sys.argv[1:]
    clustered = None
    if args and args[0] == "clustered":
        # usage: ivf_sweep.py clustered [n] [n_clusters] [combos...]
        n = int(args[1]) if len(args) > 1 else 128000
        c = int(args[2]) if len(args) > 2 else 256
        clustered = (n, c)
        args = args[3:]
        factor = 0
        combos = [tuple(int(x) for x in s.split(":"))
                  for s in (args or ["64:10", "128:10", "256:10"])]
    else:
        factor = int(args[0]) if args else 16
        combos = [tuple(int(x) for x in s.split(":"))
                  for s in (args[1:] or ["64:10", "128:10"])]
    spark = configure_for_oracle(get_spark("ivf_sweep"))
    print(json.dumps(sweep(spark, factor, combos, clustered=clustered)))


if __name__ == "__main__":
    main()
