"""Recall@k of the ANN family at REALISTIC (non-saturated) configurations.

The driver gates (sim_lsh / sim_ivf / sim_pq / sim_ivfpq / sim_int8) prove
the saturated configs are EXACT — probe-all IVF, full-rank codebooks — which
pins the algebra but says nothing about pruning QUALITY when the index
actually prunes.  This probe measures that: recall@k against the exact
brute-force top-k (``cosine_topk_df``) for LSH / IVF / PQ / IVFPQ at the
settings a production index would run, across 80k..1.28M vectors, and
writes the table to RECALL.md.

Protocol (the scaling_probe conventions):
- one fresh interpreter + JVM per corpus size (no cross-size JIT/GC state);
- synthetic unit-ish vectors deterministic from vec_id (same generator as
  the scaling probe; dim=64), 50 query vectors;
- recall@k = |ANN top-k ∩ exact top-k| / k, averaged over queries (ties
  broken identically on both sides: (cosine desc, neighbor_id asc));
- wall time is END-TO-END per config (index build + query) on local[32] —
  context for the recall number, not a benchmark artifact (bench.py owns
  those).

Interpretation guide for the table: hash-random vectors are the HARDEST
recall case (no cluster structure for IVF lists or LSH planes to exploit,
neighbor gaps are thin), so these numbers are a floor — real embedding
corpora cluster, and recall at the same settings is typically higher.
What the table must show: recall RISES with n_probe/planes budget, and the
probe fraction needed for a given recall FALLS as the corpus grows (lists
get denser), i.e. the index prunes better at scale — the property that
makes IVF the 100 TB answer.
"""

from __future__ import annotations

import json
import subprocess
import os
import sys
import time

_MARKER = "RECALL_PROBE_JSON:"
K = 10
N_QUERIES = 50


def probe_one_size(n: int) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from imops_spark.functions.similarity import (
        cosine_topk_df,
        ivf_centroids,
        ivf_topk_df,
        ivfpq_encode_df,
        ivfpq_residual_train,
        ivfpq_topk_df,
        lsh_topk_df,
        pq_encode_df,
        pq_topk_df,
        pq_train,
    )
    from imops_spark.session import get_spark
    from scaling_probe import synth_embeddings

    spark = get_spark(app_name=f"recall_probe_{n}")
    spark.sparkContext.setLogLevel("ERROR")
    emb = synth_embeddings(spark, n).persist()
    emb.count()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def truth_of(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = truth_of(cosine_topk_df(emb, queries, k=K))

    def recall(df) -> float:
        got = truth_of(df)
        return sum(
            len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
        ) / len(exact)

    # shared build artifacts (timed inside their configs' lambdas where
    # they are config-specific; PQ books/IVF centroids rebuild per config
    # to keep each row self-contained end-to-end)
    results = {}
    configs = {
        "lsh planes=4": lambda: lsh_topk_df(emb, queries, k=K, planes=4),
        "lsh planes=6": lambda: lsh_topk_df(emb, queries, k=K, planes=6),
        "ivf L=64 probe=2": lambda: ivf_topk_df(
            emb, queries, k=K, n_centroids=64, n_probe=2
        ),
        "ivf L=64 probe=8": lambda: ivf_topk_df(
            emb, queries, k=K, n_centroids=64, n_probe=8
        ),
        "ivf L=64 probe=16": lambda: ivf_topk_df(
            emb, queries, k=K, n_centroids=64, n_probe=16
        ),
    }

    def pq_cfg(m, ksub):
        books = pq_train(emb, m=m, ksub=ksub)
        return pq_topk_df(pq_encode_df(emb, books), queries, books, k=K)

    def ivfpq_cfg(n_probe, m, ksub):
        cents = ivf_centroids(emb, n_centroids=64)
        books = ivfpq_residual_train(emb, cents, m=m, ksub=ksub)
        idx = ivfpq_encode_df(emb, cents, books)
        return ivfpq_topk_df(idx, queries, cents, books, k=K, n_probe=n_probe)

    # coarse (m=8: 8-dim subspaces, 16 codes) shows the compression floor
    # on structure-free vectors; fine (m=16: 4-dim subspaces, 64 codes)
    # shows the quantization knob actually moving recall
    configs["pq m=8 ksub=16"] = lambda: pq_cfg(8, 16)
    configs["pq m=16 ksub=64"] = lambda: pq_cfg(16, 64)
    configs["ivfpq L=64 probe=8 m=8"] = lambda: ivfpq_cfg(8, 8, 16)
    configs["ivfpq L=64 probe=8 m=16k64"] = lambda: ivfpq_cfg(8, 16, 64)

    for name, fn in configs.items():
        t0 = time.perf_counter()
        r = recall(fn())
        results[name] = {"recall": round(r, 3), "sec": round(time.perf_counter() - t0, 2)}
    spark.stop()
    return results


def main() -> None:
    sizes = [80_000, 320_000, 1_280_000]
    for a in sys.argv[1:]:
        if a.startswith("--sizes"):
            sizes = [int(x) for x in a.split("=", 1)[1].split(",")]
        if a.startswith("--one-size"):
            print(_MARKER + json.dumps(probe_one_size(int(a.split("=", 1)[1]))))
            return

    load = os.getloadavg()[0]
    per_size = {}
    for n in sizes:
        proc = subprocess.run(
            [sys.executable, __file__, f"--one-size={n}"],
            capture_output=True,
            text=True,
            check=False,
        )
        payload = None
        for line in proc.stdout.splitlines():
            if line.startswith(_MARKER):
                payload = json.loads(line[len(_MARKER):])
        if payload is None:
            sys.stderr.write(proc.stdout + proc.stderr)
            raise RuntimeError(f"size {n} recall subprocess produced no result")
        per_size[n] = payload
        print(f"size {n:,} done", flush=True)

    names = list(next(iter(per_size.values())))
    lines = [
        "# RECALL — ANN pruning quality at realistic configs",
        "",
        f"recall@{K} vs exact cosine top-{K} (`cosine_topk_df`), {N_QUERIES}",
        "queries, dim=64 hash-random unit-ish vectors (the HARDEST recall",
        "case: no cluster structure to exploit — real embedding corpora",
        "cluster, so these are floors).  One fresh JVM per size; times are",
        f"end-to-end (index build + query) on local[32]; load_1m {load:.2f}",
        "at start.  Saturated-config EXACTNESS is separately hash-gated",
        "(sim_lsh/sim_ivf/sim_pq/sim_ivfpq/sim_int8); this table measures",
        "what those gates cannot: pruning quality when the index actually",
        "prunes.  Generated by tools/recall_probe.py.",
        "",
        "| config | "
        + " | ".join(f"{n:,}: r@{K} (s)" for n in sizes)
        + " |",
        "|---|" + "---|" * len(sizes),
    ]
    for name in names:
        cells = [
            f"{per_size[n][name]['recall']:.3f} ({per_size[n][name]['sec']:.1f})"
            for n in sizes
        ]
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    with open("/root/repo/RECALL.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
