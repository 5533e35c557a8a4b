"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced with a count()-style action (no driver-side collect of
large results).  A warmup pass on the smallest table amortizes JVM/codegen
startup so the numbers measure the plans, not session boot.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from imops_spark.session import _cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    # the heaviest shapes of the full 22-query TPC-H-style suite (added in
    # round 4: totals are not comparable to BENCH_r03 and earlier; per-query
    # timings are)
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "tpch_q21_1scan",
    "center_of_mass",
    "isin",
    "pointwise",
    "radon_raysum",
    "top1_nn",
    "interp1d",
    "dilation",
    "erosion",
    "sliding_window",
    "zoom_1d",
    "edt_1d",
    "graph_cc",
    "evt_window",
    "evt_sessions",
    "dd_exact",
    "dd_minhash",
    "dd_lsh_pairs",
    "dd_simhash",
    "txt_quality",
    "txt_fingerprint",
    "sim_topk",
    "emb_near_dup",
    # round-6 additions (totals not comparable to BENCH_r05 and earlier;
    # value_shared25 / per-query timings are): the new curation surface
    "dd_spans",
    "txt_repetition",
    "txt_pii",
    "emb_semdedup",
    "txt_lm",
    "cur_profile",
    "evt_heavy",
    "cur_dsir",
    "sim_int8",
    "txt_boiler",
    "txt_embed",
    "cur_select2",
    # round-7 additions (totals not comparable to BENCH_r06 and earlier;
    # value_shared25/value_shared30 and per-query timings are)
    "cur_shards",
    "txt_sentences",
    "txt_bpe_pairs",
    "mm_imresize",
    "emb_text_topk",
    # round-8 additions (totals not comparable to BENCH_r07 and earlier;
    # the fixed shared subtotals and per-query timings are)
    "cur_pack_seqs",
    "cur_pack_mat",
    "txt_bm25",
    "cur_contam_frac",
    "cur_contam_emb",
    "txt_bm25_idx",
    "txt_entropy",
    "cur_select3",
    "txt_bm25_phrase",
    "mm_vad",
    "txt_html",
    "cur_ingest",
    # round-9 additions (totals not comparable to BENCH_r08 and earlier;
    # the fixed shared subtotals and per-query timings are)
    "dd_minhash_char",
]


def contention_stats(
    passes: dict[str, list[float]], load_before: float | None = None
) -> dict:
    """Contention self-defense over raw per-pass timings (pure function so
    the thresholds are unit-testable and the flag can be demoed under a real
    busy-loop without re-deriving the logic).

    Per-query cross-pass spread (max/min) is computed over the STEADY-STATE
    passes — pass 1 is excluded because it pays each plan's
    whole-stage-codegen compile (measured up to 9x on sub-200ms queries,
    even idle), which would drown the signal.

    ``contended`` needs BOTH signals since round 9: wide spreads on >= 3
    queries (the r5 poisoned-driver episode's signature — 8+ such queries
    there) AND a pre-run 1-minute load of at least an eighth of the core
    count, and never below 1.0 (on a 4-core box an eighth is 0.5, which
    one leftover process reaches).  Spread alone is NOT external-contention
    evidence: a 59-query x 5-pass run on a verified-idle box (round 9;
    load 1.2 at launch, nothing else running) still showed >1.5x steady
    spreads on 50 queries
    — within-JVM JIT/GC mode flips scale with the number of distinct
    plans sharing the session (the bimodal-HOF class, FASTPATH.md), and
    several Arrow-stage queries converge over ~4 passes (the emb_near_dup
    adjudication).  The min-of-passes aggregation is already robust to
    those flips; the flag exists to catch an OUTSIDE process eating the
    cores, which always shows in the load stamp too.  ``load_before``
    must be sampled BEFORE the session boots (the warmup's own load was
    contaminating the stamp — measured 1.2 -> 4.0 across _boot_and_warm)."""
    steady = {name: (ts[1:] if len(ts) > 2 else ts) for name, ts in passes.items()}
    spread = {
        name: round(max(ts) / max(min(ts), 1e-9), 2) for name, ts in steady.items()
    }
    n_wide = sum(1 for r in spread.values() if r > 1.5)
    busy = (
        load_before is not None
        and load_before >= max(1.0, (os.cpu_count() or 8) / 8.0)
    )
    return {
        "spread_max_over_min": spread,
        "n_queries_spread_gt_1p5": n_wide,
        "contended": n_wide >= 3 and busy,
    }


def _boot_and_warm():
    """Session boot + the full warmup protocol, shared by the in-process
    bench and the per-query isolated subprocesses."""
    import __spark_entry__ as entry
    from imops_spark.session import get_spark

    spark = get_spark(app_name="imops_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch the session + parquet reader once, and pay file listing +
    # footer schema inference for every table outside the timed region (the
    # cluster-analog is a catalog with schemas already registered).
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    # (events is excluded: its NANOS timestamps need the nanosAsLong conf
    # that load_events manages itself.)
    for tbl in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        entry._t(spark, SF_DIR, tbl)

    # Warm the engine machinery itself — JVM JIT + whole-stage codegen for
    # scan/join/agg/window, the shuffle path, and the Python worker pool
    # (fork + numpy/pandas import) used by Arrow-batched kernels.  This runs
    # on the tiny sf0.001 tables, so the timed queries still pay their own
    # data IO; only session boot is amortized.  The cluster analog is
    # long-running executors with warm python daemons serving many queries.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = SF_DIR
    li = spark.read.parquet(f"{warm_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{warm_dir}/orders.parquet")
    (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.avg("l_extendedprice").alias("a"))
        .count()
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey")
    li.withColumn("rn", F.row_number().over(w)).filter("rn <= 3").count()

    def _warm_py(batches):
        import numpy  # noqa: F401  (pay the import in every pooled worker)
        import pandas  # noqa: F401

        yield from batches

    n_workers = _cpus()
    spark.range(n_workers * 10).repartition(n_workers).mapInPandas(
        _warm_py, "id long"
    ).count()
    return spark, entry


_ISOLATE_MARKER = "BENCH_ISOLATE_JSON:"


def run_one_query(name: str) -> None:
    """A single query in a FRESH interpreter + JVM: the --isolate worker.
    Prints min-of-N passes as a marker line.  Session-JIT luck — which
    operators ran earlier in the SAME JVM — was the residual cross-round
    variance after the round-8 GC hygiene (HANDOFF round-8 candidate 1);
    a per-query process eliminates it by construction, at ~10 s boot per
    query.  At least SIX passes here regardless of N_PASSES: several
    Arrow-stage queries need ~4 passes to reach steady state in a fresh
    JVM (the round-9 emb_near_dup adjudication — its isolated min-of-3
    sampled the cold half of a 0.5-4.4 s warmup distribution), so a
    3-pass isolated row measures boot luck, not the query."""
    spark, entry = _boot_and_warm()
    qs = entry.queries()
    fn = qs[name]
    ts = []
    for _ in range(max(N_PASSES, 6)):
        entry.clear_signature_cache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        ts.append(round(time.perf_counter() - t0, 3))
    print(_ISOLATE_MARKER + json.dumps({name: ts}), flush=True)
    spark.stop()


def run_isolated() -> None:
    """--isolate: every query in its own subprocess.  Cross-ROUND
    comparable rows (no shared-JVM JIT history), at the cost of ~10 s
    session boot per query — the trend-line protocol; the default
    single-process mode remains the cheap per-round reading and measures
    the realistic shared-session economics."""
    import subprocess

    only = [a for a in sys.argv[1:] if a.startswith("--queries=")]
    names = (
        [q for q in only[0].split("=", 1)[1].split(",")] if only else BENCH_QUERIES
    )
    load_before = round(os.getloadavg()[0], 2)
    passes: dict[str, list[float]] = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), f"--one-query={name}"],
            capture_output=True,
            text=True,
            check=False,
        )
        payload = None
        for line in proc.stdout.splitlines():
            if line.startswith(_ISOLATE_MARKER):
                payload = json.loads(line[len(_ISOLATE_MARKER):])
        if payload is None:
            sys.stderr.write(proc.stdout + proc.stderr)
            raise RuntimeError(f"isolated run of {name} produced no result")
        passes.update(payload)
    _report(passes, load_before, isolation="process_per_query")


def main() -> None:
    # Environment fingerprint BEFORE anything this process does — a
    # contaminated run (round-5 driver artifact: +25% uniform + two 2-6x
    # outliers an idle-box re-run couldn't reproduce) should prove itself
    # contaminated in the artifact instead of spawning a cross-environment
    # dispute.  Sampled before _boot_and_warm: the warmup alone was
    # pushing the stamp 1.2 -> 4.0 and framing the box as busy.
    load_before = round(os.getloadavg()[0], 2)
    spark, entry = _boot_and_warm()
    qs = entry.queries()

    # N_PASSES passes per query, keep the min: the repeat-and-take-best protocol
    # the reference's own asv bench uses.  Pass 1 absorbs any remaining
    # first-touch effects; the min is robust to background contention on a
    # shared box (observed 3-5x noise on identical plans).
    passes: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _ in range(N_PASSES):
        # drop cross-pass persisted state (the shared MinHash signature
        # table) so every pass pays the full recompute — within a pass the
        # dd_minhash/dd_lsh_pairs sharing is the design being measured,
        # across passes it would just measure a cache read
        entry.clear_signature_cache()
        # Drive the ContextCleaner between passes: localCheckpoint and
        # broadcast blocks from the checkpoint-heavy queries (cur_select2,
        # cur_pack_mat, graph_cc rounds) are only unpersisted when the JVM
        # GC collects their RDD handles, and the periodic-GC fallback fires
        # every 30 min — i.e. never within a bench run.  Left alone, the
        # blocks accumulate in storage memory across 49 queries x 3 passes
        # and squeeze execution memory for whatever runs late in the list
        # (suspected driver of cur_select2's 1.5s-isolated vs 3.2s-in-bench
        # swing).  Both collections run OUTSIDE any timed region.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        for name in BENCH_QUERIES:
            fn = qs[name]
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            # Force full evaluation of every row/column without materializing
            # on the driver.
            df.write.format("noop").mode("overwrite").save()
            passes[name].append(round(time.perf_counter() - t0, 3))
    _report(passes, load_before, isolation="single_process")


def _report(
    passes: dict[str, list[float]], load_before: float, isolation: str
) -> None:
    load_after = round(os.getloadavg()[0], 2)

    timings = {name: min(ts) for name, ts in passes.items()}
    # Contention self-defense (see contention_stats).  Idle load_1m on this
    # box is < ~1 beyond the JVM itself; values near/above the core count at
    # start mean some OTHER process was burning cores.
    contention = contention_stats(passes, load_before)

    total = round(sum(timings.values()), 3)
    # Keep the cross-round trend line honest: the query list grows every
    # round, so the full total is only comparable within a round-set.  The
    # shared subtotals are FIXED, EXPLICIT lists — the original 25 and the
    # r4/r5-comparable 30 — never complements of "recently added" sets: a
    # complement silently absorbs every future addition into the trend
    # line (caught in round 6: four part-1 additions leaked ~4.2 s into
    # value_shared25, manufacturing a phantom 40% regression while the
    # per-query timings showed ~5% noise).
    SHARED25 = frozenset({
        "tpch_q1", "tpch_q3", "tpch_q5", "center_of_mass", "isin",
        "pointwise", "radon_raysum", "top1_nn", "interp1d", "dilation",
        "erosion", "sliding_window", "zoom_1d", "edt_1d", "graph_cc",
        "evt_window", "evt_sessions", "dd_exact", "dd_minhash",
        "dd_lsh_pairs", "dd_simhash", "txt_quality", "txt_fingerprint",
        "sim_topk", "emb_near_dup",
    })
    SHARED30 = SHARED25 | {
        "tpch_q9", "tpch_q13", "tpch_q18", "tpch_q21", "tpch_q21_1scan",
    }
    shared25 = round(sum(v for k, v in timings.items() if k in SHARED25), 3)
    shared30 = round(sum(v for k, v in timings.items() if k in SHARED30), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "value_shared25": shared25,
                "value_shared30": shared30,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                # contention self-defense (see contention_stats): compare
                # cross-environment numbers ONLY when contended is false on
                # both sides.
                "load_1m_before": load_before,
                "load_1m_after": load_after,
                # the session's core count (master local[N]) — $SPARK_GRAFT_CPUS
                # is honored by imops_spark.session.get_spark; printed so a
                # cross-core-count comparison can verify both runs used the
                # intended N.
                "cpus": _cpus(),
                # At sf0.1 every row is 0.1-4 s with min-of-passes: session,
                # stage-scheduling and Python-boundary FIXED cost dominates,
                # so 8-vs-32-core ratios on THIS data read ~1 regardless of
                # plan parallelism.  Core scaling is evidenced at sizes where
                # data work dominates: tools/core_scaling_probe.py (320k-row
                # fixtures, fresh JVM per run) — results in SCALING.md.
                "scaling_note": "fixed_cost_floor_at_this_sf;see_SCALING.md",
                **contention,
                "protocol": {
                    # from the data, not the env: isolated workers floor
                    # their pass count at 6 regardless of N_PASSES
                    "passes": max(len(ts) for ts in passes.values()),
                    "aggregation": "min_of_passes",
                    "warmup": "tables+codegen+python_workers",
                    "isolation": isolation,
                },
            }
        )
    )


if __name__ == "__main__":
    one = [a for a in sys.argv[1:] if a.startswith("--one-query=")]
    if one:
        run_one_query(one[0].split("=", 1)[1])
    elif "--isolate" in sys.argv[1:]:
        run_isolated()
    else:
        main()
