"""Array-operator benchmarks at the reference's published workload sizes.

BASELINE.md's numbers are per-call kernel latencies (8-thread OpenMP,
Xeon 4114).  Two engine paths are timed:

- **udf path** at the exact baseline sizes (512^3 morphology, 2^24 zoom,
  256^3 interp1d...) — per-image vectorized kernels, the apples-to-apples
  single-volume comparison;
- **join path throughput** on a batch of volumes — the distributed path's
  honest metric (per-call latency includes fixed Spark job overhead that
  amortizes across a dataset).

Writes ARRAYOPS_BENCH.md.  Run: python tools/bench_arrayops.py [--quick]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUICK = "--quick" in sys.argv
RUNS = 1
for i, a in enumerate(sys.argv):
    if a == "--runs" and i + 1 < len(sys.argv):
        RUNS = int(sys.argv[i + 1])


def t(fn, *args, repeat=3, **kw):
    # repeat-and-take-best (the reference's asv protocol): robust to
    # background contention on a shared box
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn(*args, **kw)
        best = min(best, time.perf_counter() - t0)
    return best * 1000  # ms


def measure():
    """One full measurement pass; returns [(name, ms, ref_cython, ref_scipy)].

    ``--runs N`` repeats the whole pass and reports per-row MEDIANS with the
    observed range: the 16-thread kernels (EDT, radon, iradon) drift ±25-30%
    across full passes on this box even when idle at start (thermal /
    co-tenant effects a within-pass min-of-k cannot see), so a single pass
    over-claims whichever direction it happened to land.
    """
    from imops_spark import get_spark
    from imops_spark.kernels import dilation_numpy, erosion_numpy, zoom_numpy
    from imops_spark.operators.morphology import footprint_offsets, generate_binary_structure
    from imops_spark.operators.measure import center_of_mass_df
    from imops_spark.tensor_io import encode_volumes

    rows = []
    np.random.seed(0)

    # --- udf path at baseline sizes --------------------------------------
    n_m = 256 if QUICK else 512
    mask = np.random.binomial(1, 0.5, (n_m,) * 3).astype(bool)
    fp = generate_binary_structure(3, 1)
    offs = footprint_offsets(fp)
    rows.append((f"binary_dilation {n_m}^3 bool (udf)", t(dilation_numpy, mask, offs), 310, 2207))
    rows.append((f"binary_erosion {n_m}^3 bool (udf)", t(erosion_numpy, mask, offs), 326, 2296))
    rows.append(
        (
            f"binary_closing {n_m}^3 bool (udf)",
            t(lambda: erosion_numpy(dilation_numpy(mask, offs), offs)),
            544,
            4158,
        )
    )
    rows.append(
        (
            f"binary_opening {n_m}^3 bool (udf)",
            t(lambda: dilation_numpy(erosion_numpy(mask, offs), offs)),
            567,
            4410,
        )
    )

    from imops_spark.operators.morphology import edt_numpy

    rows.append(
        (
            f"distance_transform_edt {n_m}^3 bool (udf, 16 threads)",
            t(edt_numpy, mask, num_threads=16, repeat=2),
            None,
            None,
        )
    )

    n_z = 2**22 if QUICK else 2**24
    side = round(n_z ** (1 / 3))
    vol = np.random.randn(side, side, side)
    rows.append(
        (
            f"zoom x2 order=0 {side}^3 f64 (udf, 8 threads)",
            t(zoom_numpy, vol, 2.0, order=0, num_threads=8, repeat=3),
            1114,
            2072,
        )
    )
    # 8 threads: the baseline's own OMP_NUM_THREADS=8 config (BASELINE.md).
    rows.append(
        (
            f"zoom x2 order=1 {side}^3 f64 (udf, 8 threads)",
            t(zoom_numpy, vol, 2.0, order=1, num_threads=8, repeat=3),
            596,
            6527,
        )
    )

    from imops_spark.kernels import center_of_mass_numpy

    n_c = 256 if QUICK else 512
    com_vol = np.abs(np.random.randn(n_c, n_c, n_c))
    rows.append(
        (f"center_of_mass {n_c}^3 f64 (udf)", t(center_of_mass_numpy, com_vol, repeat=3), 64, 2237)
    )

    from imops_spark.kernels import interp1d_numpy

    n_i = 128 if QUICK else 256
    y_i = np.random.randn(n_i, n_i, n_i)
    x_i = np.sort(np.random.rand(n_i)) * 100
    x_new_i = np.random.rand(n_i) * 110 - 5  # includes out-of-range -> extrapolate
    rows.append(
        (
            f"interp1d {n_i}^3 f64 extrapolate (udf)",
            t(
                interp1d_numpy,
                y_i,
                x_i,
                x_new_i,
                extrapolate=True,
                assume_sorted=True,
                num_threads=8,
            ),
            149,
            780,
        )
    )

    from imops_spark.operators.radon import inverse_radon as _iradon
    from imops_spark.operators.radon import radon as _radon
    from imops_spark.testing import sample_ct

    n_r = 128 if QUICK else 256
    ct = sample_ct(n_r, n_r)
    theta_b = np.linspace(0, 180, 180, endpoint=False)
    rows.append(
        (
            f"radon {n_r}^3 f64 x 180 angles (udf, 16 threads)",
            t(_radon, ct, axes=(1, 2), theta=theta_b, backend="udf", num_threads=16, repeat=2),
            5982,
            59711,
        )
    )
    sino_b = _radon(ct, axes=(1, 2), theta=theta_b, backend="udf", num_threads=16)
    rows.append(
        (
            f"inverse_radon {n_r}^3 f64 x 180 (udf, 16 threads)",
            t(_iradon, sino_b, axes=(1, 2), theta=theta_b, backend="udf", num_threads=16, repeat=2),
            8254,
            52928,
        )
    )

    # --- blob path: parallel per-image throughput ------------------------
    from imops_spark.session import get_spark as _gs
    from imops_spark.tensor_io import encode_blobs, map_blobs
    from imops_spark.operators.morphology import generate_binary_structure as _gbs

    spark = _gs(app_name="arrayops_bench")
    spark.sparkContext.setLogLevel("ERROR")
    n_par, side_b = (8, 96) if QUICK else (16, 128)
    vols_f = {i: np.random.randn(side_b, side_b, side_b) for i in range(n_par)}
    blobs = encode_blobs(spark, vols_f).repartition(n_par).cache()
    blobs.count()
    per_vol = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        map_blobs(blobs, lambda a: zoom_numpy(a, 2.0, order=1)).write.format("noop").mode(
            "overwrite"
        ).save()
        per_vol = min(per_vol, (time.perf_counter() - t0) * 1000 / n_par)
    rows.append(
        (f"zoom x2 order=1 blob-path, {n_par} x {side_b}^3 in parallel (ms/volume)", per_vol, 596, 6527)
    )
    masks = {i: np.random.binomial(1, 0.5, (side_b,) * 3).astype(bool) for i in range(n_par)}
    mblobs = encode_blobs(spark, masks).repartition(n_par).cache()
    mblobs.count()
    offs3 = footprint_offsets(_gbs(3, 1))
    per_vol_m = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        map_blobs(mblobs, lambda a: dilation_numpy(a, offs3)).write.format("noop").mode(
            "overwrite"
        ).save()
        per_vol_m = min(per_vol_m, (time.perf_counter() - t0) * 1000 / n_par)
    rows.append(
        (f"binary_dilation blob-path, {n_par} x {side_b}^3 in parallel (ms/volume)", per_vol_m, None, None)
    )

    # --- join path: batch throughput -------------------------------------
    spark = get_spark(app_name="arrayops_bench")
    spark.sparkContext.setLogLevel("ERROR")
    n_imgs, side_j = (8, 48) if QUICK else (16, 64)
    vols = {i: np.abs(np.random.randn(side_j, side_j, side_j)) for i in range(n_imgs)}
    tf = encode_volumes(spark, vols)
    tf.df.cache().count()
    join_ms = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        center_of_mass_df(tf).collect()
        join_ms = min(join_ms, (time.perf_counter() - t0) * 1000)
    rows.append(
        (
            f"center_of_mass join-path, {n_imgs} x {side_j}^3 batch "
            f"({n_imgs * side_j**3 / 1e6:.0f}M voxels total)",
            join_ms,
            None,
            None,
        )
    )
    blobs.unpersist()
    mblobs.unpersist()
    tf.df.unpersist()
    return rows


def main():
    if "--one-pass" in sys.argv:
        # subprocess worker: one measurement pass, rows as one JSON line
        import json

        print("PASS_JSON:" + json.dumps(measure()))
        return

    if RUNS == 1:
        passes = [measure()]
    else:
        # each pass in its OWN subprocess (fresh JVM, fresh numpy heap):
        # in-process repetition contaminates later passes — kernel table
        # caches, JVM/code-cache state and allocator fragmentation inflated
        # the 16-thread rows up to 3.7x by pass 3 (the same effect the
        # scaling probe fixed in round 4 with per-size subprocesses)
        import json
        import subprocess

        passes = []
        for _ in range(RUNS):
            args = [sys.executable, __file__, "--one-pass"]
            if QUICK:
                args.append("--quick")
            out = subprocess.run(args, capture_output=True, text=True, check=True)
            line = [l for l in out.stdout.splitlines() if l.startswith("PASS_JSON:")][-1]
            passes.append([tuple(r) for r in json.loads(line[len("PASS_JSON:"):])])
    rows = []
    for i, (name, _, cy, sp) in enumerate(passes[0]):
        vals = sorted(p[i][1] for p in passes)
        med = vals[len(vals) // 2]
        rows.append((name, med, min(vals), max(vals), cy, sp))

    span = "" if RUNS == 1 else " (range)"
    lines = [
        "# ARRAYOPS_BENCH — array-operator timings vs BASELINE.md",
        "",
        "Single-volume udf-path kernels at the reference's workload sizes",
        "(BASELINE.md cites Cython-8-thread and Scipy columns, ms/call), plus a",
        "join-path batch throughput sample. Machine: this container (local[32]).",
        f"Protocol: median of {RUNS} full pass(es), min-of-k calls within a pass.",
        "",
        f"| workload | ours (ms){span} | ref Cython (ms) | ref Scipy (ms) |",
        "|---|---|---|---|",
    ]
    for name, med, lo, hi, cy, sp in rows:
        cy_s = f"{cy}" if cy else "—"
        sp_s = f"{sp}" if sp else "—"
        ours = f"{med:.0f}" if RUNS == 1 else f"{med:.0f} ({lo:.0f}-{hi:.0f})"
        lines.append(f"| {name} | {ours} | {cy_s} | {sp_s} |")
    lines += [
        "",
        "Notes:",
        "- udf-path kernels are numpy-vectorized (no compiled per-op kernels):",
        "  morphology and order-0 zoom land at or below the reference's 8-thread",
        "  Cython numbers; order-1 zoom runs chunk-fused separable lerp on a",
        "  GIL-released thread pool (8 threads here, the baseline's own OMP",
        "  config) and center_of_mass is a single 2xN GEMM pass.",
        "- blob-path rows measure many volumes in flight on local[32]; per-volume",
        "  wall time beats the single-volume number until memory bandwidth",
        "  saturates — on a real cluster each executor adds its own bandwidth,",
        "  which is exactly why the engine scales by image count.",
        "- blob-path volumes are 128^3 (not the 256^3/512^3 baseline sizes);",
        "  compare throughput per voxel, not raw ms.",
        "- the join path adds fixed per-job overhead (~0.5 s) that amortizes over",
        "  datasets; it exists for volumes that exceed one machine.",
        "- iradon blocking follow-through (round-5 experiment): the auto block",
        "  size (~3M (angle,pixel) samples/block = ~16.6k pixels at 180 angles)",
        "  sits at the measured optimum of a 4k-64k-pixel sweep (2.0 s vs 6.4 s",
        "  at 4k and 5.6 s at 64k, 32-slice probe); preallocated np.take gather",
        "  buffers were ~20% SLOWER than fresh fancy-index temporaries.  No",
        "  further win taken — the r4 pixel-blocking already captured it.",
    ]
    with open("/root/repo/ARRAYOPS_BENCH.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
