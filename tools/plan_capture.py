"""Capture `.explain("formatted")` output for bench queries into
plans/<tag>/<query>_<suffix>.txt, and optionally time them with the noop
sink (min-of-N within one warmed session — the bench protocol, minus the
cross-query interleaving).

Usage:
    python tools/plan_capture.py --tag r11 --suffix before [--queries=a,b,c]
    python tools/plan_capture.py --tag r11 --suffix before --time [--passes=3]

The plan text is the optimization round's evidence artifact: a reader
who cannot run Spark sees every claimed plan change (Exchange count, join
strategy, PushedFilters, BatchEvalPython removal) in the committed
before/after files.  Captured text is normalized (:func:`normalize`), so
``diff`` of a before/after pair is empty exactly when the plan is
unchanged.
"""

from __future__ import annotations

import argparse
import gc
import io
import json
import os
import re
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# what differs between two sessions planning the same query
_SESSION_IDS = [
    (re.compile(r"#\d+L?"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"@[0-9a-f]{6,}\b"), "@H"),  # object identity hashes
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "UUID"),
]


def normalize(text: str, spark) -> str:
    """Strip the session-specific parts of a plan: expression, plan and RDD
    ids, object hashes, run UUIDs, and every path under the session's
    checkpoint, local and temp directories (whole path -> one placeholder).
    The data directory prefix becomes ``$SF_DIR``."""
    sc = spark.sparkContext
    roots = {"$TMP": tempfile.gettempdir()}
    local = sc.getConf().get("spark.local.dir") or os.environ.get("SPARK_LOCAL_DIRS")
    for i, d in enumerate((local or "").split(",")):
        if d:
            roots[f"$LOCAL{i}"] = d
    ckpt = sc.getCheckpointDir()
    if ckpt:
        roots["$CHECKPOINT"] = ckpt.removeprefix("file:")
    # longest root first, so a directory nested in another keeps its name
    for name, root in sorted(roots.items(), key=lambda kv: -len(kv[1])):
        root = os.path.normpath(root)
        text = re.sub(re.escape(root) + r"(?![^/\s,\]\)])[^\s,\]\)]*", name, text)
    text = text.replace(os.path.normpath(SF_DIR), "$SF_DIR")
    for pat, sub in _SESSION_IDS:
        text = pat.sub(sub, text)
    return text


def parse_args(argv: list[str] | None = None):
    """``--tag X`` and ``--tag=X`` both parse.  An unknown flag exits, and
    so does a missing ``--tag`` / ``--suffix``: no default names a
    committed plan file to overwrite."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--tag", required=True, help="plans/<tag>/ directory")
    p.add_argument("--suffix", required=True, help="<query>_<suffix>.txt")
    p.add_argument("--queries", help="comma-separated; default bench.BENCH_QUERIES")
    p.add_argument("--time", action="store_true", help="also time noop writes")
    p.add_argument("--passes", type=int, default=3, help="timed passes per query")
    return p.parse_args(argv)


def main() -> None:
    args = parse_args()

    import bench

    spark, entry = bench._boot_and_warm()
    qs = entry.queries()
    names = args.queries.split(",") if args.queries else list(bench.BENCH_QUERIES)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag
    )
    os.makedirs(out_dir, exist_ok=True)

    timings: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"plan_capture:{name}")
        df = fn(spark, SF_DIR)
        text = normalize(explain_str(df), spark)
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(text)
        if args.time:
            ts = []
            for _ in range(args.passes):
                entry.clear_signature_cache()
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                ts.append(round(time.perf_counter() - t0, 3))
            timings[name] = ts
            print(f"{name}: min {min(ts)} passes {ts}", flush=True)
        else:
            print(f"{name}: plan captured", flush=True)
        spark.sparkContext.setJobDescription(None)

    if args.time:
        print(
            "PLAN_CAPTURE_TIMES:"
            + json.dumps({k: min(v) for k, v in timings.items()})
        )


if __name__ == "__main__":
    main()
