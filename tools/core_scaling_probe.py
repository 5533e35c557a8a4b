"""Core-count scaling probe: the evidence the sf0.1 bench cannot give.

Every sf0.1 bench row is 0.1-4 s under min-of-passes, which is Spark's
FIXED cost regime (session, stage scheduling, Python worker round-trips)
— so an 8-vs-32-core ratio over bench.py reads ~1 for every query no
matter how parallel the plan is, and the driver's scaling heuristic
flags `$SPARK_GRAFT_CPUS` as ignored even though `imops_spark.session`
honors it for both `master=local[N]` and the shuffle-partition default.

This probe measures the ratio where data work dominates: the
shuffle/CPU-heaviest operators on the 320k-row synthetic corpus of
`tools/scaling_probe.py` (the deep-probe fixture), one fresh
interpreter + JVM per (cpus, run) via `scaling_probe.py --one-size
--ops`, min-of-3 per operator inside each run.  A plan that actually
uses the cores shows t(8) / t(32) well above 1; a serial plan shows ~1.

Run: python tools/core_scaling_probe.py [--size=320000] [--cpus=8,32]
     [--ops=dd_minhash,txt_winnow_set,dd_spans,txt_lm,cur_contam_frac]
Prints one JSON line and a markdown table for SCALING.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MARKER = "SCALING_PROBE_JSON:"
_DEFAULT_OPS = "dd_minhash,txt_winnow_set,dd_spans,txt_lm,cur_contam_frac"


def run_at(cpus: int, size: int, ops: str) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    probe = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scaling_probe.py")
    proc = subprocess.run(
        [sys.executable, probe, f"--one-size={size}", f"--ops={ops}"],
        capture_output=True,
        text=True,
        env=env,
        check=False,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_MARKER):
            return json.loads(line[len(_MARKER):])
    sys.stderr.write(proc.stdout + proc.stderr)
    raise RuntimeError(f"probe at {cpus} cores produced no result")


def ratio_table(results: dict[int, dict[str, float]]) -> dict[str, dict]:
    """Per-op seconds at each core count and the low/high-core ratio; an
    op missing from a run reads null instead of failing the probe."""
    lo, hi = min(results), max(results)

    def r2(t: float | None) -> float | None:
        return None if t is None else round(t, 2)

    table = {}
    for op in results[hi]:
        t_lo = results[lo].get(op)
        table[op] = {
            **{f"c{c}": r2(results[c].get(op)) for c in results},
            "ratio": r2(None if t_lo is None else t_lo / max(results[hi][op], 1e-9)),
        }
    return table


def main() -> None:
    args = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a)
    size = int(args.get("--size", 320_000))
    cpus = [int(c) for c in args.get("--cpus", "8,32").split(",")]
    ops = args.get("--ops", _DEFAULT_OPS)
    load = round(os.getloadavg()[0], 2)
    results = {c: run_at(c, size, ops) for c in cpus}
    table = ratio_table(results)
    lo, hi = min(cpus), max(cpus)
    print(json.dumps({"size": size, "cpus": cpus, "load_1m_start": load, "ops": table}))
    print(f"\n| operator | {lo} cores (s) | {hi} cores (s) | ratio {lo}c/{hi}c |")
    print("|---|---|---|---|")
    for op, row in table.items():
        print(f"| {op} | {row[f'c{lo}']} | {row[f'c{hi}']} | {row['ratio']} |")


if __name__ == "__main__":
    main()
