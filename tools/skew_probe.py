"""Skew probe for dedup_paragraphs_df's lines->winners join.

A viral paragraph (one line shared by millions of documents) used to
make the join key ``k`` planet-hot: every copy of the line hashed to
one shuffle partition of the lines->winners equi-join, and the operator
relied on AQE's skew-join split.  Since round 12 the keep join's
equi-key is ``(k, doc_id, pos)`` — unique on both sides (a row keeps
iff it IS its line's winner) — so a 10M-copy key spreads across ALL
partitions by construction and neither arm of this probe should show a
straggler or need ``skew=true``.  The probe remains the regression
evidence for that property (and measured the old shape before the
change; SCALING.md round-12):

    python tools/skew_probe.py [--n-docs 2000000] [--copies auto]

It builds a corpus where EVERY document contains the same viral
paragraph plus one unique line, runs the operator twice in fresh
subprocesses — AQE skew-join OFF vs ON (with the split thresholds
scaled down so the probe's hot partition crosses them the way a
10M-copy partition crosses the defaults) — and reports wall time, the
max/median task-time ratio of the join stage, and whether the executed
plan shows ``skew=true``.  Expected: OFF shows one straggler task
~#copies/median long; ON splits it and levels the stage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CHILD = "__skew_child__"
_MARKER = "SKEW_PROBE_JSON:"
_VIRAL = (
    "Click here to subscribe to our newsletter and never miss an update "
    "from our editorial team."
)


def _corpus(spark, n_docs: int):
    from pyspark.sql import functions as F

    uniq = F.concat(
        F.lit("unique paragraph body number "),
        F.col("id").cast("string"),
        F.lit(" with enough characters to clear the candidate floor"),
    )
    return spark.range(int(n_docs)).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(_VIRAL + "\n"), uniq).alias("text"),
    )


def _child(n_docs: int, skew_on: bool) -> None:
    from pyspark.sql import functions as F

    from imops_spark.functions.text import dedup_paragraphs_df
    from imops_spark.session import get_spark

    conf = {
        "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
        # scale the split thresholds to the probe's size the way a real
        # 10M-copy key relates to the 256MB default: the hot partition
        # here is ~100-200MB of line rows
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        # keep the winners side out of broadcast range so the join stays
        # a shuffled join (the corpus-scale shape under probe)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    spark = get_spark(app_name=f"skew_probe_{skew_on}", extra_conf=conf)
    # extra_conf only applies at session CREATION — assert we own it
    for k, v in conf.items():
        got = spark.conf.get(k)
        assert got == v, f"stale session: {k}={got!r} wanted {v!r}"
    spark.sparkContext.setLogLevel("ERROR")
    docs = _corpus(spark, n_docs).localCheckpoint()  # exclude synth cost
    t0 = time.perf_counter()
    out = dedup_paragraphs_df(docs)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_removed").alias("removed"),
    ).first()
    wall = round(time.perf_counter() - t0, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    print(
        _MARKER
        + json.dumps(
            {
                "skew_join": skew_on,
                "n_docs": n_docs,
                "wall_sec": wall,
                "rows": int(agg["n"]),
                "removed": int(agg["removed"]),
                "plan_skew_split": "skew=true" in plan,
            }
        ),
        flush=True,
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == _CHILD:
        _child(int(sys.argv[2]), sys.argv[3] == "on")
        return
    args = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a)
    n_docs = int(args.get("--n-docs", 2_000_000))
    for skew in ("off", "on"):
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), _CHILD, str(n_docs), skew],
            capture_output=True,
            text=True,
        )
        hit = [l for l in r.stdout.splitlines() if l.startswith(_MARKER)]
        if not hit:
            sys.stderr.write(r.stdout + r.stderr)
            raise RuntimeError(f"skew={skew} produced no result")
        print(hit[-1][len(_MARKER):], flush=True)


if __name__ == "__main__":
    main()
