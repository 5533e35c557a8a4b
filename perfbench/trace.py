"""Per-layer split of a traced run, read from Spark's own event log.

The benchmark tags every Spark job with a job group
``pb:<pass>:<op>:<phase>``: ``build`` while the call that returns the
DataFrame runs (eager jobs a kernel starts at plan-build time), ``exec`` while
the sink forces it.  Task metrics of those jobs give the JVM, shuffle, I/O and
Python/Arrow layers; the benchmark's own spans give build and exec wall time.
Only the timed passes count (not the warm-up passes), and every total is
per pass.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

# a stage runs Python when one of its operators is a Python/Arrow exec node
# (MapInPandas, MapInArrow, ArrowEvalPython, FlatMapGroupsInPandas, ...)
PY_NODE = re.compile(r"Python|Pandas|Arrow")
MB = 2**20


def read_events(log_dir: str) -> list[dict]:
    """Every event of the run's (single, uncompressed) event log."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _is_python_stage(info: dict) -> bool:
    """A stage runs a Python/Arrow SQL node when one of its RDDs was created
    under that node's scope.  (A ``PythonRDD`` holding a small local
    ``createDataFrame`` table does not count: it is not a query operator.)"""
    return any(
        PY_NODE.search(json.loads(rdd["Scope"]).get("name", ""))
        for rdd in info.get("RDD Info", []) if rdd.get("Scope")
    )


def split(events: list[dict]):
    """``{(pass, op, phase): totals}`` over the timed passes, where totals
    holds jobs, stages, tasks and summed task metrics."""
    stage_group: dict[int, tuple] = {}
    py_stage: set[int] = set()
    out: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    # task-end events precede their stage's completion: classify stages first
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            parts = gid.split(":")
            if len(parts) != 4 or parts[0] != "pb" or not parts[1].isdigit():
                continue
            key = (int(parts[1]), parts[2], parts[3])
            out[key]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group:
                out[stage_group[sid]]["stages"] += 1
                if _is_python_stage(info):
                    py_stage.add(sid)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        key = stage_group.get(sid)
        m = e.get("Task Metrics")
        if key is None or not m:
            continue
        t = out[key]
        run_s = m["Executor Run Time"] / 1e3
        cpu_s = m["Executor CPU Time"] / 1e9
        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
        t["tasks"] += 1
        t["task_s"] += run_s
        t["cpu_s"] += cpu_s
        t["gc_s"] += m["JVM GC Time"] / 1e3
        t["read_mb"] += m["Input Metrics"]["Bytes Read"] / MB
        t["write_mb"] += m["Output Metrics"]["Bytes Written"] / MB
        t["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
        t["fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
        t["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / MB
        t["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
        if sid in py_stage:
            t["py_task_s"] += run_s
            t["py_cpu_s"] += cpu_s
    return out


def layer_metrics(
    log_dir: str, passes: list[dict], cpus: int, extra: dict[str, float],
    all_ops: list[str], probes: list[str],
) -> tuple[dict[str, tuple[float, str]], dict]:
    """The per-layer metrics ``{name: (value, unit)}`` and a per-op table.

    ``passes`` holds the benchmark's spans, ``[{op: (build_s, exec_s, cpu_s)}]``;
    ``extra`` the layer figures measured outside the event log; ``all_ops``
    and ``probes`` name every per-op and probe metric, reported as 0 where
    this workload does not run them."""
    groups = split(read_events(log_dir))
    n = len(passes)

    def total(field, phase=None):
        return sum(t[field] for (_, _, ph), t in groups.items()
                   if phase is None or ph == phase) / n

    build_s = sum(v[0] for p in passes for v in p.values()) / n
    exec_s = sum(v[1] for p in passes for v in p.values()) / n
    m = {
        "session.boot_s": (extra["session.boot_s"], "s"),
        "session.warm_s": (extra["session.warm_s"], "s"),
        "inputs.gen_s": (extra["inputs.gen_s"], "s"),
        "build.s": (build_s, "s"),
        "build.jobs": (total("jobs", "build"), "count"),
        "build.share": (build_s / (build_s + exec_s), "ratio"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (total("jobs", "exec"), "count"),
        "exec.stages": (total("stages", "exec"), "count"),
        "exec.tasks": (total("tasks", "exec"), "count"),
        "exec.slot_busy": (total("task_s", "exec") / (cpus * exec_s), "ratio"),
        "jvm.cpu_s": (total("cpu_s"), "s"),
        "jvm.gc_s": (total("gc_s"), "s"),
        "jvm.jit_cpu_s": (extra["jvm.jit_cpu_s"], "s"),
        "sources.read_mb": (total("read_mb"), "MB"),
        "sources.write_mb": (total("write_mb"), "MB"),
        "shuffle.write_mb": (total("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (total("shuffle_read_mb"), "MB"),
        "shuffle.fetch_wait_s": (total("fetch_wait_s"), "s"),
        "shuffle.spill_mb": (total("spill_mb"), "MB"),
        "python.task_s": (total("py_task_s"), "s"),
        "python.nonjvm_s": (total("py_task_s") - total("py_cpu_s"), "s"),
        "jvm.peak_rss_mb": (extra["jvm.peak_rss_mb"], "MB"),
        "python.peak_rss_mb": (extra["python.peak_rss_mb"], "MB"),
        "jvm.heap_peak_mb": (extra["jvm.heap_peak_mb"], "MB"),
        "jvm.heap_live_mb": (extra["jvm.heap_live_mb"], "MB"),
        "storage.retained_mb": (extra["storage.retained_mb"], "MB"),
    }
    for name in probes:
        m[name] = (extra.get(name, 0.0), "s")
    for op in all_ops:
        b = [p[op][0] for p in passes if op in p]
        e = [p[op][1] for p in passes if op in p]
        m[f"{op}.build_s"] = (statistics.median(b) if b else 0.0, "s")
        m[f"{op}.exec_s"] = (statistics.median(e) if e else 0.0, "s")

    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for (_, op, phase), t in groups.items():
        row = per_op[op]
        row[f"{phase}_jobs"] += t["jobs"] / n
        for field in ("task_s", "cpu_s", "py_task_s", "shuffle_write_mb"):
            row[field] += t[field] / n
    return m, {op: dict(row) for op, row in sorted(per_op.items())}
