"""Checks of the benchmark's own parts that need no Spark session: seeded
input generation and the output checks.

    python3 -m pytest perfbench/tests -q      (from the source root)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    wl = W.WORKLOADS[name](str(tmp_path))
    wl.generate(7, str(tmp_path / "a"))
    wl.generate(7, str(tmp_path / "b"))
    wl.generate(8, str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a)


def test_documents_follow_the_measured_table():
    """The figures measured on the sf0.1 ``documents`` table (5000 rows)."""
    from collections import Counter

    from perfbench import gen

    t = gen.documents_table(np.random.default_rng(11), 5000).to_pydict()
    words = [x.split() for x in t["text"]]
    lens = np.array([len(w) for w in words])
    tokens = Counter(w for x in words for w in x)
    dups = sum(x.endswith(" dup") for x in t["text"])
    assert set(tokens) == set(gen.VOCAB) | {"dup"} and len(gen.VOCAB) == 30
    share = np.array([tokens[w] for w in gen.VOCAB]) / sum(tokens[w] for w in gen.VOCAB)
    assert share.min() > 0.031 and share.max() < 0.036
    assert lens.min() >= 10 and lens.max() <= 101  # a duplicate adds "dup"
    assert abs(lens.mean() - 54.1) < 1.5
    assert abs(dups - 250) < 40
    langs = Counter(t["lang"])
    for lang, p in zip(gen.LANGS, gen.LANG_P):
        assert abs(langs[lang] / 5000 - p) < 0.02
    assert Counter(t["source"]) == {f"src{i}": 250 for i in range(20)}
    assert t["n_chars"] == [len(x) for x in t["text"]]


def test_row_check_catches_perturbed_output():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    assert W.compare_rows(cols, rows, ["v", "k"], [(0.5, 1), (None, 3), (1.25, 2)]) == ""
    assert W.compare_rows(cols, [(1, 0.5), (2, 1.26), (3, None)], cols, rows)
    assert W.compare_rows(cols, rows[:2], cols, rows)
    assert W.compare_rows(["k", "w"], rows, cols, rows)


def _as_written(op, arrays):
    """The table an imaging op writes, built from ndarrays."""
    return W._blob_table(arrays) if op.endswith("_blobs") else W._voxel_table(arrays)


def test_imaging_check_catches_perturbed_output():
    volumes = W.Imaging("unused").volumes(5)
    want = W.expected_imaging(volumes)
    outputs = {op: _as_written(op, arrays) for op, arrays in want.items()}
    assert W.check_imaging(volumes, outputs) == {}

    bad = {}
    for op, arrays in want.items():
        arrays = {i: a.copy() for i, a in arrays.items()}
        a = arrays[0]
        if a.dtype == bool:
            a.flat[a.size // 2] = ~a.flat[a.size // 2]
        else:
            a.flat[a.size // 2] += 1
        bad[op] = _as_written(op, arrays)
    assert sorted(W.check_imaging(volumes, bad)) == sorted(want)


def test_trace_split_groups_timed_passes_and_python_stages():
    from perfbench.trace import split

    def job(jid, group, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def stage(sid, scope):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "RDD Info": [{"Name": "MapPartitionsRDD",
                                           "Scope": '{"id":"1","name":"%s"}' % scope}]}}

    def task(sid, run_ms, cpu_ns):
        zero_read = {"Remote Bytes Read": 0, "Local Bytes Read": 0, "Fetch Wait Time": 0}
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
            "Input Metrics": {"Bytes Read": 0}, "Output Metrics": {"Bytes Written": 0},
            "Shuffle Read Metrics": zero_read,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}

    events = [
        job(0, "pb:check:op:exec", [0]), task(0, 5000, 0), stage(0, "MapInArrow"),
        job(1, "pb:warm:op:exec", [1]), task(1, 5000, 0), stage(1, "MapInArrow"),
        job(2, "pb:0:op:build", [2]), task(2, 300, 2e8), stage(2, "WholeStageCodegen (1)"),
        job(3, "pb:0:op:exec", [3]), task(3, 1000, 1e8), stage(3, "MapInArrow"),
        # jobs after the last pass: the probes' group, and no group at all
        job(4, "pb:probe", [4]), task(4, 7000, 0), stage(4, "MapInArrow"),
        {"Event": "SparkListenerJobStart", "Job ID": 5, "Stage IDs": [5]},
        task(5, 7000, 0), stage(5, "MapInArrow"),
    ]
    groups = split(events)
    assert set(groups) == {(0, "op", "build"), (0, "op", "exec")}
    build, exe = groups[(0, "op", "build")], groups[(0, "op", "exec")]
    assert (build["jobs"], build["stages"], build["py_task_s"]) == (1, 1, 0)
    assert exe["py_task_s"] == pytest.approx(1.0)
    assert exe["py_cpu_s"] == pytest.approx(0.1)
    assert exe["shuffle_write_mb"] == pytest.approx(1.0)


def test_cpu_meter_leaves_out_jit_threads_and_stolen_time(monkeypatch):
    from perfbench import run

    tree = iter([10.0, 14.0, 20.0, 28.0])
    # compiler thread 7 exits after the second reading; 8 starts before it
    jit = iter([{"7": 1.0}, {"7": 2.5, "8": 0.5}, {"8": 1.5}, {"8": 1.5}])
    # (all, busy, stolen) ticks: nothing stolen until the last interval,
    # where a quarter of the busy time was stolen
    ticks = iter([(0, 0, 0), (100, 50, 0), (200, 100, 0), (300, 160, 20)])
    monkeypatch.setattr(run, "tree_cpu_s", lambda: next(tree))
    monkeypatch.setattr(run, "_jit_threads", lambda pid: next(jit))
    monkeypatch.setattr(run, "cpu_ticks", lambda: next(ticks))
    meter = run.CpuMeter()
    meter.jvm_pid = 1
    # own CPU time 9, 11, 16, 24: steps of 2, 5 and 8, the last 3/4 not stolen
    assert [meter.read() for _ in range(4)] == [0.0, 2.0, 7.0, 13.0]


def test_tree_cpu_counts_this_process():
    import time

    from perfbench.run import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        pass
    assert tree_cpu_s() - c0 >= 0.2
