"""Benchmark entry point.

    python3 perfbench/run.py --workload {curation,imaging} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source tree.  One client runs a closed loop: one
operation at a time, each forced to completion, on ``local[nproc]`` from this
single process.  A run boots the session, generates the seeded inputs, warms
up with a first pass (whose outputs are checked) and the workload's untimed
passes, then times at least four whole passes over the workload's operations,
and more until ``--seconds`` have elapsed.  Each op is timed in CPU seconds of
the process tree (``CpuMeter``); its wall time goes to the stderr summary.
The last line of stdout is the JSON result; with ``--trace 1`` the line
before it is the per-layer profile.  See perfbench/README.md for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
GEN_REPS = 3
DRIVER_MEM = "2g"


def _fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# ---------------------------------------------------------------------------
# process tree memory, read from /proc
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _tree(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    out, stack = [], [pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += _children(pid)
    return out


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's C1/C2 compiler threads, as /proc shows their (truncated) names
JIT_THREAD = "CompilerThre"


def _cpu_fields(stat: str) -> list[str]:
    return stat.rsplit(")", 1)[1].split()


def _cpu_s(pid: int) -> float:
    """User and system CPU time of one process and of the children it has
    reaped, in seconds (``/proc/<pid>/stat``)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = _cpu_fields(f.read())
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_s() -> float:
    """CPU time of this process and every process below it: the driver
    Python, the JVM it launched and the Python workers below the JVM."""
    return sum(_cpu_s(pid) for pid in _tree(os.getpid()))


def _jit_threads(pid: int) -> dict[str, float]:
    """``{thread id: CPU seconds}`` of one JVM's live JIT compiler threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if JIT_THREAD in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = _cpu_fields(stat)
            out[tid] = (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


def cpu_ticks() -> tuple[int, int, int]:
    """All CPU time, the time the machine's processes ran and the time the
    hypervisor stole, in ticks since boot, summed over the machine's CPUs
    (``/proc/stat``)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    # user, nice, system, irq, softirq; guest time is inside user
    return sum(t), t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class CpuMeter:
    """CPU time of the process tree (``tree_cpu_s``) less what the JVM's JIT
    compiler threads spent, with the time the hypervisor stole from them
    taken out.  ``read`` returns that time since the first reading.

    The timings use CPU time, not wall time: on a shared 4-core host, 20%
    hypervisor steal doubled an op's wall time.  This guest's kernel charges
    a process for the time stolen while it ran, so the process tree's CPU
    time rose with steal too; each interval between two readings is scaled
    by the share of the machine's busy time that was not stolen in it.  The
    JIT is left out because it keeps compiling in the background, by
    bursts, for dozens of passes.  Its time is summed by thread as it
    accrues; ``boot`` keeps the compiler threads alive for the JVM's
    lifetime so that none ends unaccounted."""

    def __init__(self):
        self.jvm_pid: int | None = None
        self.jit: dict[str, float] = {}
        self.jit_s = 0.0
        self.own_s = 0.0
        self.last: tuple[float, int, int] | None = None

    def read(self) -> float:
        if self.jvm_pid:
            now = _jit_threads(self.jvm_pid)
            self.jit_s += sum(cpu - self.jit.get(tid, 0.0) for tid, cpu in now.items())
            self.jit = now
        cpu_s = tree_cpu_s() - self.jit_s
        _, busy, steal = cpu_ticks()
        if self.last is not None:
            ran, stolen = busy - self.last[1], steal - self.last[2]
            self.own_s += (cpu_s - self.last[0]) * (ran / (ran + stolen) if ran + stolen else 1.0)
        self.last = (cpu_s, busy, steal)
        return self.own_s


class RssSampler:
    """Peak RSS of the driver Python, the JVM it launched and the Python
    workers below the JVM, sampled between operations (no sampling thread)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.total = self.jvm = self.python = 0.0

    def sample(self) -> None:
        me = os.getpid()
        jvm = _hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        workers = sum(_hwm_mb(p) for p in _tree(self.jvm_pid)[1:]) if self.jvm_pid else 0.0
        python = _hwm_mb(me) + workers
        self.jvm = max(self.jvm, jvm)
        self.python = max(self.python, python)
        self.total = max(self.total, jvm + python)


class JvmHeap:
    """The JVM's heap, read over py4j from its memory MXBeans.  The driver
    heap is fixed and pre-touched, so the JVM's RSS shows its size, not its
    use; these figures show what the program allocates and retains."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.memory = mf.getMemoryMXBean()
        pools = mf.getMemoryPoolMXBeans()
        self.pools = [p for p in (pools.get(i) for i in range(pools.size()))
                      if p.getType().toString() == "Heap memory"]

    def reset_peak(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        """Used heap at its peak since ``reset_peak``, summed over the pools
        (eden, survivor, old): allocation churn plus what is retained."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20

    def live_mb(self) -> float:
        """Used heap after full collections: what the program retains.  Spark
        frees shuffle and broadcast state asynchronously once a collection
        has found it unreachable, so the reading follows three collections
        half a second apart."""
        for _ in range(3):
            self.memory.gc()
            time.sleep(0.5)
        return self.memory.getHeapMemoryUsage().getUsed() / 2**20


# ---------------------------------------------------------------------------
# environment stamp
# ---------------------------------------------------------------------------


def _source_sha() -> str:
    h = hashlib.sha256()
    paths = ["__spark_entry__.py"]
    for d, _, files in sorted(os.walk("imops_spark")):
        paths += sorted(os.path.join(d, f) for f in files if f.endswith(".py"))
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def env_stamp(cpus: int, load_before: float, steal: float) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "cpus": cpus,
        "driver_heap": DRIVER_MEM,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": _git_commit(),
        "source_sha": _source_sha(),
        "load_1m_before": round(load_before, 2),
        # contended when something kept every core busy before the run; a
        # previous run started back to back leaves a load of about 2.5-3.2
        # on 4 cores as it decays
        "contended": load_before >= cpus,
        # the share of CPU time the hypervisor gave to other guests while the
        # passes were timed: on a shared host the timings rise with it
        "steal_timed": round(steal, 3),
    }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def boot(work: str, cpus: int, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed heap, pre-touched at boot as the session's default is, but of
    # 2 GB rather than the default 8 GB: the program's live heap is about
    # 100 MB here, and 8 GB pre-touched per run would hold half of a 15 GB box
    # and add the pre-touch to setup_s
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_DRIVER_XMS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from imops_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the JVM starts and stops JIT compiler threads as its compile queue
        # grows and drains; a thread that ends takes its name with it, and its
        # CPU time would count as the op's (CpuMeter).  Kept alive, the same
        # number of threads compile, and each one's time stays attributable
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

MIN_PASSES = 4
PROBES = ["tensor_io.boundary_s", "kernels.zoom_s", "kernels.label_s", "kernels.dilation_s"]


def _pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values), q))


class Runner:
    """Runs passes over a workload's ops and counts attempts and failures."""

    def __init__(self, spark, wl, rss: RssSampler, cpu: CpuMeter, trace: bool):
        self.spark, self.wl, self.rss, self.cpu, self.trace = spark, wl, rss, cpu, trace
        self.ops = wl.ops(spark)
        self.attempted = self.failed = 0
        self.retained_mb = 0.0

    def _group(self, tag: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(tag, tag)

    def _retained_mb(self) -> float:
        """Block-manager storage memory still held."""
        status = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            max_mem_and_free = it.next()
            used += max_mem_and_free._1() - max_mem_and_free._2()
        return used / 2**20

    def first_pass(self) -> dict:
        """The first, untimed pass: every op once, each output captured for
        the workload's check.  Returns ``{op: captured output}``."""
        outputs = {}
        for op in self.ops:
            self.attempted += 1
            try:
                self._group(f"pb:check:{op.name}:build")
                df = op.build(self.spark)
                self._group(f"pb:check:{op.name}:exec")
                outputs[op.name] = self.wl.capture(op, df)
            except Exception:  # an op that raises is a failed op, not a crash
                traceback.print_exc()
                self.failed += 1
            self.rss.sample()
        return outputs

    def timed_pass(self, index) -> dict[str, tuple[float, float, float]]:
        """One pass; returns ``{op: (build_s, exec_s, cpu_s)}``, the op's
        wall-clock spans and the CPU time (``CpuMeter``) spent in them."""
        times = {}
        for op in self.ops:
            self.attempted += 1
            try:
                self._group(f"pb:{index}:{op.name}:build")
                c0 = self.cpu.read()
                t0 = time.perf_counter()
                df = op.build(self.spark)
                t1 = time.perf_counter()
                self._group(f"pb:{index}:{op.name}:exec")
                op.sink(df)
                t2 = time.perf_counter()
                c2 = self.cpu.read()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            times[op.name] = (t1 - t0, t2 - t1, c2 - c0)
            self.rss.sample()
            if self.trace:
                self.retained_mb = max(self.retained_mb, self._retained_mb())
        return times


def main() -> None:
    args = _parse()
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("imops_spark")):
        _fail("run from the root of the source tree (no __spark_entry__.py / imops_spark here)")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()[0]  # before this run adds its own load
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, profile = run(args, WORKLOADS[args.workload](work), cpus, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    if profile is not None:
        print(json.dumps({"profile": profile}, sort_keys=True))
    print(json.dumps(result))


def run(args, wl, cpus: int, load_before: float):
    from perfbench.workloads import ALL_OPS

    work = wl.work_dir
    cpu = CpuMeter()
    setup_cpu0 = cpu.read()
    t0 = time.perf_counter()
    spark = boot(work, cpus, bool(args.trace))
    boot_s = time.perf_counter() - t0
    try:
        import __spark_entry__  # noqa: F401
        # tools/check_oracle.py puts its own source root first on sys.path;
        # keep this tree's modules the ones that load
        saved_path = list(sys.path)
        import tools.check_oracle  # noqa: F401

        sys.path[:] = saved_path
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        rss = RssSampler(proc.pid if proc is not None else None)
        cpu.jvm_pid = rss.jvm_pid

        # input generation, repeated into fresh directories; the median counts
        gen_times = []
        for rep in range(GEN_REPS):
            if rep:
                shutil.rmtree(wl.in_dir)
            wl.in_dir = os.path.join(work, f"in{rep}")
            t0 = time.perf_counter()
            input_bytes = wl.generate(args.seed, wl.in_dir)
            gen_times.append(time.perf_counter() - t0)
        gen_s = statistics.median(gen_times)

        # warm-up: the checked first pass, then the workload's untimed
        # passes.  The JIT goes on compiling for dozens of passes, but its
        # threads' time is left out (CpuMeter), and the ops' own CPU time
        # changes little after the first pass or two.  setup_s is the CPU
        # time of everything up to here
        runner = Runner(spark, wl, rss, cpu, bool(args.trace))
        t0 = time.perf_counter()
        outputs = runner.first_pass()
        for _ in range(wl.warm_passes):
            runner.timed_pass("warm")
        warm_s = time.perf_counter() - t0
        setup_cpu_s = cpu.read() - setup_cpu0
        problems = wl.check(outputs)
        runner.failed += len(problems)
        for op, why in sorted(problems.items()):
            sys.stderr.write(f"perfbench: output check failed for {op}: {why}\n")

        heap = JvmHeap(spark)
        heap.reset_peak()
        passes = []
        jit0 = cpu.jit_s
        ticks0 = cpu_ticks()
        start = time.perf_counter()
        # at least MIN_PASSES passes, so that a run times the same passes at
        # any host load: on the 4-core box these take more than --seconds
        while len(passes) < MIN_PASSES or time.perf_counter() - start < args.seconds:
            passes.append(runner.timed_pass(len(passes)))
        ticks1 = cpu_ticks()
        jit_cpu_s = (cpu.jit_s - jit0) / len(passes)
        steal = (ticks1[2] - ticks0[2]) / max(1, ticks1[0] - ticks0[0])
        heap_peak_mb = heap.peak_mb()
        heap_live_mb, probes = None, {}
        if args.trace:
            heap_live_mb = heap.live_mb()
            # the probes' jobs belong to no timed pass
            runner._group("pb:probe")
            probes = layer_probes(spark, wl)
    finally:
        shutdown(spark)

    # a pass is the sum of each op's median over the timed passes: one slow
    # pass (a burst of load or a GC from outside the op) moves no op's figure
    op_s = {op.name: [p[op.name][0] + p[op.name][1] for p in passes if op.name in p]
            for op in runner.ops}
    op_cpu = {op.name: [p[op.name][2] for p in passes if op.name in p] for op in runner.ops}
    wall_s = sum(statistics.median(v) for v in op_s.values() if v)
    pass_cpu_s = sum(statistics.median(v) for v in op_cpu.values() if v)
    # the percentiles are over every op of every timed pass
    samples = [t for v in op_s.values() for t in v]
    cpu_samples = [t for v in op_cpu.values() for t in v]
    cpu_p90 = _pct(cpu_samples, 90)
    e2e = {
        "setup_s": (setup_cpu_s, "s"),
        "pass_cpu_s": (pass_cpu_s, "s"),
        "op_cpu_p50_s": (_pct(cpu_samples, 50), "s"),
        "op_cpu_p90_s": (cpu_p90, "s"),
        "input_mb_per_cpu_s": (input_bytes / 2**20 / pass_cpu_s, "MB/s"),
        "peak_rss_mb": (rss.total, "MB"),
    }
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "op_s": op_s, "op_cpu_s": op_cpu,
        "wall_s": wall_s, "op_p50_s": _pct(samples, 50), "op_p90_s": _pct(samples, 90),
        "op_samples": len(samples),
        "op_samples_above_cpu_p90": sum(t > cpu_p90 for t in cpu_samples),
        "heap_peak_mb": heap_peak_mb,
        "input_mb": input_bytes / 2**20, "failed_checks": problems,
        "env": env_stamp(cpus, load_before, steal),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "setup": {"boot_s": boot_s, "gen_s": gen_s, "warm_s": warm_s,
                  "wall_s": boot_s + gen_s + warm_s},
        "jit_cpu_s": jit_cpu_s,
    }
    sys.stderr.write("perfbench: " + json.dumps(info, sort_keys=True) + "\n")
    profile = None
    if args.trace:
        from perfbench.trace import layer_metrics

        layers, per_op = layer_metrics(
            os.path.join(work, "eventlog"), passes, cpus,
            {"session.boot_s": boot_s, "session.warm_s": warm_s, "inputs.gen_s": gen_s,
             "jvm.peak_rss_mb": rss.jvm, "python.peak_rss_mb": rss.python,
             "jvm.heap_peak_mb": heap_peak_mb, "jvm.heap_live_mb": heap_live_mb,
             "storage.retained_mb": runner.retained_mb, "jvm.jit_cpu_s": jit_cpu_s,
             **probes},
            ALL_OPS, PROBES,
        )
        metrics = layers
        profile = {**info, "layers": {k: v for k, (v, _) in layers.items()}, "per_op": per_op}
    else:
        metrics = e2e
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, profile


def layer_probes(spark, wl) -> dict[str, float]:
    """Traced-run probes of two imaging layers outside any op: the Arrow
    boundary (an identity ``map_blobs`` over every blob) and direct driver
    calls into ``kernels`` on one representative volume."""
    if wl.name != "imaging":
        return {}
    from imops_spark import kernels
    from imops_spark.operators.morphology import footprint_offsets, generate_binary_structure
    from imops_spark.tensor_io import map_blobs
    from perfbench.workloads import ZOOM

    def timed(fn, reps=3):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    blobs = wl.read(spark, "ct_blobs").unionByName(wl.read(spark, "mask_blobs"))
    ct, masks, _, _ = wl.volumes(wl.seed)
    a, m = ct[0], masks[0]
    offs = footprint_offsets(generate_binary_structure(3, 1))
    return {
        "tensor_io.boundary_s": timed(
            lambda: map_blobs(blobs, lambda x: x).write.format("noop").mode("overwrite").save()
        ),
        "kernels.zoom_s": timed(lambda: kernels.zoom_numpy(a, ZOOM, order=1)),
        "kernels.label_s": timed(lambda: kernels.label_numpy(m)),
        "kernels.dilation_s": timed(lambda: kernels.dilation_numpy(m, offs)),
    }


if __name__ == "__main__":
    main()
