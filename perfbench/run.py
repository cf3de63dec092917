"""The remap-route benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> \\
        --seconds <s> --trace <0|1>

One invocation is one workload run in a fresh driver process (fresh
JVM) at ``local[N]``, N = the CPUs this process may use. The benchmark
passes only ``master`` to ``session.get_spark``, so the program's own
session defaults apply. Load is a closed loop with one client: the next
op starts when the previous action returns.

A run generates its seeded input (untimed), starts the session and runs
one cold op (together: ``setup_s``) and the workload's untimed warm-up
ops, then runs warm ops for ``--seconds`` with ``--trace 0`` and prints
the end-to-end metrics; with ``--trace 1`` it alternates untraced and
traced warm ops instead, decomposes the op into layers and prints the
per-layer metrics. Either way it checks the
output against an independent DuckDB reference. The last stdout line
is the result; the line before it carries the details (input
fingerprint, sample counts, tail percentile, every layer metric).
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from inputs import Shape  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Ctx, CurationOps, RoutedSinks  # noqa: E402

DEFAULT_SEED = 1

# Sizes and reasons: DESIGN.md and BENCHMARK.json.
WORKLOAD_SPECS = {
    "routed_sinks": (RoutedSinks, Shape(docs=100_000, row_groups=32, hours=4)),
    "curation_ops": (CurationOps, Shape(docs=5000, row_groups=8)),
}

E2E_UNITS = {"setup_s": "s", "run_s.p50": "s", "docs_per_s": "docs/s"}
LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio", "spark.driver_gap_s": "s",
    "host.probe_s": "s", "trace.overhead_s": "s", "trace.residual_s": "s",
}

_PROBE_ITERS = 2_000_000


def host_probe() -> float:
    """Fixed single-thread loop (the idea of bench.steal_probe, shorter so
    it can follow every op): inflation means host CPU steal."""
    t0 = time.perf_counter()
    x = 0
    for i in range(_PROBE_ITERS):
        x += i
    return time.perf_counter() - t0


def steal_jiffies() -> int:
    """Host CPU time stolen from this VM so far, summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, by
    nearest rank; with ten or fewer samples, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], f"max of {n}"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n}"


def start_spark(master: str):
    from vrl_spark.session import get_spark

    return get_spark(master=master)


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the JVM's Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory of the gateway JVM plus the Python driver."""
    from pyspark import SparkContext

    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Run:
    """One workload run: counts attempts and failures, times ops."""

    def __init__(self, wl, ctx):
        self.wl, self.ctx = wl, ctx
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.probes: list[float] = []
        self.steal: list[float] = []

    def op(self, collect: bool = False):
        """One op; an exception counts as a failed op and is recorded."""
        self.attempted += 1
        stolen = steal_jiffies()
        t0 = time.perf_counter()
        result = None
        try:
            result = self.wl.op(self.ctx, collect=collect)
        except Exception:  # noqa: BLE001 - a failed op is data, not a crash
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3)[-600:])
        dt = time.perf_counter() - t0
        # share of the op's CPU capacity the host took (100 jiffies/s)
        self.steal.append(
            (steal_jiffies() - stolen) / 100 / (dt * os.cpu_count()))
        self.probes.append(host_probe())
        return dt, result


@contextlib.contextmanager
def private_env(tmp: str):
    """Keep every temporary file of this process, the JVM it launches and
    Spark's Python workers under ``tmp`` (py4j connection info, Spark's
    local dirs, the JVM's java.io.tmpdir), and let the workers import the
    program. Restores the environment on exit."""
    keys = ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "PYTHONPATH")
    saved = {k: os.environ.get(k) for k in keys}
    saved_tempdir = tempfile.tempdir
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
        # PerfDisableSharedMem: no hsperfdata file, which HotSpot puts
        # in /tmp whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, saved["PYTHONPATH"]) if p),
    )
    tempfile.tempdir = tmp
    try:
        yield
    finally:
        tempfile.tempdir = saved_tempdir
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def generate_inputs(shape: Shape, seed: int, out_dir: str) -> str:
    """Generate in a child process, so the generator's memory stays out of
    this process's ``ru_maxrss``; returns the input fingerprint."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"),
         json.dumps(dataclasses.asdict(shape)), str(seed), out_dir],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    return proc.stdout.strip()


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One run of workload ``name``; returns its details and its result."""
    # the program must be importable before anything else happens
    import vrl_spark.session  # noqa: F401

    cls, shape = WORKLOAD_SPECS[name]
    wl = cls(shape)
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    try:
        with private_env(os.path.join(work, "tmp")):
            m = measure(wl, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run, untraced, traced, layers = m["run"], m["untraced"], m["traced"], m["layers"]
    p50 = statistics.median(untraced)
    tail_s, tail_label = tail(untraced)
    e2e = {
        "setup_s": m["setup_s"],
        "run_s.p50": p50,
        "docs_per_s": wl.shape.docs / p50,
    }
    if trace:
        layers["session.start_s"] = m["start_s"]
        layers["session.peak_rss_mb"] = m["rss"]
        layers["host.probe_s"] = statistics.median(run.probes)
        layers["trace.overhead_s"] = statistics.median(traced) - p50
        if "accounted_s" in layers:
            # the layers are read from the last traced op
            layers["trace.residual_s"] = traced[-1] - layers["accounted_s"]
    detail = {
        "workload": name, "seed": seed, "input_fingerprint": m["fingerprint"],
        "docs": wl.shape.docs, "cores": m["ncpu"], "gen_s": m["gen_s"],
        "check_s": m["check_s"], "warm_samples": len(untraced), "run_s": untraced,
        "run_s.tail": tail_s, "run_s.tail_is": tail_label, "peak_rss_mb": m["rss"],
        "traced_run_s": traced, "host_probe_s": run.probes,
        "host_steal_frac": run.steal,
        "error_rate": run.failed / run.attempted, "errors": run.errors,
        "end_to_end": e2e, "layers": layers,
    }
    if trace:
        detail["spans"] = [
            {"name": sp.name, "group": sp.group, "parent": sp.parent,
             "start": sp.start, "wall_s": sp.wall, "jobs": len(sp.jobs),
             "busy_s": sp.busy() if sp.stages else None}
            for sp in m["spans"]
        ]
    metrics = layers if trace else e2e
    units = LAYER_UNITS if trace else E2E_UNITS
    return {
        "detail": detail,
        "result": {
            "correct": not run.failed,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()
            },
        },
    }


def measure(wl, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Generate the input, set up, warm up, measure, check, and (traced)
    decompose; stops the JVM before returning."""
    m = {"ncpu": len(os.sched_getaffinity(0)), "layers": {}}
    data_dir = os.path.join(work, "input")
    t0 = time.perf_counter()
    m["fingerprint"] = generate_inputs(wl.shape, seed, data_dir)
    m["gen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(f"local[{m['ncpu']}]")
    m["start_s"] = time.perf_counter() - t0
    ctx = Ctx(spark, data_dir, work, Tracer(spark, enabled=False))
    try:
        run = m["run"] = Run(wl, ctx)
        _, cold = run.op(collect=True)
        m["setup_s"] = time.perf_counter() - t0
        # Untimed warm-up: the first warm ops of a fresh JVM still run
        # slower while the JIT settles, and how much slower varies from
        # run to run.
        for _ in range(wl.warmup_ops):
            run.op()

        untraced, traced = m["untraced"], m["traced"] = [], []
        plain, tracer = ctx.tracer, Tracer(spark, enabled=True)
        start = time.perf_counter()
        while True:
            round_start = time.perf_counter()
            # traced and untraced ops alternate in ABBA order, traced
            # first, so warm-up drift inflates rather than hides overhead
            order = [tracer, plain] if len(traced) % 2 == 0 else [plain, tracer]
            for t in order if trace else [plain]:
                ctx.tracer = t
                (traced if t is tracer else untraced).append(run.op()[0])
            # stop before a round that would likely end past the window,
            # so a run's length does not jump by a whole op
            now = time.perf_counter()
            if (now - start) + (now - round_start) > seconds:
                break
        m["rss"] = peak_rss_mb()

        t0 = time.perf_counter()
        ctx.tracer = tracer
        mismatches = wl.check(ctx, cold)
        m["check_s"] = time.perf_counter() - t0
        if mismatches:
            run.failed = run.attempted
            run.errors += mismatches

        if trace and not run.failed:
            m["layers"].update(spark_layers(tracer))
            m["layers"].update(wl.layers(ctx, repeats=2))
        m["spans"] = tracer.spans
    finally:
        stop_spark(ctx.spark)
    return m


def spark_layers(tracer) -> dict:
    """Spark-runtime metrics of the traced ops (median over them)."""
    ops = [tracer.attach(s) for s in tracer.spans if s.name == "op"]

    def med(f):
        return statistics.median(f(s) for s in ops)

    return {
        "spark.jobs": med(lambda s: len(s.jobs)),
        "spark.stages": med(lambda s: len(s.stages)),
        "spark.tasks": med(lambda s: s.total("tasks")),
        "spark.executor_run_s": med(lambda s: s.total("run_s")),
        "spark.executor_cpu_s": med(lambda s: s.total("cpu_s")),
        "spark.shuffle_write_bytes": med(lambda s: s.total("shuffle_write_bytes")),
        "spark.spill_bytes": med(lambda s: s.total("spill_bytes")),
        "spark.task_skew": med(tracer.task_skew),
        "spark.driver_gap_s": med(lambda s: s.driver_gap()),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOAD_SPECS) + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        return run_all(args)
    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["detail"]), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process; the last line merges them with
    metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_SPECS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        lines = proc.stdout.strip().splitlines()
        print(lines[-2], flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
