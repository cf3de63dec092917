"""Self-tests of the benchmark itself, at the sf0.001 size (500 docs).

    python3 perfbench/selftest.py

Checks that the printed metric names and units match BENCHMARK.json,
that span self-time arithmetic is right, that the seed alone decides the
generated input, and that the output checks catch a perturbed output.
Exits non-zero if any check fails. Starts up to three Spark sessions,
one at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import traceback

import run  # noqa: E402  (puts the program and this directory on sys.path)
from inputs import Shape, generate
from tracing import Span, parse_metric, self_times, union_length

SMALL = Shape(docs=500, hours=2)


def scratch_dir() -> str:
    base = os.path.join(run.ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def test_span_arithmetic():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0
    assert self_times([1.0, 3.5, 3.0]) == [1.0, 2.5, -0.5]
    sp = Span("op", 10.0, 20.0)
    sp.stages = [
        {"start": 11.0, "end": 14.0}, {"start": 13.0, "end": 15.0},
        {"start": 18.0, "end": 25.0},
    ]
    assert sp.busy() == 6.0 and sp.driver_gap() == 4.0
    assert parse_metric("2.3 s") == 2.3
    assert parse_metric("75 ms") == 0.075
    assert parse_metric("5.5 KiB") == 5.5 * 1024
    assert parse_metric("1,500") == 1500
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.1 s (222 ms, 274 ms, 317 ms (stage 1.0: task 2))") == 1.1
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    samples = [float(i) for i in range(1, 21)]  # 20 samples: p50, 10 beyond
    assert run.tail(samples) == (10.0, "p50.0 of 20")


def test_seed_fingerprint():
    tmp = scratch_dir()
    try:
        shape = SMALL
        a = generate(shape, 7, os.path.join(tmp, "a"))
        b = generate(shape, 7, os.path.join(tmp, "b"))
        c = generate(shape, 8, os.path.join(tmp, "c"))
        assert a == b, (a, b)
        assert a != c, (a, c)
    finally:
        shutil.rmtree(tmp)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS, (e2e, run.E2E_UNITS)
    assert layers == run.LAYER_UNITS, (layers, run.LAYER_UNITS)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOAD_SPECS)
    run.WORKLOAD_SPECS["selftest_routed"] = (run.RoutedSinks, SMALL)
    try:
        for trace, want in ((False, e2e), (True, layers)):
            out = run.run_workload("selftest_routed", 1, 1.0, trace)["result"]
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (trace, got, want)
            assert out["correct"] and out["failed"] == 0, out
            assert all(isinstance(v["value"], (int, float))
                       for v in out["metrics"].values())
    finally:
        del run.WORKLOAD_SPECS["selftest_routed"]


def test_perturbed_output_is_caught():
    work = scratch_dir()
    try:
        with run.private_env(os.path.join(work, "tmp")):
            perturbation_checks(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def perturbation_checks(work: str) -> None:
    from vrl_spark import registry
    from tracing import Tracer
    from workloads import Ctx, compare

    data = os.path.join(work, "input")
    generate(SMALL, 3, data)
    spark = run.start_spark("local[2]")
    try:
        ctx = Ctx(spark, data, work, Tracer(spark, enabled=False))

        # curation checks are compare() against each oracle
        sql = registry.oracle_sql()["text_quality_classifier"]
        good = ctx.con().execute(sql).df()
        assert compare(good, ctx.con(), sql) is None
        bad = good.copy()
        col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
        bad.loc[0, col] += 1
        assert compare(bad, ctx.con(), sql), "perturbed value not caught"
        assert compare(good.iloc[1:], ctx.con(), sql), "dropped row not caught"

        routed = run.RoutedSinks(SMALL)
        routed.op(ctx)
        assert routed.check(ctx, None) == []
        out = routed.out_dir(ctx)
        agg_path = os.path.join(out, "aggregates")
        agg = spark.read.parquet(agg_path).toPandas()
        agg.loc[0, "total_bytes"] += 1
        spark.createDataFrame(agg).write.mode("overwrite").parquet(agg_path)
        problems = routed.check(ctx, None)
        assert [p for p in problems if p.startswith("aggregates")], problems

        parts = sorted(d for d in os.listdir(os.path.join(out, "routed"))
                       if d.startswith("part="))
        victim = os.path.join(out, "routed", parts[0])
        for name in os.listdir(victim):
            if name.endswith(".parquet"):
                os.remove(os.path.join(victim, name))
        problems = routed.check(ctx, None)
        assert [p for p in problems if p.startswith("verify")], problems
        assert [p for p in problems if p.startswith("route counts")], problems
    finally:
        run.stop_spark(spark)


def main() -> int:
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"PASS {name}", flush=True)
            except Exception:  # noqa: BLE001 - report every test
                failed += 1
                print(f"FAIL {name}\n{traceback.format_exc()}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
