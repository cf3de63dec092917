"""The benchmark's workloads: one op each, its output check, and the
traced decomposition that yields its per-layer metrics.

Every op drives the program only through public calls:
``plans.weblog.load_pages`` / ``parse_stage`` / ``enrich_stage`` /
``route_stage`` / ``aggregate_stage``, ``CheckpointedRun.run`` /
``verify`` and ``registry.queries()`` / ``registry.oracle_sql()``.
A noop sink forces full computation without a driver collect.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from inputs import Shape
from tracing import Tracer, self_times

FLAGSHIP_LAYERS = ["sources", "parse", "enrich", "route", "aggregate"]
# The classifier: small local tables per epoch, Arrow UDF scoring. Its
# ~2 s op lets a run take a median over several warm samples.
# dataset_curation, dedup_embedding_cosine, text_bm25_nll and
# graph_link_analysis are left out: each costs 4-35 s per op, too few
# samples per run to be steady within the time budget.
CURATION_QUERIES = ["text_quality_classifier"]
# run_pipeline.py's routed projection and lineage columns
ROUTED_COLS = [
    "doc_id", "url", "warc_ts", "route", "status_int", "bytes_int",
    "method", "level", "lang_norm", "lang_family", "error",
]
FP_COLS = ["doc_id", "url", "route", "status_int", "bytes_int", "error"]


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    tracer: Tracer

    def con(self):
        """DuckDB over the same generated table the program reads."""
        con = duckdb.connect()
        path = os.path.join(self.data_dir, "documents.parquet")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{path}/*.parquet')"
        )
        return con


def compare(actual: pd.DataFrame, con, sql: str) -> str | None:
    """Order-insensitive frame equality (the compare of
    tests/test_pipeline.py, with datetime units normalized); returns a
    description of the first mismatch, or None."""
    expected = con.execute(sql).df()
    cols = sorted(actual.columns)
    if sorted(expected.columns) != cols:
        return f"columns {cols} != {sorted(expected.columns)}"
    a = actual[cols].sort_values(cols).reset_index(drop=True)
    b = expected[cols].sort_values(cols).reset_index(drop=True)
    for frame in (a, b):
        for c in cols:
            if str(frame[c].dtype).startswith("datetime"):
                frame[c] = frame[c].astype("datetime64[ns]")
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    return None


# ---------------------------------------------------------------------
# flagship stage chain: load -> parse -> enrich -> route -> aggregate
# ---------------------------------------------------------------------

def flagship_chain(ctx: Ctx, upto: str = "aggregate"):
    """Build the flagship plan up to layer ``upto``; each public call is a
    span (plan construction only: the calls are lazy)."""
    from vrl_spark.plans import weblog

    spark, t = ctx.spark, ctx.tracer
    steps = [
        ("sources", lambda _: weblog.load_pages(spark, ctx.data_dir)),
        ("parse", weblog.parse_stage),
        ("enrich", lambda df: weblog.enrich_stage(spark, df)),
        ("route", weblog.route_stage),
        ("aggregate", weblog.aggregate_stage),
    ]
    df = None
    for layer, call in steps:
        with t.span(f"plan.{layer}"):
            df = call(df)
        if layer == upto:
            return df
    raise ValueError(upto)


def prefix_layers(ctx: Ctx, repeats: int) -> dict:
    """Prefix decomposition: load, +parse, +enrich, +route, full, each run
    ``repeats`` times, interleaved. A layer's ``self_s`` is the growth in
    stage-busy time from the previous prefix; the time with no stage
    running is ``prefix.driver_gap_s`` of the full prefix."""
    t = ctx.tracer
    runs = {layer: [] for layer in FLAGSHIP_LAYERS}
    for _ in range(repeats):
        for layer in FLAGSHIP_LAYERS:
            with t.span(f"prefix.{layer}") as sp:
                noop(flagship_chain(ctx, layer))
            runs[layer].append(t.attach(sp))
    plan_s = {
        layer: statistics.median(
            s.wall for s in t.spans if s.name == f"plan.{layer}"
        )
        for layer in FLAGSHIP_LAYERS
    }

    def med(layer, f):
        return statistics.median(f(sp) for sp in runs[layer])

    busy = [med(layer, lambda s: s.busy()) for layer in FLAGSHIP_LAYERS]
    selfs = dict(zip(FLAGSHIP_LAYERS, self_times(busy)))
    d = lambda layer, prev, f: med(layer, f) - med(prev, f)  # noqa: E731
    first = runs["sources"]
    out = {f"{layer}.self_s": selfs[layer] for layer in FLAGSHIP_LAYERS}
    out.update({
        "sources.scan_tasks": statistics.median(s.total("tasks") for s in first),
        "sources.input_bytes": statistics.median(s.sql["scan_bytes"] for s in first),
        "parse.cpu_s": d("parse", "sources", lambda s: s.total("cpu_s")),
        "parse.plan_s": plan_s["parse"],
        "enrich.jobs": d("enrich", "parse", lambda s: len(s.jobs)),
        "enrich.broadcast_collect_s": med("enrich", lambda s: s.sql["broadcast_collect_s"]),
        "aggregate.shuffle_write_bytes": d(
            "aggregate", "route", lambda s: s.total("shuffle_write_bytes")),
        "aggregate.spill_bytes": d(
            "aggregate", "route", lambda s: s.total("spill_bytes")),
        "prefix.driver_gap_s": med("aggregate", lambda s: s.driver_gap()),
        "prefix.wall_s": med("aggregate", lambda s: s.wall),
    })
    out.update(parse_outcomes(ctx))
    return out


def parse_outcomes(ctx: Ctx) -> dict:
    """Rows that took the primary grok, the logfmt fallback, or neither.
    An untimed aggregation over ``parse_stage``'s own output columns."""
    from vrl_spark.plans import weblog

    with ctx.tracer.span("parse_outcomes"):
        parsed = weblog.parse_stage(weblog.load_pages(ctx.spark, ctx.data_dir))
        r = parsed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_grok_ok").cast("long")).alias("grok"),
            F.sum(F.col("_logfmt_ok").cast("long")).alias("fallback"),
            F.count("error").alias("errors"),
        ).collect()[0]
    return {
        "parse.grok_hit_frac": r["grok"] / r["rows"],
        "parse.fallback_rows": r["fallback"],
        "parse.error_rows": r["errors"],
    }


def dead_letter_frac(agg: pd.DataFrame) -> float:
    routes = agg.groupby("route")["page_count"].sum()
    return float(routes.get("dead_letter", 0) / routes.sum())


# ---------------------------------------------------------------------
# routed_sinks: run_pipeline.py's shape, hour partitions checkpointed
# ---------------------------------------------------------------------

class RoutedSinks:
    """parse -> enrich -> route -> ``CheckpointedRun.run`` over the hour
    partitions (parquet write + lineage manifest), then the aggregates
    write and read-back, as ``run_pipeline.py`` does on a fresh run."""

    warmup_ops = 1

    def __init__(self, shape: Shape):
        self.shape = shape

    def out_dir(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work_dir, "routed_out")

    def op(self, ctx: Ctx, collect: bool = False):
        from vrl_spark.operators.checkpoint import CheckpointedRun
        from vrl_spark.plans import weblog

        t, spark, out = ctx.tracer, ctx.spark, self.out_dir(ctx)
        with t.span("op"):
            df = flagship_chain(ctx, "route")
            routed = df.select(
                *ROUTED_COLS,
                F.date_format("warc_ts", "yyyyMMddHH").alias("part"),
            )
            run = CheckpointedRun(os.path.join(out, "routed"))
            shutil.rmtree(run.manifest_dir, ignore_errors=True)
            with t.span("hours"):
                hours = [r["part"] for r in routed.select("part").distinct().collect()]
            with t.span("CheckpointedRun.run"):
                summary = run.run(
                    spark, routed, sorted(hours),
                    payload_col="url", fp_cols=FP_COLS,
                )
            with t.span("aggregates"):
                with t.span("plan.aggregate"):
                    agg = weblog.aggregate_stage(df)
                agg.write.mode("overwrite").parquet(os.path.join(out, "aggregates"))
                summary["aggregate_rows"] = spark.read.parquet(
                    os.path.join(out, "aggregates")).count()
        if summary["partitions_ran"] != summary["partitions_total"]:
            raise RuntimeError(f"partitions not all committed: {summary}")
        return summary

    def check(self, ctx: Ctx, result) -> list[str]:
        from vrl_spark.operators.checkpoint import CheckpointedRun
        from vrl_spark.plans import weblog

        spark, out, con = ctx.spark, self.out_dir(ctx), ctx.con()
        bad = []
        run = CheckpointedRun(os.path.join(out, "routed"))
        with ctx.tracer.span("CheckpointedRun.verify"):
            audit = run.verify(spark, payload_col="url", fp_cols=FP_COLS)
        failed = [r["part_key"] for r in audit if not r["ok"]]
        if failed or not audit:
            bad.append(f"verify: {len(failed)} of {len(audit)} partitions failed")
        written = spark.read.option("basePath", os.path.join(out, "routed")).parquet(
            os.path.join(out, "routed", "part=*"))
        counts = written.groupBy("route").count().toPandas()
        oracle = ("SELECT route, COUNT(*) AS count FROM ("
                  + weblog.routed_oracle_sql() + ") GROUP BY route")
        mismatch = compare(counts, con, oracle)
        if mismatch:
            bad.append(f"route counts: {mismatch}")
        agg = spark.read.parquet(os.path.join(out, "aggregates")).toPandas()
        mismatch = compare(agg, con, weblog.aggregate_oracle_sql())
        if mismatch:
            bad.append(f"aggregates: {mismatch}")
        self.agg = agg
        return bad

    def layers(self, ctx: Ctx, repeats: int) -> dict:
        """Per-layer metrics of the last traced op's spans, the lineage
        manifest it committed, and the files it wrote; then the flagship
        prefix decomposition and the local[1] scaling run over the same
        input. The scaling run restarts the session (``ctx.spark``)."""
        t, out = ctx.tracer, self.out_dir(ctx)
        op, ck = t.last("op"), t.last("CheckpointedRun.run")
        hours, aggs = t.last("hours"), t.last("aggregates")
        manifest = sorted(glob.glob(os.path.join(out, "routed", "_manifest", "*.json")))
        walls = []
        for path in manifest:
            with open(path) as f:
                walls.append(json.load(f)["wall_sec"])
        files = glob.glob(os.path.join(out, "routed", "part=*", "*.parquet"))
        res = {
            "hours.self_s": hours.busy(),
            "checkpoint.self_s": ck.busy(),
            "aggregates.self_s": aggs.busy(),
            "op.driver_gap_s": op.driver_gap(),
            "checkpoint.partitions": len(manifest),
            "checkpoint.partition_s.p50": statistics.median(walls),
            "checkpoint.jobs_per_partition": len(ck.jobs) / max(1, len(manifest)),
            "checkpoint.bytes_written": sum(os.path.getsize(f) for f in files),
            "checkpoint.files_written": len(files),
            "checkpoint.broadcast_collect_s": ck.sql["broadcast_collect_s"],
        }
        res["accounted_s"] = (
            res["hours.self_s"] + res["checkpoint.self_s"]
            + res["aggregates.self_s"] + res["op.driver_gap_s"]
        )
        res["route.dead_letter_frac"] = dead_letter_frac(self.agg)
        prefix = prefix_layers(ctx, repeats)
        res.update(scaling(ctx, prefix["prefix.wall_s"]))
        return {**prefix, **res}


def scaling(ctx: Ctx, wall_n: float) -> dict:
    """The full flagship chain (noop sink) at local[1] against its prefix
    time at local[N]: eff = docs/s(N) / (N x docs/s(1)). The session is
    restarted at local[1] in the same, already warm, JVM; the faster of
    two runs is kept, as the local[N] figure is a median of warm runs."""
    from vrl_spark.session import get_spark

    n = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.stop()
    ctx.spark = get_spark(master="local[1]")
    ctx.tracer = Tracer(ctx.spark, enabled=False)
    walls = []
    for _ in range(2):
        with ctx.tracer.span("scaling") as sp:
            noop(flagship_chain(ctx))
        walls.append(sp.wall)
    return {"scaling.eff_1to4": min(walls) / (n * wall_n),
            "scaling.local1_wall_s": min(walls)}


# ---------------------------------------------------------------------
# curation_ops: registry queries, noop sink each
# ---------------------------------------------------------------------

class CurationOps:
    """One op is one pass over the registry queries in CURATION_QUERIES."""

    # the op still speeds up by ~20% over its first few warm passes
    warmup_ops = 3

    def __init__(self, shape: Shape):
        self.shape = shape

    def op(self, ctx: Ctx, collect: bool = False):
        from vrl_spark import registry

        qs = registry.queries()
        results = {}
        with ctx.tracer.span("op"):
            for q in CURATION_QUERIES:
                with ctx.tracer.span(f"q.{q}"):
                    df = qs[q](ctx.spark, ctx.data_dir)
                    if collect:
                        results[q] = df.toPandas()
                    else:
                        noop(df)
        return results if collect else None

    def check(self, ctx: Ctx, result) -> list[str]:
        from vrl_spark import registry

        if result is None:
            return ["no output from the cold pass"]
        osql, con = registry.oracle_sql(), ctx.con()
        bad = []
        for q in CURATION_QUERIES:
            mismatch = compare(result[q], con, osql[q])
            if mismatch:
                bad.append(f"{q}: {mismatch}")
        return bad

    def layers(self, ctx: Ctx, repeats: int) -> dict:
        """Per-query spans of the last traced op."""
        t = ctx.tracer
        op = t.last("op")
        res = {"op.driver_gap_s": op.driver_gap()}
        for q in CURATION_QUERIES:
            sp = t.last(f"q.{q}")
            res.update({
                f"q.{q}.s": sp.wall,
                f"q.{q}.self_s": sp.busy(),
                f"q.{q}.jobs": len(sp.jobs),
                f"q.{q}.cpu_s": sp.total("cpu_s"),
                f"q.{q}.shuffle_bytes": sp.total("shuffle_write_bytes"),
                f"q.{q}.python_s": sp.sql["python_s"],
            })
        res["accounted_s"] = res["op.driver_gap_s"] + sum(
            res[f"q.{q}.self_s"] for q in CURATION_QUERIES)
        return res
