"""Checkpoint / lineage / idempotent resume (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

Model (Iceberg-shaped, parquet-backed here):

- Work is chunked by a PARTITION KEY (for the weblog pipeline: the
  hour of warc_ts — the same key the sinks window on). A "run"
  processes a set of partitions.
- Each completed partition writes (a) its output under
  ``out/part=<k>`` and (b) one MANIFEST row: partition key, row/byte
  counts, stage metrics, content fingerprint. The manifest write
  happens AFTER the data write — a crashed run leaves data without a
  manifest row and the partition simply re-runs (data overwrite is
  idempotent: full re-write of that partition directory, the
  dynamic-partition-overwrite analogue of Iceberg's
  overwrite-by-filter).
- Resume = anti-join pending partitions against committed manifest
  keys: only unfinished partitions re-run.

At cluster scale the manifest is an Iceberg table and data writes are
``overwriteByFilter(part = k)``; the control flow is identical."""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vrl_spark import hashing as H


def lineage_fingerprint(*cols: Column, engine: str = "xxh") -> Column:
    """Per-row content fingerprint for the lineage manifest.

    ``xxh`` (default): ``F.xxhash64`` straight over the typed
    columns — JVM-native, no string casts, no concat; NULL vs ''
    stay distinct because the hash folds each value's type+null
    marker. The production engine at 100 TB.

    ``md5``: conv(md5-prefix) of the NULL-safe \\x1f-joined string
    forms (coalesce to \\x00 — concat_ws silently drops NULLs).
    Portable across engines, so the DuckDB oracle pins it."""
    H.check_family(engine)
    if engine == "xxh":
        return H.xxh64(*cols)
    parts = [F.coalesce(c.cast("string"), F.lit("\x00")) for c in cols]
    return H.md5_prefix60(F.concat_ws("\x1f", *parts))


# largest prime below 2^63: the modulus of the multiset fingerprint
_FP_PRIME = 9223372036854775783


def _lineage_aggs(payload: Column, fp_cols: list[Column], engine: str):
    """The ONE definition of the manifest metrics (shared by
    ``lineage_metrics``, ``CheckpointedRun.run_partition``, and the
    streaming fan-out — keep them from drifting).

    The fingerprint is a MODULAR SUM of per-row hashes (AdHash-style
    multiset hash): commutative, so partitioning/order never matter,
    and — unlike a bit_xor fold, where a duplicated row pair cancels
    to zero — every copy of a row moves the sum, so multisets that
    differ by duplicate pairs get different fingerprints (collision
    odds ~1/2^63 per comparison). The sum runs in decimal(38,0)
    (10^12 rows x 2^63 < 10^32, no overflow even under ANSI), then
    reduces mod the largest sub-2^63 prime back to a long."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.octet_length(payload)).cast("long").alias("n_bytes"),
        F.pmod(
            F.sum(
                lineage_fingerprint(*fp_cols, engine=engine)
                .cast("decimal(38,0)")
            ),
            F.lit(_FP_PRIME).cast("decimal(38,0)"),
        ).cast("long").alias("fingerprint"),
    ]


def _manifest_aggs(
    payload_col: str | None, fp_cols: list[str] | None, engine: str
):
    """Column-level agg assembly shared by run_partition and verify —
    ONE definition of which expressions feed the manifest."""
    full = _lineage_aggs(
        F.col(payload_col) if payload_col else F.lit(""),
        [F.col(c) for c in (fp_cols or [])] or [F.lit(0)],
        engine,
    )
    aggs = [full[0]]
    if payload_col is not None:
        aggs.append(full[1])
    if fp_cols:
        aggs.append(full[2])
    return aggs


def lineage_metrics(
    df: DataFrame,
    keys: list[str | Column],
    payload: Column,
    fp_cols: list[Column],
    engine: str = "xxh",
) -> DataFrame:
    """Per-partition lineage manifest row (north_rule: "per-partition
    lineage + metrics"): row count, payload bytes, and an
    order-independent content fingerprint (see ``_lineage_aggs`` for
    the multiset-hash construction). One map-side-combined shuffle on
    the partition keys; nothing here grows with corpus size except
    the scan."""
    return df.groupBy(*keys).agg(*_lineage_aggs(payload, fp_cols, engine))


@dataclass
class CheckpointedRun:
    out_dir: str
    partition_col: str = "part"

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.out_dir, "_manifest")

    def committed_keys(self, spark: SparkSession) -> set:
        """Committed = has a ``<key>.json`` manifest row. The glob
        filter keeps a torn ``.<key>.json.tmp`` from a crash between
        write and rename out of the read (a tmp is NOT a commit)."""
        if not os.path.isdir(self.manifest_dir):
            return set()  # no manifest yet — first run
        # a crash between makedirs and the first committed rename leaves
        # the dir with zero *.json files; spark.read.json would raise
        # "Unable to infer schema" — that state means "nothing committed"
        if not glob.glob(os.path.join(self.manifest_dir, "*.json")):
            return set()
        rows = (
            spark.read.option("pathGlobFilter", "*.json")
            .json(self.manifest_dir)
            .select("part_key")
            .collect()
        )
        return {r["part_key"] for r in rows}

    def pending(self, all_keys: list, spark: SparkSession) -> list:
        done = self.committed_keys(spark)
        return [k for k in all_keys if str(k) not in done]

    def run_partition(
        self, spark: SparkSession, df: DataFrame, key,
        payload_col: str | None = None,
        fp_cols: list[str] | None = None,
        fp_engine: str = "xxh",
    ) -> dict:
        """Process one partition idempotently: overwrite its data dir,
        then commit the manifest row with lineage metrics.

        ``payload_col``/``fp_cols`` opt into byte counts and the
        order-independent content fingerprint (one extra aggregation
        over the partition just written — reading back what landed on
        disk, not what the plan intended, is the point: the manifest
        certifies the output)."""
        part_df = df.where(F.col(self.partition_col) == key)
        data_dir = os.path.join(self.out_dir, f"{self.partition_col}={key}")
        t0 = time.time()
        part_df.write.mode("overwrite").parquet(data_dir)
        written = spark.read.parquet(data_dir)
        if payload_col is not None or fp_cols:
            aggs = _manifest_aggs(payload_col, fp_cols, fp_engine)
        else:
            aggs = [F.count(F.lit(1)).alias("n_rows")]
        stats = written.agg(*aggs).collect()[0].asDict()
        metrics = {
            "part_key": str(key),
            "rows": stats["n_rows"],
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if "n_bytes" in stats:
            metrics["bytes"] = stats["n_bytes"]
        if "fingerprint" in stats:
            metrics["fingerprint"] = stats["fingerprint"]
        os.makedirs(self.manifest_dir, exist_ok=True)
        # one json file per partition: commit is the atomic rename the
        # filesystem gives us; Iceberg swaps this for a snapshot commit
        path = os.path.join(self.manifest_dir, f"{key}.json")
        # dot-prefixed tmp: Spark's file index ignores hidden files, so
        # a crash between write and rename can never read as committed
        tmp = os.path.join(self.manifest_dir, f".{key}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, path)
        return metrics

    def run(
        self, spark: SparkSession, df: DataFrame, all_keys: list,
        payload_col: str | None = None,
        fp_cols: list[str] | None = None,
        fp_engine: str = "xxh",
    ) -> dict:
        """Process all pending partitions; returns run summary."""
        todo = self.pending(all_keys, spark)
        results = [
            self.run_partition(spark, df, k, payload_col, fp_cols, fp_engine)
            for k in todo
        ]
        return {
            "partitions_total": len(all_keys),
            "partitions_ran": len(todo),
            "partitions_skipped": len(all_keys) - len(todo),
            "rows_written": sum(r["rows"] for r in results),
        }


    def verify(
        self, spark: SparkSession,
        payload_col: str | None = None,
        fp_cols: list[str] | None = None,
        fp_engine: str = "xxh",
    ) -> list[dict]:
        """Re-certify every committed partition: recompute the lineage
        metrics from the data directories as they exist NOW and diff
        them against the committed manifest rows. Returns one dict per
        committed partition with ``ok`` plus the expected/actual
        values — the audit a resumed run (or a suspicious operator)
        uses to prove untouched partitions still hold the exact row
        multiset their manifest certified."""
        from pyspark.errors import AnalysisException

        results = []
        for key in sorted(self.committed_keys(spark)):
            with open(os.path.join(self.manifest_dir, f"{key}.json")) as f:
                committed = json.load(f)
            data_dir = os.path.join(
                self.out_dir, f"{self.partition_col}={key}"
            )
            row = {"part_key": key, "rows_expected": committed["rows"]}
            try:
                written = spark.read.parquet(data_dir)
                stats = written.agg(
                    *_manifest_aggs(payload_col, fp_cols, fp_engine)
                ).collect()[0].asDict()
            except AnalysisException as e:
                # a committed partition with no readable data dir IS
                # the tamper verify() exists to catch — report it,
                # keep auditing the rest
                row.update({"ok": False, "error": str(e)[:200]})
                results.append(row)
                continue
            row["rows_actual"] = stats["n_rows"]
            ok = stats["n_rows"] == committed["rows"]
            if payload_col is not None and "bytes" in committed:
                row["bytes_expected"] = committed["bytes"]
                row["bytes_actual"] = stats["n_bytes"]
                ok = ok and stats["n_bytes"] == committed["bytes"]
            if fp_cols and "fingerprint" in committed:
                row["fingerprint_expected"] = committed["fingerprint"]
                row["fingerprint_actual"] = stats["fingerprint"]
                ok = ok and stats["fingerprint"] == committed["fingerprint"]
            row["ok"] = ok
            results.append(row)
        return results


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "part=*")
    )
