"""Dataset assembly operators for training-data pipelines: stable
hash-based splits and token-budget document packing.

Both are pure JVM column arithmetic — no UDFs, no shuffles beyond
what the caller already has — and both are deterministic, so a re-run
or a resumed partition reproduces the identical assignment (the same
routed-row-equality property the north rule demands of the pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark import hashing as H


def hash_split(
    col: Column, weights: dict[str, float], salt: str = "split"
) -> Column:
    """Stable train/val/test assignment from a content/id hash.

    Each row maps to a bucket in [0, 1) via the first 8 hex chars of
    md5(salt|value); cumulative weight ranges pick the split. The
    assignment is a pure function of (salt, value): adding rows,
    repartitioning, re-running, or growing the corpus 100x never
    reassigns an existing row — the property random() splits lack.

    weights must sum to ~1.0 (validated at plan time).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    # 32-bit bucket in [0, 1): conv of 8 hex chars / 2^32
    frac = hash_frac(col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def split_table(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """df + a stable split column keyed on ``key_col``."""
    return df.withColumn(out_col, hash_split(F.col(key_col), weights, salt))


def pack_documents(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    part_col: Column | None = None,
    max_group_rows: int = 2_000_000,
) -> DataFrame:
    """Greedy sequential packing of documents into fixed token-budget
    groups (LLM pretraining sequence assembly): documents ordered by
    id within a partition key get a ``pack_id`` such that each pack's
    token sum stays <= budget (single over-budget documents get a pack
    of their own).

    Exact greedy first-fit-in-order semantics: doc d starts a new pack
    iff adding it would push the current pack's token sum over budget.
    Greedy packing carries sequential state (the current pack's fill),
    which no windowed cumsum closed form expresses exactly — so the
    fold runs as one Arrow-batched walk over the per-group doc list:
    one shuffle to group, one linear pass per group. (The previous
    JVM ``F.aggregate`` fold built its output via ``array_append``,
    which copies the accumulated array per element — O(rows^2) per
    group; the Arrow walk is O(rows) and integer-exact, so pack ids
    are unchanged.)

    ``part_col`` (default: a single global group) bounds the per-group
    list; at 100 TB pass a shard/date column so each group's doc list
    fits comfortably in a task — packing is then per-shard, which is
    what a sharded training-data layout wants anyway. Without
    ``part_col`` the whole input folds in ONE task, so that path is
    guarded: inputs over ``max_group_rows`` rows raise instead of
    OOMing an executor (auto-sharding is deliberately not done — pack
    boundaries would then depend on the shard count, breaking the
    deterministic greedy-in-id-order contract).

    ``id_col`` may be any orderable atomic type (long, string, ...);
    packing order is ascending by id within the group.
    """
    part = part_col if part_col is not None else F.lit(0)
    tok = F.col(token_col).cast("long")
    capped = F.least(tok, F.lit(budget))  # oversize docs: own pack
    df2 = df.withColumn("_tok_c", capped)
    grouped = (
        df2.select(part.alias("_part"), F.col(id_col).alias("_id"), "_tok_c")
        .groupBy("_part")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id"), F.col("_tok_c")))
            ).alias("docs")
        )
    )
    if part_col is None:
        # lazy guard, folded INTO the plan (no extra plan-build-time
        # count pass): the single global group raises in-task before
        # the fold materializes an unboundedly large list
        grouped = grouped.select(
            "_part",
            F.when(
                F.size("docs") > max_group_rows,
                F.raise_error(F.concat(
                    F.lit("pack_documents without part_col folds all "),
                    F.size("docs").cast("string"),
                    F.lit(f" rows in one task (> max_group_rows="
                          f"{max_group_rows}); pass part_col (e.g. a "
                          "shard/date column) to bound the group"),
                )).cast(
                    "array<struct<_id:"
                    f"{df.schema[id_col].dataType.simpleString()},"
                    "_tok_c:bigint>>"
                ),
            ).otherwise(F.col("docs")).alias("docs"),
        )
    # linear greedy walk: carry (pack_id, used); emit (doc, pack_id)
    id_dt = df.schema[id_col].dataType.simpleString()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(f"array<struct<_id:{id_dt},pid:bigint>>")
    def _walk(docs_ser):
        import pandas as pd

        out = []
        for docs in docs_ser:
            if docs is None:
                out.append(None)
                continue
            pid = 0
            used = 0
            rows = []
            for d in docs:
                tok = d["_tok_c"]
                if used + tok > budget:
                    pid += 1
                    used = tok
                else:
                    used += tok
                rows.append({"_id": d["_id"], "pid": pid})
            out.append(rows)
        return pd.Series(out)

    # the UDF is projected BEFORE the explode: a Generate whose
    # generator embeds a Python UDF is unevaluable (ExtractPythonUDFs
    # cannot lift it out of the generator expression). Marked
    # non-deterministic so the Generate's pushed-down non-empty filter
    # cannot duplicate the Arrow eval below itself (guide §4.4 — the
    # walk is pure, the marker only pins a single evaluation).
    _walk = _walk.asNondeterministic()
    packed = (
        grouped.select("_part", _walk(F.col("docs")).alias("_packs"))
        .select(F.explode("_packs").alias("e"))
        .select(
            F.col("e._id").alias(id_col), F.col("e.pid").alias("pack_id")
        )
    )
    return df.join(packed, id_col)


def hash_frac(col: Column, salt: str, offset: float = 0.0) -> Column:
    """[0,1) bucket from md5(salt|value) — shared with hash_split.
    ``offset=0.5`` shifts the 32-bit integer half a step before the
    divide, giving the strictly-interior (0,1) uniform dsir's Gumbel
    transform needs (neither log can hit 0 or -inf). The default 0.0
    keeps the oracle-pinned [0,1) expression byte-identical."""
    h = H.md5_hex_prefix(H.salted(col, salt), 8).cast("double")
    if offset:
        h = h + F.lit(float(offset))
    return h / F.lit(float(2**32))


def sample_per_stratum(
    df: DataFrame,
    strata_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "sample",
    prefilter: float | None = None,
) -> DataFrame:
    """Deterministic exact-n-per-stratum sample (eval-set construction:
    "100 docs per (lang, source)"). Each stratum keeps its n rows with
    the smallest md5(salt|id) — a pure function of (salt, id), so
    re-runs, repartitioning, and corpus growth never reshuffle the
    chosen set for unchanged ids.

    Returns the sampled rows plus ``sample_rank`` (1..n within the
    stratum, in hash order).

    Scale path: the exact semantics need a per-stratum rank — one hash
    shuffle on strata_cols plus a sort within each stratum. At 100 TB
    with huge strata, pass ``prefilter`` (e.g. 3.0): stratum sizes are
    counted first (map-side-combined agg, broadcast back) and only rows
    with hash fraction < prefilter*n/count rank at all, shrinking the
    sort input ~count/(prefilter*n)-fold. prefilter trades a second
    scan for a bounded sort; the kept set is identical whenever the
    nth-smallest hash lands under the cut (P(miss) ~ e^-n at 3x,
    negligible for n >= 20 — and a stratum smaller than n always
    keeps every row regardless, because the cut clamps to 1).
    """
    from pyspark.sql import Window

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    frac = hash_frac(F.col(id_col), salt)
    base = df
    if prefilter is not None:
        if prefilter <= 1.0:
            raise ValueError(f"prefilter must be > 1.0, got {prefilter}")
        counts = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("_cnt"))
        cut = F.least(F.lit(1.0), F.lit(prefilter * n) / F.col("_cnt"))
        base = (
            df.join(F.broadcast(counts), strata_cols, "left")
            .where(frac < cut)
            .drop("_cnt")
        )
    w = Window.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(
        frac.asc(), F.col(id_col).asc()
    )
    return (
        base.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n)
    )


def mixture_quotas(ratios: dict[str, float], total: int) -> dict[str, int]:
    """Integer per-class quotas from target mixture ratios + a global
    budget, by largest-remainder apportionment (exact: quotas sum to
    ``total``; ties on fractional part break by class name asc, so
    the allocation is deterministic).
    """
    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    s = sum(ratios.values())
    if abs(s - 1.0) > 1e-9:
        raise ValueError(f"mixture ratios must sum to 1.0, got {s}")
    import math

    # normalize so sum(exact) == total to float precision, then plain
    # floor: largest-remainder absorbs 59.9999-style shares naturally.
    # (An epsilon inside floor() can push shares UP across an integer
    # boundary at billion-row totals, driving leftover negative and a
    # negative slice below — so none is used.)
    exact = {c: total * (r / s) for c, r in ratios.items()}
    base = {c: math.floor(e) for c, e in exact.items()}
    leftover = total - sum(base.values())
    assert 0 <= leftover <= len(ratios), leftover
    by_frac = sorted(
        ratios, key=lambda c: (-(exact[c] - base[c]), c)
    )
    for c in by_frac[:leftover]:
        base[c] += 1
    return base


def mixture_resample(
    df: DataFrame,
    class_col: str,
    ratios: dict[str, float],
    total: int,
    id_col: str = "doc_id",
    salt: str = "mix",
    prefilter: float | None = None,
    out_col: str = "mix_rank",
) -> DataFrame:
    """Resample a corpus to TARGET domain-mixture ratios (e.g. 40%
    web / 30% code / 30% reference): each class keeps its quota =
    largest-remainder share of ``total``, choosing the rows with the
    smallest md5(salt|id) — the same deterministic smallest-hash-wins
    rule as :func:`sample_per_stratum`, so membership is a pure
    function of (salt, id, quota) and re-runs never reshuffle it.

    Classes absent from ``ratios`` are dropped; a class smaller than
    its quota keeps every row (the mixture is then best-effort —
    callers can read the achieved counts off the result). Returns the
    kept rows plus ``mix_rank`` (1..quota within the class, hash
    order).

    Scale path: class cardinality is tiny (a handful of domains), so
    the per-class rank window is a FEW-TASK funnel over the whole
    corpus unless bounded. Pass ``prefilter`` (e.g. 3.0) at scale:
    per-class counts (map-side-combined agg, broadcast back) cut the
    rank input to ~prefilter*quota rows per class — the sort cost
    then depends on the BUDGET, not the corpus. Same miss analysis
    as sample_per_stratum (P ~ e^-quota at 3x, negligible).
    """
    from pyspark.sql import Window

    quotas = mixture_quotas(ratios, total)
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        sorted(quotas.items()), schema=f"{class_col} string, _quota long"
    )
    frac = hash_frac(F.col(id_col), salt)
    base = df.join(F.broadcast(qdf), class_col, "inner")
    if prefilter is not None:
        if prefilter <= 1.0:
            raise ValueError(f"prefilter must be > 1.0, got {prefilter}")
        counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("_cnt"))
        cut = F.least(
            F.lit(1.0), F.lit(float(prefilter)) * F.col("_quota") / F.col("_cnt")
        )
        base = (
            base.join(F.broadcast(counts), class_col, "left")
            .where(frac < cut)
            .drop("_cnt")
        )
    w = Window.partitionBy(class_col).orderBy(frac.asc(), F.col(id_col).asc())
    return (
        base.withColumn(out_col, F.row_number().over(w).cast("long"))
        .where(F.col(out_col) <= F.col("_quota"))
        .drop("_quota")
    )


def mixture_upsample(
    df: DataFrame,
    class_col: str,
    factors: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "epoch",
    out_col: str = "epoch",
) -> DataFrame:
    """Epochs-with-repetition source weighting (the standard LLM
    data-mixture recipe): each row of class ``c`` appears
    ``floor(factors[c])`` times, plus one more when its salted hash
    fraction falls below the fractional part — so a class with factor
    3.25 averages exactly 3.25 epochs and WHICH rows get the extra
    epoch is a pure function of (salt, id), deterministic across
    re-runs and corpus growth. Classes absent from ``factors`` keep
    factor 1.0 (pass through once).

    Output adds ``epoch`` (0-based copy index). Map-only: a broadcast
    factor join + one ``explode(sequence(...))`` projection — the row
    multiplication happens AFTER any shuffle-free filtering upstream
    and never shuffles itself; downstream consumers (e.g.
    shard_assign keyed on (id, epoch)) see distinct rows per epoch.
    """
    for c, f in factors.items():
        if f < 0:
            raise ValueError(f"factor for {c!r} must be >= 0, got {f}")
    spark = df.sparkSession
    fdf = spark.createDataFrame(
        sorted(factors.items()), schema=f"{class_col} string, _f double"
    )
    frac = hash_frac(F.col(id_col), salt)
    f = F.coalesce(F.col("_f"), F.lit(1.0))
    n_copies = (
        F.floor(f) + F.when(frac < (f - F.floor(f)), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(F.broadcast(fdf), class_col, "left")
        .withColumn("_n", n_copies)
        .where(F.col("_n") > 0)
        .withColumn(out_col, F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_f", "_n")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-Res): each row gets key = u^(1/w) with u a
    salted md5 hash fraction standing in for the uniform draw, and the
    n largest keys win — inclusion probability proportional to weight,
    yet fully reproducible (a pure function of salt, id, weight).
    Used for quality-weighted corpus subsetting. Rows with
    non-positive weight are excluded.

    Returns the winning rows plus ``sample_rank`` (1..n by key).

    Scale: the key is a scalar projection; top-n lowers to
    TakeOrderedAndProject per-partition heaps (no global sort); the
    rank window runs on n rows.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    w = F.col(weight_col).cast("double")
    key = F.pow(hash_frac(F.col(id_col), salt), 1.0 / w)
    return top_n_ranked(
        df.where(w > 0).withColumn("_key", key), "_key", n, id_col
    ).drop("_key")


def top_n_ranked(
    df: DataFrame,
    key_col: str,
    n: int,
    id_col: str,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """The shared top-n-with-rank idiom (weighted_sample, dsir):
    n largest keys win, ties break to the smallest id, ``rank_col``
    is 1..n by (key desc, id asc). ``orderBy().limit(n)`` lowers to
    TakeOrderedAndProject per-partition heaps — no global sort — and
    the rank window runs on the n survivors only."""
    from pyspark.sql import Window

    ranked = df.orderBy(F.col(key_col).desc(), F.col(id_col).asc()).limit(n)
    win = Window.orderBy(F.col(key_col).desc(), F.col(id_col).asc())
    return ranked.withColumn(
        rank_col, F.row_number().over(win).cast("long")
    )
