"""Trained text-quality classifier: hashed n-gram features + in-Spark
full-batch logistic regression (the CCNet/fastText-style model-based
quality gate next to the hand-rule ``textstats.gopher_rules``).

VRL itself ships no trainable model — this belongs to the LLM
training-data operator family the engine adds on top of the
reference's transform semantics. The design follows the published
fastText/CCNet recipe (hashed bag-of-ngrams -> linear model) with the
repo's loop discipline from ``clustering.kmeans``:

- Features are HASHED: each word unigram/bigram maps to one of
  ``num_buckets`` ids, so the model is a fixed-width weight vector and
  the feature space never needs a vocabulary shuffle. Engines mirror
  the minhash family: 'xxh' (seeded ``F.xxhash64``, JVM-fast, the
  default) and 'md5' (DuckDB-portable, what oracles pin).
- Feature VALUES are gram counts normalized by the doc's gram total.
  Linearity makes scoring a pure map-side fold: margin =
  sum_grams w[bucket(g)] / total + bias — NO per-doc bucket-count
  shuffle exists anywhere in scoring.
- Training is deterministic full-batch gradient descent on logistic
  loss (+L2): no sampling, no row-order dependence beyond float-sum
  reordering (rounded away by callers at 1e-6). One Spark job per
  epoch; the (D+1)-row weight frame is localCheckpoint'ed each epoch
  exactly like the kmeans centroid frame, and the per-doc margins ride
  a 1-row broadcast crossJoin of the weight array (the collect-free
  scalar pattern from ``operators/graph.py``).

Scale shape (the 100 TB contract): the labeled training set is
seed-sized by nature (you label thousands, not billions) — each epoch
is one pass over it with partial aggregation collapsing every task to
<= D+1 gradient cells before the wire. Scoring the full corpus is
map-only: broadcast D+1 weights, fold each doc's grams, zero shuffles,
zero Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark import hashing as H
from vrl_spark.functions.parse import bind


def _bucket(g: Column, num_buckets: int, engine: str, seed: str | None) -> Column:
    """Hash a gram string to a bucket id in [0, num_buckets)."""
    H.check_family(engine, seed)
    if engine == "md5":
        # the md5 hash is non-negative, so % is pmod
        return H.md5_prefix60(g) % num_buckets
    return F.pmod(H.xxh64(g, seed="qc" if seed is None else seed),
                  F.lit(num_buckets))


def _grams(text: Column) -> Column:
    """The classifier/DSIR feature grams for a text column: word
    unigrams + adjacent bigrams, whitespace-tokenized lowercase (the
    repo-wide tokenization), as one array<string>."""

    def body(toks: Column) -> Column:
        bigrams = F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bigrams)

    return bind(F.split(F.lower(F.trim(text)), r"\s+"), body)


def _md5_buckets_udf(num_buckets: int):
    """Arrow-batched md5 bucket hashing over a gram array —
    value-identical to the JVM expression lane ``_bucket`` (via
    ``hashing.md5_prefix60_batch``). The interpreted per-gram
    md5+conv transform was the dominant cost of every md5-lane
    featurize pass (guide §4.2)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bks(grams_ser: pd.Series) -> pd.Series:
        return pd.Series([
            None if grams is None
            else [h % num_buckets for h in H.md5_prefix60_batch(grams)]
            for grams in grams_ser
        ])

    return bks


def ngram_buckets(
    text: Column,
    num_buckets: int = 128,
    engine: str = "xxh",
    seed: str | None = None,
) -> Column:
    """array<long> of hashed feature ids for a text column (see
    :func:`_grams`). Strings never leave the expression — only long
    bucket ids reach any downstream shuffle."""
    return F.transform(
        _grams(text), lambda g: _bucket(g, num_buckets, engine, seed)
    )


def featurize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str | None = None,
    num_buckets: int = 128,
    engine: str = "xxh",
    seed: str | None = None,
) -> DataFrame:
    """(id, [y], bks array<long>, total double) — the compact per-doc
    feature form both training and scoring fold over. ``total`` is the
    gram count (>= 1 always: even empty text yields one '' unigram),
    so count-normalization never divides by zero.

    NULL-text rows are DROPPED (no features -> no score): scoring
    them via a coalesced '' would hand garbage docs a hash-collision-
    determined probability that can pass quality gates, and the
    DuckDB oracle lane (unnest over a NULL token list) emits no row
    for them either."""
    df = df.where(F.col(text_col).isNotNull())
    if engine == "md5" and seed is None:
        # Arrow-batched md5 lane (bit-identical bucket ids — see
        # _md5_buckets_udf); the gram array crosses a materialize
        # barrier so the UDF receives a plain attribute and the
        # tokenization runs once per row
        from vrl_spark.functions.parse import materialize

        base = materialize(df, _grams=_grams(F.col(text_col)))
        bks = _md5_buckets_udf(num_buckets)(F.col("_grams"))
    else:
        base = df
        bks = ngram_buckets(F.col(text_col), num_buckets, engine, seed)
    cols = [F.col(id_col), bks.alias("bks")]
    if label_col is not None:
        cols.insert(1, F.col(label_col).cast("double").alias("y"))
    out = base.select(*cols)
    return out.withColumn("total", F.size("bks").cast("double"))


def weight_array(
    weights: DataFrame, num_buckets: int | None = None
) -> DataFrame:
    """Fold the (bucket, weight) frame into ONE row holding the dense
    weight array indexed BY BUCKET ID (bias = the highest bucket id,
    in the last slot). Broadcast-crossJoined into per-doc scoring —
    the collect-free scalar pattern. Built by bucket-id lookup, not
    sort position, so a sparse frame (zero-weight FEATURE buckets
    missing) scores correctly with 0.0 holes instead of silently
    shifting every weight down. The bias row must be present — it is
    what sizes the array (the bucket-id space is not otherwise
    recoverable from a sparse frame) — and an EMPTY frame raises at
    evaluation rather than scoring every document NULL. Pass
    ``num_buckets`` to also ENFORCE the bucket space: a frame whose
    max bucket differs (bias row filtered away, or weights trained
    under a different width) raises instead of silently misreading
    the top feature weight as the bias."""
    bad = F.col("_mx").isNull()
    msg = "empty weights frame: nothing to score with"
    if num_buckets is not None:
        bad = bad | (F.col("_mx") != num_buckets)
        msg = (
            "empty weights frame or bucket-space mismatch: expected "
            f"bias at bucket {num_buckets} (bias row filtered out, or "
            "trained with a different num_buckets?)"
        )
    return weights.groupBy().agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("weight")
        ).alias("_m"),
        F.max("bucket").alias("_mx"),
    ).select(
        F.when(
            bad,
            F.raise_error(msg),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("_mx")),
                lambda i: F.coalesce(
                    F.try_element_at(F.col("_m"), i), F.lit(0.0)
                ),
            )
        ).alias("w_arr")
    )


def bucket_sum(bks: Column, w_arr: Column) -> Column:
    """Map-side fold of gram buckets through a dense weight array
    (shared by the classifier margin and dsir importance scoring).
    Feature lookups are hard-bounded BELOW the bias slot: a bucket id
    at/beyond the frame's bias row (mismatched num_buckets) reads 0.0
    — never the bias, never an ANSI INVALID_ARRAY_INDEX task
    failure."""
    return F.aggregate(
        bks,
        F.lit(0.0),
        lambda a, b: F.when(
            (b + 1).cast("int") < F.size(w_arr),
            a + F.coalesce(
                F.try_element_at(w_arr, (b + 1).cast("int")), F.lit(0.0)
            ),
        ).otherwise(a),
    )


def _margin(bks: Column, total: Column, w_arr: Column) -> Column:
    """Map-side margin: fold the gram buckets through the weight
    array, normalize by the gram total, add the bias (last slot)."""
    return bucket_sum(bks, w_arr) / total + F.element_at(w_arr, F.size(w_arr))


def train_logistic(
    feats: DataFrame,
    num_buckets: int = 128,
    epochs: int = 3,
    lr: float = 5.0,
    l2: float = 0.0,
    stats: dict | None = None,
    driver_rows_max: int = 100_000,
) -> DataFrame:
    """Full-batch logistic GD over a featurized frame (must carry
    ``y``). Returns the (bucket, weight) frame — ``num_buckets`` + 1
    rows, bias at bucket id ``num_buckets``.

    w <- w - lr * (sum_docs (sigmoid(margin) - y) * x / n  +  l2 * w)

    with x_b = cnt_b / total. Deterministic: zero init, no sampling;
    the only cross-run wobble is float-sum ordering (~1e-15), which
    callers round away. Eager: ONE Spark job per epoch — a single
    gradient aggregation whose result is the (<= D+1)-row gradient
    vector, pulled to the driver (the sanctioned vocab-sized model
    pull: its size is num_buckets regardless of corpus size). The
    weight vector lives driver-side between epochs and enters the
    per-doc margin as an array literal, so an epoch plans NO join,
    NO broadcast build, and NO checkpoint job. (The earlier shape
    computed the residual subtree TWICE per epoch — once under the
    feature-gradient groupBy and once under a separate bias
    aggregation — and spent two more jobs on the weight-frame
    broadcast + checkpoint; the merged aggregation folds the bias
    cell in as bucket id ``num_buckets``.)"""
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    spark = feats.sparkSession
    feats = feats.localCheckpoint()  # re-read every epoch + final score
    n_train = feats.count()
    if n_train == 0:
        raise ValueError("train_logistic needs a non-empty training set")
    if n_train <= driver_rows_max:
        # fastText-sized fast path: the labeled set is seed-sized by
        # the module contract (thousands of rows regardless of corpus
        # size), so pull the featurized frame ONCE and run every GD
        # epoch vectorized on the driver — a distributed epoch costs
        # a full plan-compile + job (~0.5 s) to aggregate a few
        # hundred gradient cells. Accumulation order is kept
        # fold-identical: np.add.reduceat / np.add.at accumulate
        # strictly in-order (not pairwise), so margins match the JVM
        # per-doc fold double-for-double and the gradient sums stay
        # inside the same 1e-15 reorder wobble class as before.
        # Corpora labeled beyond ``driver_rows_max`` take the
        # distributed epoch loop below.
        return _train_logistic_driver(
            spark, feats, n_train, num_buckets, epochs, lr, l2, stats
        )
    w = [0.0] * (num_buckets + 1)
    for _ in range(epochs):
        # the epoch's weights enter as a 1-row LOCAL relation: its
        # broadcast builds driver-side with no Spark job, and —
        # unlike a literal array, whose changing values would force a
        # fresh whole-stage-codegen compile every epoch — the
        # generated code is identical across epochs, so the codegen
        # cache hits and an epoch pays only its single gradient job
        warr = spark.createDataFrame([(w,)], "w_arr array<double>")
        resid = feats.crossJoin(F.broadcast(warr)).select(
            "bks", "total",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(
                    -_margin(F.col("bks"), F.col("total"), F.col("w_arr"))
                ))
                - F.col("y")
            ).alias("r"),
        )
        # gradient at gram grain: each gram contributes resid/total to
        # its bucket, plus one bias cell (bucket = num_buckets) worth
        # resid per doc; partial aggregation collapses every task to
        # <= D+1 cells before the wire
        grad_rows = resid.select(
            F.explode(
                F.concat(
                    F.col("bks"),
                    F.array(F.lit(num_buckets).cast("long")),
                )
            ).alias("bucket"),
            F.col("r"),
            F.col("total"),
        ).select(
            "bucket",
            F.when(
                F.col("bucket") == num_buckets, F.col("r")
            ).otherwise(F.col("r") / F.col("total")).alias("g"),
        ).groupBy("bucket").agg((F.sum("g") / n_train).alias("g")).collect()
        for row in grad_rows:
            b = int(row["bucket"])
            # L2 shrinks feature weights only — never the bias row
            decay = 0.0 if b == num_buckets else l2 * w[b]
            w[b] = w[b] - lr * (row["g"] + decay)
        # buckets with zero gram mass this epoch still decay under L2
        if l2:
            seen = {int(row["bucket"]) for row in grad_rows}
            for b in range(num_buckets):
                if b not in seen:
                    w[b] = w[b] - lr * (l2 * w[b])
    if stats is not None:
        stats["epochs"] = epochs
        stats["n_train"] = n_train
    return spark.createDataFrame(
        [(b, wv) for b, wv in enumerate(w)], "bucket long, weight double"
    )


def _train_logistic_driver(
    spark, feats, n_train: int, num_buckets: int, epochs: int,
    lr: float, l2: float, stats: dict | None,
) -> DataFrame:
    """Driver-side vectorized epochs over the collected seed-sized
    feature frame (see train_logistic's fast-path note)."""
    import numpy as np

    pdf = feats.select("y", "bks", "total").toPandas()
    lens = np.fromiter((len(b) for b in pdf["bks"]), dtype=np.int64,
                       count=len(pdf))
    if (lens == 0).any():
        # featurize guarantees total >= 1 ('' still yields one
        # unigram); a foreign frame without that invariant would break
        # the reduceat segment math — refuse rather than miscompute
        raise ValueError(
            "train_logistic: empty bks array (featurize contract "
            "guarantees >= 1 gram per row)"
        )
    flat = np.concatenate([np.asarray(b, dtype=np.int64)
                           for b in pdf["bks"]])
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    totals = pdf["total"].to_numpy(dtype=np.float64)
    ys = pdf["y"].to_numpy(dtype=np.float64)
    bias_idx = np.full(len(lens), num_buckets, dtype=np.int64)
    # out-of-space bucket ids read 0.0 (bucket_sum's hard bound below
    # the bias slot); mask them out of gather/scatter entirely
    valid = flat < num_buckets
    w = np.zeros(num_buckets + 1, dtype=np.float64)
    for _ in range(epochs):
        gathered = np.where(valid, w[np.minimum(flat, num_buckets)], 0.0)
        sums = np.add.reduceat(gathered, starts)
        margins = sums / totals + w[num_buckets]
        r = 1.0 / (1.0 + np.exp(-margins)) - ys
        grad = np.zeros(num_buckets + 1, dtype=np.float64)
        np.add.at(grad, flat[valid],
                  np.repeat(r / totals, lens)[valid])
        np.add.at(grad, bias_idx, r)
        g = grad / n_train
        w[:num_buckets] -= lr * (g[:num_buckets] + l2 * w[:num_buckets])
        w[num_buckets] -= lr * g[num_buckets]
    if stats is not None:
        stats["epochs"] = epochs
        stats["n_train"] = n_train
    return spark.createDataFrame(
        [(b, float(wv)) for b, wv in enumerate(w)],
        "bucket long, weight double",
    )


def score(
    feats: DataFrame,
    weights: DataFrame,
    out_col: str = "prob",
    num_buckets: int | None = None,
) -> DataFrame:
    """feats + sigmoid quality probability. Map-only: one 1-row
    broadcast crossJoin of the weight array, then a per-doc JVM fold —
    no shuffle, no Python. Pass ``num_buckets`` (the width the feats
    were hashed with) to fail loudly on a weights frame from a
    different bucket space instead of scoring through 0.0 holes."""
    warr = weight_array(weights, num_buckets)
    return feats.crossJoin(F.broadcast(warr)).withColumn(
        out_col,
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-_margin(F.col("bks"), F.col("total"), F.col("w_arr")))),
    ).drop("w_arr")


def quality_classifier(
    df: DataFrame,
    labeled: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    num_buckets: int = 128,
    epochs: int = 3,
    lr: float = 5.0,
    l2: float = 0.0,
    engine: str = "xxh",
    seed: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Train on ``labeled`` (text + 0/1 label), score every row of
    ``df``. Returns (id_col, prob). The trained (bucket, weight) frame
    is exposed through ``stats['weights']``."""
    tr = featurize(labeled, text_col, id_col, label_col, num_buckets, engine, seed)
    weights = train_logistic(tr, num_buckets, epochs, lr, l2, stats)
    if stats is not None:
        stats["weights"] = weights
    sc = featurize(df, text_col, id_col, None, num_buckets, engine, seed)
    return score(sc, weights, num_buckets=num_buckets).select(id_col, "prob")
