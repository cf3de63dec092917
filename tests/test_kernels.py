"""Arrow kernels differential-tested against the JVM expressions they
replace, on hostile inputs: NULL and empty arrays, NaN/Inf, non-ASCII
and very long strings, widths off the 4-piece md5 boundary."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import classifier, dedup, similarity


# --- pair scoring (similarity._pair_math_udf) -------------------------

_PAIRS = [
    (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    (2, [float("nan"), 1.0], [1.0, 1.0]),
    (3, [float("inf"), 1.0], [1.0, 1.0]),
    (4, [1.0, 2.0], [float("-inf"), 0.0]),
    (5, [0.0, 0.0], [1.0, 1.0]),  # zero norm -> 0.0 sentinel
    (6, [], []),
    (7, None, [1.0, 2.0]),
    (8, [1.0, 2.0], [1.0]),  # mismatched lengths
]


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    return (math.isnan(a) and math.isnan(b)) or a == b


def test_pair_scores_match_jvm_fold_on_non_finite(spark):
    df = spark.createDataFrame(
        _PAIRS, "id int, a array<double>, b array<double>"
    )
    a, b = F.col("a"), F.col("b")
    # the JVM folds the Arrow kernel replaced, written out inline
    jvm_dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def jvm_norm(v):
        return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))

    den = jvm_norm(a) * jvm_norm(b)
    jvm_cos = F.when(den > 0, jvm_dot / den).otherwise(F.lit(0.0))
    rows = df.select(
        "id",
        jvm_dot.alias("jd"), similarity.batched_dot(a, b).alias("bd"),
        jvm_cos.alias("jc"), similarity.batched_cosine(a, b).alias("bc"),
    ).orderBy("id").collect()
    for r in rows:
        assert _same(r["jd"], r["bd"]), r
        if r["id"] != 7:  # the fold's guard maps a NULL norm to 0.0
            assert _same(r["jc"], r["bc"]), r
    by_id = {r["id"]: r for r in rows}
    for i in (2, 3, 4):  # NaN/Inf components score NaN, not NULL
        assert math.isnan(by_id[i]["bc"]), by_id[i]
    for i in (7, 8):  # NULL vector / length mismatch -> NULL
        assert by_id[i]["bd"] is None and by_id[i]["bc"] is None
    assert by_id[5]["bc"] == 0.0 and by_id[6]["bc"] == 0.0


# --- md5 minhash (dedup._minhash_md5_sig_udf) --------------------------

_SHINGLES = [
    (1, ["the quick brown", "quick brown fox", "brown fox jumps"]),
    (2, []),
    (3, None),
    (4, ["naïve café", "日本語 テキスト", "emoji 🎉 party"]),
    (5, ["x" * 10_000]),
    (6, ["same", "same", "other"]),
]


@pytest.mark.parametrize("num_hashes", [5, 7, 16])
def test_minhash_md5_batched_matches_fold(spark, num_hashes):
    """minhash_signature_md5_batched == the JVM fold minhash_signature,
    row for row, including NULL (NULL) and empty (NULL) shingle sets."""
    df = spark.createDataFrame(_SHINGLES, "id int, sh array<string>")
    rows = df.select(
        "id",
        dedup.minhash_signature(F.col("sh"), num_hashes).alias("fold"),
        dedup.minhash_signature_md5_batched(F.col("sh"), num_hashes)
        .alias("batched"),
    ).collect()
    assert len(rows) == len(_SHINGLES)
    for r in rows:
        assert r["fold"] == r["batched"], r["id"]
        if r["id"] in (2, 3):
            assert r["batched"] is None
        else:
            assert len(r["batched"]) == num_hashes


# --- md5 feature buckets (classifier._md5_buckets_udf) ----------------

_TEXTS = [
    (1, ""),
    (2, "   "),
    (3, "hello world hello"),
    (4, "🎉 party 🎉🎉 time"),
    (5, "日本語 の テキスト 中文 字符"),
    (6, "y" * 10_000 + " tail"),
    (7, "Mixed CASE Ünïcödé words"),
]


@pytest.mark.parametrize("num_buckets", [97, 128])
def test_md5_bucket_lanes_agree(spark, num_buckets):
    """featurize(engine="md5") (Arrow, hashing.md5_prefix60_batch) ==
    ngram_buckets(engine="md5") (JVM conv(substring(md5(g), 1, 15)))
    row for row: pins the Python twin to its Column form."""
    df = spark.createDataFrame(_TEXTS, "doc_id int, text string")
    arrow = {
        r["doc_id"]: list(r["bks"])
        for r in classifier.featurize(
            df, num_buckets=num_buckets, engine="md5"
        ).collect()
    }
    jvm = {
        r["doc_id"]: list(r["bks"])
        for r in df.select(
            "doc_id",
            classifier.ngram_buckets(
                F.col("text"), num_buckets, engine="md5"
            ).alias("bks"),
        ).collect()
    }
    assert arrow == jvm
    assert set(arrow) == {i for i, _ in _TEXTS}
    assert all(0 <= b < num_buckets for v in arrow.values() for b in v)
