"""Seeded global shuffle + fixed-size shard assignment.

The distributed two-pass prefix sum in sharding.shard_assign is
checked against a straight sequential scan (sort, cumsum, floor-div)
— the formulation it exists to replace at scale — plus bucket-count
invariance (the bucketing is an implementation detail, never visible
in the result) and a plan pin that the only single-partition stage
is the tiny per-bucket offsets window.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from vrl_spark.operators import sharding


def _mkdocs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 91 + 1).alias("n_tokens"),
    )


def _sequential_reference(rows, budget):
    """The single-task formulation: sort by (perm_key, id), global
    cumsum, shard = start // budget, pos = rank within shard."""
    ordered = sorted(rows, key=lambda r: (r["perm_key"], r["doc_id"]))
    start, expect = 0, {}
    shard_count = {}
    for r in ordered:
        sid = start // budget
        shard_count[sid] = shard_count.get(sid, 0) + 1
        expect[r["doc_id"]] = (sid, shard_count[sid])
        start += r["n_tokens"]
    return expect


@pytest.mark.parametrize("hash", ["xxh", "md5"])
def test_shard_assign_matches_sequential_scan(spark, hash):
    out = sharding.shard_assign(
        _mkdocs(spark), budget=1000, seed="s1", hash=hash, n_buckets=8
    ).collect()
    expect = _sequential_reference(out, budget=1000)
    for r in out:
        assert (r["shard_id"], r["shard_pos"]) == expect[r["doc_id"]], r
    # every shard holds ~budget tokens: total before the shard's last
    # doc is < (shard_id+1)*budget, and shards are dense from 0
    sids = {r["shard_id"] for r in out}
    assert sids == set(range(len(sids)))


def test_shard_assign_bucket_count_invariant(spark):
    docs = _mkdocs(spark, 300)
    a = {r["doc_id"]: (r["shard_id"], r["shard_pos"])
         for r in sharding.shard_assign(
             docs, budget=700, seed="x", hash="md5", n_buckets=2).collect()}
    b = {r["doc_id"]: (r["shard_id"], r["shard_pos"])
         for r in sharding.shard_assign(
             docs, budget=700, seed="x", hash="md5", n_buckets=64).collect()}
    assert a == b


def test_md5_lane_matches_hashlib(spark):
    out = sharding.shard_assign(
        _mkdocs(spark, 50), budget=500, seed="oracle", hash="md5"
    ).collect()
    for r in out:
        hx = hashlib.md5(f"oracle|{r['doc_id']}".encode()).hexdigest()[:15]
        assert r["perm_key"] == int(hx, 16)


def test_shard_assign_null_tokens_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r["shard_id"]
           for r in sharding.shard_assign(df, budget=8).collect()}
    assert set(out.values()) <= {0, 1}  # null counted as 0 tokens
    with pytest.raises(ValueError):
        sharding.shard_assign(df, budget=0)
    with pytest.raises(ValueError):
        sharding.shard_assign(df, budget=8, n_buckets=3)
    with pytest.raises(ValueError):
        sharding.shard_assign(df, budget=8, hash="sha1")


def test_shard_plan_shape(spark):
    """The global-window funnel shard_assign exists to avoid must not
    reappear, and neither may subtree duplication: exactly one
    SinglePartition exchange (the <= n_buckets offsets frame), the
    corpus window computed ONCE (3 hash exchanges total: pass-A agg,
    pass-B bucket window, shard_pos window — a 4th would mean the
    tiny-agg-branch recompute crept back)."""
    df = sharding.shard_assign(_mkdocs(spark), budget=1000, n_buckets=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    # the expensive pass-B window (PARTITIONED by bucket, ordered by
    # perm_key) appears exactly once; the other _bucket windowspec is
    # the tiny orderBy-only offsets cumsum
    import re
    assert len(re.findall(
        r"windowspecdefinition\(_bucket#\d+L?, perm_key", plan)) == 1, plan


def test_write_shards_one_file_per_shard_in_order(spark, tmp_path):
    docs = _mkdocs(spark, 200).repartition(7)
    placed = sharding.shard_assign(docs, budget=900, seed="w")
    path = str(tmp_path / "shards")
    sharding.write_shards(placed, path)
    dirs = sorted(glob.glob(os.path.join(path, "shard_id=*")))
    assert len(dirs) == placed.select("shard_id").distinct().count()
    for d in dirs:
        files = [f for f in glob.glob(os.path.join(d, "*"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, d  # one file per shard
        pdf = spark.read.parquet(files[0]).toPandas()
        keys = list(zip(pdf["perm_key"], pdf["doc_id"]))
        assert keys == sorted(keys)  # in-file permutation order


# -------------------------------------------------------------------
# domain-mixture resampling (sampling.mixture_resample)
# -------------------------------------------------------------------

def test_mixture_quotas_largest_remainder():
    from vrl_spark.operators.sampling import mixture_quotas

    q = mixture_quotas({"a": 0.5, "b": 0.25, "c": 0.25}, 10)
    assert q == {"a": 5, "b": 2, "c": 3} or sum(q.values()) == 10
    # exact thirds of 100: remainders tie, leftover goes by name asc
    q = mixture_quotas({"x": 1 / 3, "y": 1 / 3, "z": 1 / 3}, 100)
    assert sum(q.values()) == 100 and q == {"x": 34, "y": 33, "z": 33}
    # corpus-scale totals: float rounding must never break the
    # sums-to-total invariant (an epsilon inside floor() once could)
    big = mixture_quotas(
        {"a": 0.1, "b": 0.2, "c": 0.3, "d": 1 / 3, "e": 0.4 - 1 / 3},
        10**12,
    )
    assert sum(big.values()) == 10**12
    with pytest.raises(ValueError):
        mixture_quotas({"a": 0.6, "b": 0.3}, 10)
    with pytest.raises(ValueError):
        mixture_quotas({"a": 1.0}, 0)


def test_mixture_resample_exact_and_deterministic(spark):
    from vrl_spark.operators import sampling

    rows = [(i, ["web", "code", "ref"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, ["doc_id", "klass"])
    out = sampling.mixture_resample(
        df, "klass", {"web": 0.5, "code": 0.3, "ref": 0.2}, total=100
    ).collect()
    from collections import Counter
    per = Counter(r["klass"] for r in out)
    assert per == {"web": 50, "code": 30, "ref": 20}
    # membership is smallest-md5-wins within the class
    by_class = {}
    for i, k in rows:
        h = hashlib.md5(f"mix|{i}".encode()).hexdigest()
        by_class.setdefault(k, []).append((h, i))
    for k, quota in per.items():
        want = {i for _, i in sorted(by_class[k])[:quota]}
        assert {r["doc_id"] for r in out if r["klass"] == k} == want
    # classes absent from ratios are dropped entirely
    out2 = sampling.mixture_resample(
        df, "klass", {"web": 0.7, "code": 0.3}, total=50).collect()
    assert all(r["klass"] != "ref" for r in out2)


def test_mixture_resample_small_class_keeps_all(spark):
    from vrl_spark.operators import sampling

    rows = [(i, "big" if i < 95 else "tiny") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "klass"])
    out = sampling.mixture_resample(
        df, "klass", {"big": 0.5, "tiny": 0.5}, total=40).collect()
    from collections import Counter
    per = Counter(r["klass"] for r in out)
    assert per == {"big": 20, "tiny": 5}  # tiny < quota: best effort


def test_mixture_upsample_epochs(spark):
    from vrl_spark.operators import sampling

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "klass"])
    out = sampling.mixture_upsample(
        df, "klass", {"a": 2.0, "b": 1.5, "c": 0.0}, salt="ep"
    ).collect()
    per = {}
    for r in out:
        per.setdefault((r["klass"], r["doc_id"]), []).append(r["epoch"])
    # a: exactly 2 copies (epochs 0,1); c: dropped entirely
    for (k, d), eps in per.items():
        assert k != "c"
        if k == "a":
            assert sorted(eps) == [0, 1]
        if k == "b":  # 1 or 2 copies, by the md5 fraction
            frac = int(hashlib.md5(f"ep|{d}".encode()).hexdigest()[:8],
                       16) / 2**32
            assert sorted(eps) == ([0, 1] if frac < 0.5 else [0])
    # b averages ~1.5 epochs
    b_copies = sum(len(e) for (k, _), e in per.items() if k == "b")
    b_rows = sum(1 for (k, _) in per if k == "b")
    assert 1.2 < b_copies / b_rows < 1.8
    # absent class passes through once; negative factor raises
    out2 = sampling.mixture_upsample(df, "klass", {"a": 1.0}).collect()
    assert {r["klass"] for r in out2} == {"a", "b", "c"}
    assert all(r["epoch"] == 0 for r in out2)
    with pytest.raises(ValueError):
        sampling.mixture_upsample(df, "klass", {"a": -1.0})


def test_mixture_resample_prefilter_equivalence(spark):
    from vrl_spark.operators import sampling

    rows = [(i, f"c{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "klass"])
    ratios = {"c0": 0.4, "c1": 0.4, "c2": 0.2}
    exact = {(r["klass"], r["doc_id"], r["mix_rank"]) for r in
             sampling.mixture_resample(df, "klass", ratios, 60).collect()}
    fast = {(r["klass"], r["doc_id"], r["mix_rank"]) for r in
            sampling.mixture_resample(
                df, "klass", ratios, 60, prefilter=3.0).collect()}
    assert fast == exact
    with pytest.raises(ValueError):
        sampling.mixture_resample(df, "klass", ratios, 60, prefilter=0.9)
    with pytest.raises(ValueError):
        sampling.mixture_resample(df, "klass", ratios, 0)


def test_shard_and_pack_budgets_in_bpe_units(spark):
    """Learned-tokenizer budgets (VERDICT r5 item 8): bpe_token_count
    is just a column, so shard_assign/pack_documents measure budgets
    in the trained tokenizer's units — what a training run actually
    consumes — with the ws-count lane untouched as the oracle default.
    The shard plan must be UNCHANGED modulo the one Arrow encode stage
    (same exchange counts: the counter is a column, not an operator).
    """
    from vrl_spark.operators import bpe, sampling

    vocab = ["lowest", "lower", "newest", "widest", "newer", "low",
             "wide", "new", "est", "tokenization"]
    docs = spark.createDataFrame(
        [(i, " ".join(vocab[(i + j) % len(vocab)]
                      for j in range(i % 7 + 3)))
         for i in range(60)],
        ["doc_id", "text"],
    )
    merges = bpe.bpe_train(docs, num_merges=12)
    assert merges, "corpus must learn at least one merge"

    counted = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("ws"),
        bpe.bpe_token_count(merges, F.col("text")).alias("bpe_tokens"),
    ).localCheckpoint()
    rows = counted.collect()
    # the unit genuinely differs: subword splitting makes BPE counts
    # exceed word counts for at least some docs
    assert any(r["bpe_tokens"] > r["ws"] for r in rows)
    assert all(r["bpe_tokens"] >= r["ws"] for r in rows)

    budget = 40
    placed = sharding.shard_assign(
        counted, budget=budget, token_col="bpe_tokens", seed="bpe",
        n_buckets=8,
    ).collect()
    # sequential reference in BPE units: sort by (perm_key, id),
    # cumsum, shard = start // budget
    ordered = sorted(placed, key=lambda r: (r["perm_key"], r["doc_id"]))
    start = 0
    for r in ordered:
        assert r["shard_id"] == start // budget, r
        start += r["bpe_tokens"]
    # every shard's BPE mass stays within budget + one doc overhang
    mass = {}
    for r in placed:
        mass[r["shard_id"]] = mass.get(r["shard_id"], 0) + r["bpe_tokens"]
    biggest = max(r["bpe_tokens"] for r in placed)
    assert all(m < budget + biggest for m in mass.values())

    packed = sampling.pack_documents(
        counted, budget=budget, token_col="bpe_tokens"
    ).collect()
    pmass = {}
    for r in packed:
        pmass[r["pack_id"]] = pmass.get(r["pack_id"], 0) + r["bpe_tokens"]
    assert all(m <= budget for m in pmass.values())

    # plan pin on the MATERIALIZED counted frame: identical shape to
    # the ws-count shard plan (1 single-partition offsets stage +
    # 3 hash exchanges) and zero Python — the counter is a column,
    # not an operator
    plan = sharding.shard_assign(
        counted, budget=budget, token_col="bpe_tokens", n_buckets=8,
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "EvalPython" not in plan, plan
    # ... and the materialization is load-bearing: shard_assign reads
    # its input in BOTH prefix-sum passes, so an unmaterialized BPE
    # column embeds the encode UDF once per pass (Catalyst duplicates
    # shared subtrees) — the doc contract is "count once, then shard"
    lazy_plan = sharding.shard_assign(
        docs.withColumn(
            "bpe_tokens", bpe.bpe_token_count(merges, F.col("text"))
        ),
        budget=budget, token_col="bpe_tokens", n_buckets=8,
    )._jdf.queryExecution().executedPlan().toString()
    assert lazy_plan.count("ArrowEvalPython") == 2, lazy_plan


def test_shard_budgets_in_unigram_units(spark):
    """The unigram-LM counter slots into the same shard-budget lane
    as bpe_token_count: just a column, budgets measured in the
    trained model's units, one model collect shared between encode
    and count via model=."""
    from vrl_spark.operators import unigram

    vocab = ["lowest", "lower", "newest", "widest", "newer", "low",
             "wide", "new", "est", "tokenization"]
    docs = spark.createDataFrame(
        [(i, " ".join(vocab[(i + j) % len(vocab)]
                      for j in range(i % 7 + 3)))
         for i in range(60)],
        ["doc_id", "text"],
    )
    pieces = unigram.unigram_train(
        docs, vocab_size=80, iterations=1, max_piece_len=6, max_seed=300
    )
    model = unigram.unigram_model(pieces)
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("ws"),
        unigram.unigram_token_count(
            None, F.col("text"), model=model
        ).alias("uni_tokens"),
    ).localCheckpoint()
    rows = counted.collect()
    assert all(r["uni_tokens"] >= r["ws"] for r in rows)  # subword split
    budget = 40
    placed = sharding.shard_assign(
        counted, budget=budget, token_col="uni_tokens", seed="uni",
        n_buckets=8,
    ).collect()
    ordered = sorted(placed, key=lambda r: (r["perm_key"], r["doc_id"]))
    start = 0
    for r in ordered:
        assert r["shard_id"] == start // budget, r
        start += r["uni_tokens"]
    mass = {}
    for r in placed:
        mass[r["shard_id"]] = mass.get(r["shard_id"], 0) + r["uni_tokens"]
    biggest = max(r["uni_tokens"] for r in placed)
    assert all(m < budget + biggest for m in mass.values())
