"""Property-based tests (SURVEY §5 level 3 — the reference quickchecks
path insert/get/remove roundtrips, src/value/value.rs:280-306).

Each hypothesis example packs a BATCH of values into one DataFrame
pass to keep Spark-job count low."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vrl_spark.functions import codec, collections as C, misc, strings
from vrl_spark.functions import parse as P

SETTINGS = dict(max_examples=15, deadline=None)

safe_key = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
)
safe_val = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .:/-", min_size=0, max_size=20
)
any_text = st.text(min_size=0, max_size=50)


@settings(**SETTINGS)
@given(st.dictionaries(safe_key, safe_val, min_size=1, max_size=6))
def test_logfmt_encode_parse_roundtrip(spark, d):
    df = spark.createDataFrame([(d,)], "m map<string,string>")
    out = df.select(
        P.parse_key_value_grouped(codec.encode_logfmt(F.col("m"))).alias("r")
    ).collect()[0]["r"]
    # logfmt encodes empty values as bare `k=` which parses back as ""
    assert out == {k: [v] for k, v in d.items()}


@settings(**SETTINGS)
@given(st.lists(safe_val | st.text(alphabet='abc,"x', max_size=10), min_size=1, max_size=6))
def test_csv_encode_parse_roundtrip(spark, vals):
    df = spark.createDataFrame([(vals,)], "a array<string>")
    out = df.select(
        P.parse_csv(misc.encode_csv(F.col("a"))).alias("r")
    ).collect()[0]["r"]
    assert out == vals


@settings(**SETTINGS)
@given(st.lists(any_text, min_size=1, max_size=8))
def test_base64_roundtrip(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        codec.decode_base64(codec.encode_base64(F.col("s"))).alias("r")
    ).collect()
    assert [r["r"] for r in out] == vals


@settings(**SETTINGS)
@given(
    st.text(alphabet="abcdefgh ", min_size=0, max_size=20),
    st.integers(-25, 25),
    st.integers(-25, 25) | st.none(),
)
def test_slice_matches_python(spark, s, start, end):
    got = spark.range(1).select(
        strings.slice_(F.lit(s), start, end).alias("v")
    ).collect()[0]["v"]
    want = s[start:end] if end is not None else s[start:]
    # python clamps; slice_ clamps the start only to >=0 like VRL
    assert got == want


@settings(**SETTINGS)
@given(st.dictionaries(safe_key, safe_val, min_size=1, max_size=5), safe_key, safe_val)
def test_map_set_get_remove_roundtrip(spark, d, k, v):
    df = spark.createDataFrame([(d,)], "m map<string,string>")
    row = df.select(
        C.get(C.set_(F.col("m"), k, F.lit(v)), k).alias("got"),
        C.exists(C.remove(C.set_(F.col("m"), k, F.lit(v)), k), k).alias("still"),
        F.size(C.remove(F.col("m"), k)).alias("size_after_rm"),
    ).collect()[0]
    assert row["got"] == v                 # set then get returns the value
    assert row["still"] is False           # set then remove: gone
    assert row["size_after_rm"] == len(d) - (1 if k in d else 0)


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=0, max_size=10))
def test_unique_preserves_first_occurrence(spark, vals):
    df = spark.createDataFrame([(vals,)], "a array<string>")
    got = df.select(C.unique(F.col("a")).alias("u")).collect()[0]["u"]
    seen, want = set(), []
    for v in vals:
        if v not in seen:
            seen.add(v)
            want.append(v)
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.binary(max_size=40), min_size=1, max_size=10))
def test_lossy_decode_matches_cpython(spark, blobs):
    from vrl_spark.operators.extract import lossy_utf8_decode

    df = spark.createDataFrame([(b,) for b in blobs], "b binary")
    got = [r["s"] for r in df.select(lossy_utf8_decode(F.col("b")).alias("s")).collect()]
    want = [b.decode("utf-8", errors="replace") for b in blobs]
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(  # a corpus of small docs over a tiny vocab so shared
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
        min_size=1, max_size=8,
    ),
    st.integers(min_value=2, max_value=4),  # ngram
)
def test_span_dedup_matches_bruteforce(spark, corpora, ngram):
    """span_dedup == the obvious O(n^2) Python reference on random
    tiny-vocab corpora (tiny vocab forces real cross-doc gram
    collisions, boundary overlaps, and whole-doc covers)."""
    from vrl_spark.operators.textstats import span_dedup

    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]

    # reference implementation
    def ref():
        toks = {i: [t for t in txt.split() if t] for i, txt in docs}
        gram_docs: dict[tuple, set] = {}
        for i, ts in toks.items():
            for s in range(len(ts) - ngram + 1):
                gram_docs.setdefault(tuple(ts[s:s + ngram]), set()).add(i)
        flagged = {g for g, ds in gram_docs.items() if len(ds) >= 2}
        out = {}
        for i, ts in toks.items():
            cov = set()
            for s in range(len(ts) - ngram + 1):
                if tuple(ts[s:s + ngram]) in flagged:
                    cov.update(range(s, s + ngram))
            kept = [t for p, t in enumerate(ts) if p not in cov]
            out[i] = (" ".join(kept), len(ts) - len(kept))
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["span_text"], r["n_removed"])
        for r in span_dedup(
            df, "text", "doc_id", ngram=ngram, min_docs=2
        ).collect()
    }
    assert got == ref()


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.one_of(st.none(), st.text(alphabet="abc \x00", max_size=6)),
        ),
        min_size=1, max_size=12,
    )
)
def test_lineage_fingerprint_matches_hashlib(spark, rows):
    """The md5-engine multiset fingerprint == an independent pure-
    Python reference (hashlib md5, 15-hex prefix, sum mod prime) —
    the same arithmetic the DuckDB oracle performs."""
    import hashlib

    from vrl_spark.operators.checkpoint import _FP_PRIME, lineage_metrics

    def ref():
        total = 0
        for i, s in rows:
            parts = [str(i), s if s is not None else "\x00"]
            h = hashlib.md5("\x1f".join(parts).encode()).hexdigest()
            total += int(h[:15], 16)
        return total % _FP_PRIME

    df = spark.createDataFrame(rows, "i bigint, s string")
    got = lineage_metrics(
        df.withColumn("g", F.lit(1)), [F.col("g")],
        F.coalesce(F.col("s"), F.lit("")),
        [F.col("i"), F.col("s")], engine="md5",
    ).collect()[0]
    assert got["fingerprint"] == ref()
    assert got["n_rows"] == len(rows)
