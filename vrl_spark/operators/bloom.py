"""Relational Bloom filter + incremental snapshot dedup.

The canonical 100 TB ingest pattern: a crawl snapshot arrives, and
the question "which of these keys already exist in the corpus?" must
not cost a full corpus-sized join per ingest. Build a Bloom filter
over the BASE corpus keys ONCE (a pure aggregation — k hash positions
per key, ``bit_or``-folded into 32-bit words keyed by word index),
store the word table (m/32 rows — orders of magnitude smaller than
the key set, reusable across ingests), then prefilter each incoming
snapshot with an equi-join against it; the exact containment check
(anti/semi join on the key itself) only runs over the bloom-POSITIVE
subset, which is ~|true dups| + fp_rate * |new keys|.

No false negatives by construction (a key inserted sets all k of its
bits; membership tests the same k positions with the same hash
family), so 'new' verdicts are exact; false positives are resolved by
the exact join. Everything is DataFrame-relational: the build is one
explode + one groupBy(word_idx); membership is one explode + one
equi-join on word_idx + one bool_and groupBy. Nothing ever
broadcasts the key set, and the word table join partitions on
word_idx — at 1e12 keys (m ~ 1.25 TB of bits) the word table is
~4e10 rows and still flows as an ordinary shuffle join; at test
scales AQE broadcasts it for free.

Hash family: position_i(key) = H(i, key) mod m for i in 0..k-1.
engine="xxh" (default) uses the JVM xxhash64; engine="md5" derives
positions from the first 15 hex chars of md5(f"{i}|{key}") so a SQL
oracle can replicate every bit (same family the minhash/md5 oracles
pin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrl_spark import hashing as H

_WORD_BITS = 32


def bloom_positions(
    key: Column, n_bits: int, k: int, engine: str = "xxh"
) -> Column:
    """Array of the k bit positions (longs in [0, n_bits)) for a key."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_bits < _WORD_BITS:
        raise ValueError("n_bits must be >= 32")
    return F.array(*[
        F.pmod(H.hash64(engine, key, i), F.lit(n_bits)) for i in range(k)
    ])


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_bits: int = 1 << 14,
    k: int = 5,
    engine: str = "xxh",
) -> DataFrame:
    """(word_idx long, word long) — the filter's set 32-bit words.

    Words that stay zero are absent (the membership join treats a
    missing word as 0), so the output is at most min(n_distinct * k,
    n_bits/32) rows. NULL keys are dropped — they hash to NULL
    positions and cannot be represented.
    """
    df = df.where(F.col(key_col).isNotNull())
    pos = df.select(
        F.explode(
            bloom_positions(F.col(key_col), n_bits, k, engine)
        ).alias("_p")
    )
    return (
        pos.select(
            (F.col("_p") / _WORD_BITS).cast("long").alias("word_idx"),
            # shiftleft's numBits arg must be a literal in the python
            # API — go through expr for the column-valued shift
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(_p % {_WORD_BITS} as int))"
            ).alias("_m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_m").alias("word"))
    )


def bloom_membership(
    keys: DataFrame,
    bloom_words: DataFrame,
    key_col: str,
    n_bits: int = 1 << 14,
    k: int = 5,
    engine: str = "xxh",
) -> DataFrame:
    """(key_col, bloom_hit) — one row per input row; bloom_hit true =
    possibly present, false = DEFINITELY absent. `keys` should be
    distinct on key_col (pass .distinct() if not); n_bits/k/engine
    must match the build.

    Returns only the key + flag (derived from the probe rows, which
    already carry every key) — joining back onto `keys` here would
    make Catalyst compute the `keys` subtree twice (tree
    duplication); callers that need other columns join on key_col
    themselves. NULL keys are dropped (no output row): their probes
    hash to NULL and can satisfy neither 'possibly present' nor
    'definitely absent'."""
    keys = keys.where(F.col(key_col).isNotNull())
    probes = keys.select(
        key_col,
        F.posexplode(
            bloom_positions(F.col(key_col), n_bits, k, engine)
        ).alias("_i", "_p"),
    ).select(
        key_col,
        (F.col("_p") / _WORD_BITS).cast("long").alias("word_idx"),
        (F.col("_p") % _WORD_BITS).cast("int").alias("_bit"),
    )
    hit = (
        probes.join(bloom_words, "word_idx", "left")
        .select(
            key_col,
            F.expr(
                "((shiftright(coalesce(word, cast(0 as bigint)), _bit)"
                " & 1) = 1)"
            ).alias("_h"),
        )
        .groupBy(key_col)
        .agg(F.bool_and("_h").alias("bloom_hit"))
    )
    return hit


def incremental_dedup(
    base: DataFrame,
    incoming: DataFrame,
    key_col: str,
    n_bits: int = 1 << 14,
    k: int = 5,
    engine: str = "xxh",
    bloom_words: DataFrame | None = None,
) -> DataFrame:
    """Classify each DISTINCT incoming key against the base snapshot:

      fate = 'new'  — bloom miss: definitely not in base (exact, free)
             'dup'  — bloom hit and confirmed present by the exact join
             'fp'   — bloom hit but absent (false positive, resolved)

    Returns (key_col, bloom_hit, incr_fate); NULL incoming keys get
    no output row (unrepresentable in the filter — see
    bloom_membership). Pass a precomputed
    `bloom_words` table (from bloom_build, same params) to reuse a
    stored filter across ingests — the 100 TB deployment shape; when
    None it is built here from `base`.

    The exact join is a LEFT join against base keys restricted to the
    bloom-positive subset, so its build side is ~|dups| + eps, not
    |incoming|.

    Note on the inline-build path: base_keys feeds BOTH the filter
    build and the exact join, so Catalyst computes the base distinct
    twice. That is the throwaway shape — at scale the filter is built
    once, stored, and passed in via `bloom_words`, which touches the
    base exactly once per ingest (the exact join).
    """
    base_keys = base.select(key_col).distinct()
    if bloom_words is None:
        bloom_words = bloom_build(base_keys, key_col, n_bits, k, engine)
    inc_keys = incoming.select(key_col).distinct()
    flagged = bloom_membership(
        inc_keys, bloom_words, key_col, n_bits, k, engine
    )
    in_base = base_keys.select(
        F.col(key_col), F.lit(True).alias("_in_base")
    )
    return (
        flagged.join(
            in_base,
            # exact check only where the bloom says "maybe"
            on=(flagged[key_col] == in_base[key_col]) & flagged["bloom_hit"],
            how="left",
        )
        .select(
            flagged[key_col],
            "bloom_hit",
            F.when(~F.col("bloom_hit"), F.lit("new"))
            .when(F.col("_in_base").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("fp"))
            .alias("incr_fate"),
        )
    )


def bloom_merge(*word_tables: DataFrame) -> DataFrame:
    """Union Bloom filters built with the SAME (n_bits, k, engine):
    bit_or of their word tables. This is how the stored filter stays
    current across ingests without ever rebuilding from the base —
    after committing an ingest, merge the filter built from its NEW
    keys into the stored one (a tiny word-keyed aggregation).
    """
    if not word_tables:
        raise ValueError("bloom_merge needs at least one word table")
    acc = word_tables[0]
    for t in word_tables[1:]:
        acc = acc.unionByName(t)
    return acc.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
