"""The two hash families the hashed operators draw from.

- ``"xxh"``: Spark's ``xxhash64``, optionally seeded by hashing a
  literal ahead of the values. JVM-native and typed (NULL and '' stay
  distinct), full signed 64-bit range. The production default.
- ``"md5"``: the first 15 hex chars of ``md5(key)`` as a bigint in
  [0, 2^60), always non-negative. Slower, but byte-for-byte
  replicable in DuckDB as
  ``CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT)``, so it is
  the family the oracles pin.

``check_family`` is the one place a family name is validated.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

FAMILIES = ("xxh", "md5")
# significant bits of a family's hash value
BITS = {"xxh": 64, "md5": 60}


def check_family(family: str, seed=None) -> None:
    """Raise unless ``family`` is a known hash family. ``seed`` is a
    caller-chosen seed for a construction whose md5 lane has no salt
    slot: the md5 hash there is oracle-pinned, and silently ignoring
    the seed would hand identical results to a caller sweeping seeds."""
    if family not in FAMILIES:
        raise ValueError(
            f"unknown hash family {family!r}; expected one of {FAMILIES}"
        )
    if family == "md5" and seed is not None:
        raise ValueError(
            "engine='md5' is seedless (oracle-pinned); "
            "use engine='xxh' for seeded hashing"
        )


def xxh64(*cols: Column, seed=None) -> Column:
    """``xxhash64`` over ``cols``, seeded by hashing the literal
    ``seed`` (an int or a string) ahead of them."""
    if seed is None:
        return F.xxhash64(*cols)
    return F.xxhash64(F.lit(seed), *cols)


def salted(col: Column, salt) -> Column:
    """The md5 family's salted key string ``f"{salt}|{col}"``."""
    return F.concat(F.lit(f"{salt}|"), col.cast("string"))


def md5_hex_prefix(key: Column, n_hex: int) -> Column:
    """The first ``n_hex`` hex chars of ``md5(key)`` as a decimal
    string (cast it to the wanted numeric type)."""
    return F.conv(F.substring(F.md5(key), 1, n_hex), 16, 10)


def md5_prefix60(key: Column) -> Column:
    """The md5 family's hash of a string Column: a bigint in [0, 2^60)."""
    return md5_hex_prefix(key, 15).cast("long")


def md5_prefix60_batch(keys) -> list:
    """Python twin of :func:`md5_prefix60` for Arrow kernels: one
    batch of strings in, their hashes out. The first 15 hex chars are
    the digest's first 60 bits, i.e. bytes[0:8] big-endian shifted
    right 4."""
    md5 = hashlib.md5
    return [
        int.from_bytes(md5(k.encode("utf-8")).digest()[:8], "big") >> 4
        for k in keys
    ]


def hash64(family: str, col: Column, salt) -> Column:
    """``col`` hashed under ``salt`` in ``family``:
    ``xxhash64(salt, col)`` or ``md5_prefix60(salt|col)``."""
    check_family(family)
    if family == "xxh":
        return xxh64(col, seed=salt)
    return md5_prefix60(salted(col, salt))
