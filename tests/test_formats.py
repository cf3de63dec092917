"""formats module: regex_all, replace_with, xml/yaml/ruby-hash,
json-schema validation, absent-codec stubs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from vrl_spark.functions import formats as FM


def one(spark, expr):
    return spark.range(1).select(expr.alias("v")).collect()[0]["v"]


def test_parse_regex_all(spark):
    got = one(spark, FM.parse_regex_all(
        F.lit("a=1 b=2 c=3"), r"(?P<key>\w+)=(?P<val>\d+)"))
    assert [r.asDict() for r in got] == [
        {"key": "a", "val": "1"}, {"key": "b", "val": "2"}, {"key": "c", "val": "3"},
    ]
    assert one(spark, FM.parse_regex_all(F.lit("nothing"), r"(?P<d>\d+)")) is None


def test_replace_with(spark):
    # reference replace_with.rs example: upcase each match
    got = one(spark, FM.replace_with(
        F.lit("apples and bananas"), r"\b(?P<fruit>\w+)s\b",
        lambda g: g["fruit"].upper()))
    assert got == "APPLE and BANANA"


def test_parse_xml(spark):
    got = one(spark, FM.parse_xml(F.lit(
        '<book category="fiction"><title lang="en">X</title><page>1</page><page>2</page></book>'
    )))
    obj = json.loads(got)
    assert obj["book"]["@category"] == "fiction"
    assert obj["book"]["title"] == {"@lang": "en", "#text": "X"}
    assert obj["book"]["page"] == ["1", "2"]
    assert one(spark, FM.parse_xml(F.lit("<unclosed>"))) is None


def test_parse_yaml(spark):
    got = one(spark, FM.parse_yaml(F.lit("a: 1\nb:\n  - x\n  - y\n")))
    assert json.loads(got) == {"a": 1, "b": ["x", "y"]}
    assert one(spark, FM.parse_yaml(F.lit("{unclosed"))) is None


def test_parse_ruby_hash(spark):
    got = one(spark, FM.parse_ruby_hash(F.lit(
        '{ "test" => "value", "testNum" => 0.2, :sym => nil, "nested" => { "a" => 1 } }'
    )))
    assert json.loads(got) == {
        "test": "value", "testNum": 0.2, "sym": None, "nested": {"a": 1}}


def test_validate_json_schema(spark):
    schema = json.dumps({
        "type": "object",
        "properties": {"k": {"type": "integer"}},
        "required": ["k"],
    })
    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": "no"}',), ("not json",), (None,)], ["s"]
    )
    got = [r["v"] for r in df.select(
        FM.validate_json_schema(F.col("s"), schema).alias("v")).collect()]
    assert got == [True, False, False, None]


def test_zstd_decoder_against_real_zstd(spark):
    """The from-scratch RFC 8878 decoder must read frames produced by
    the REAL zstd implementation (zstd-jni on Spark's classpath) —
    levels 1/3/19 cover raw, RLE, Huffman (1- and 4-stream,
    FSE-compressed weights), and FSE-coded sequence paths."""
    import random

    from vrl_spark.functions.zstdcodec import zstd_decompress

    Z = spark._jvm.com.github.luben.zstd.Zstd
    rng = random.Random(99)
    words = [b"alpha", b"beta", b"gamma", b"delta", b"zstd", b"spark"]
    cases = [
        b"", b"x", b"flat" * 2000,
        b" ".join(rng.choice(words) for _ in range(8000)),
        bytes(rng.randrange(256) for _ in range(20000)),
        bytes(rng.randrange(3) for _ in range(50000)),
    ]
    for data in cases:
        for lvl in (1, 3, 19):
            comp = bytes(Z.compress(data, lvl))
            assert zstd_decompress(comp) == data, (len(data), lvl)


def test_zstd_column_path_and_cross_validation(spark):
    """Full Spark path: decode real-zstd ciphertext columns; encode
    store frames that BOTH our decoder and real zstd accept; NULL on
    garbage (the error branch); multi-frame + skippable input."""
    from vrl_spark.functions.zstdcodec import zstd_compress

    Z = spark._jvm.com.github.luben.zstd.Zstd
    payload = b"some zstd payload " * 300
    comp = bytes(Z.compress(payload, 3))
    df = spark.createDataFrame(
        [(1, bytearray(comp)), (2, bytearray(b"\x00gar\xffbage")),
         (3, None)],
        "i int, c binary",
    )
    got = {r["i"]: r["p"] for r in df.select(
        "i", FM.decode_zstd(F.col("c")).alias("p")).collect()}
    assert bytes(got[1]) == payload
    assert got[2] is None
    assert got[3] is None  # NULL in -> NULL out
    enc = spark.createDataFrame([(bytearray(payload),)], ["t"])
    mine = bytes(enc.select(
        FM.encode_zstd(F.col("t"), 3).alias("c")).collect()[0]["c"])
    assert bytes(Z.decompress(mine, len(payload))) == payload  # real zstd reads it
    assert len(mine) < len(payload) // 3  # actually compresses
    back = spark.createDataFrame([(bytearray(mine),)], ["c"]).select(
        FM.decode_zstd(F.col("c")).alias("p")).collect()[0]["p"]
    assert bytes(back) == payload
    # concatenated frames + a skippable frame between them
    skippable = (0x184D2A50).to_bytes(4, "little") + (3).to_bytes(4, "little") + b"xyz"
    multi = comp + skippable + zstd_compress(b"tail")
    m = spark.createDataFrame([(bytearray(multi),)], ["c"]).select(
        FM.decode_zstd(F.col("c")).alias("p")).collect()[0]["p"]
    assert bytes(m) == payload + b"tail"
    # corrupted checksum -> NULL, never wrong bytes
    bad = bytearray(mine)
    bad[-1] ^= 0xFF
    assert spark.createDataFrame([(bad,)], ["c"]).select(
        FM.decode_zstd(F.col("c")).alias("p")).collect()[0]["p"] is None


_FOX = b"The quick brown fox jumps over 13 lazy dogs."


def test_snappy_reference_vector_and_roundtrip(spark):
    """decode_snappy.rs / encode_snappy.rs doc vectors (snap::raw
    bytes), through the full Spark path, plus a compressing
    round-trip and the malformed -> NULL error branch."""
    import base64

    vec = base64.b64decode(
        "LKxUaGUgcXVpY2sgYnJvd24gZm94IGp1bXBzIG92ZXIgMTMgbGF6eSBkb2dzLg=="
    )
    rep = b"repetitive " * 200
    df = spark.createDataFrame(
        [(1, bytearray(vec)), (2, bytearray(b"\xff\xff\xff\xff\xff"))],
        ["i", "c"],
    )
    got = {r["i"]: r["p"] for r in df.select(
        "i", FM.decode_snappy(F.col("c")).alias("p")).collect()}
    assert bytes(got[1]) == _FOX
    assert got[2] is None  # malformed -> error branch
    enc = spark.createDataFrame([(bytearray(_FOX),), (bytearray(rep),)], ["t"])
    out = enc.select(
        FM.encode_snappy(F.col("t")).alias("c"),
        F.octet_length("t").alias("n"),
    ).select(
        FM.decode_snappy(F.col("c")).alias("p"),
        F.octet_length("c").alias("clen"), "n",
    ).collect()
    assert bytes(out[0]["p"]) == _FOX
    assert out[0]["clen"] == len(vec)  # literal-only case: byte-equal
    assert bytes(out[1]["p"]) == rep
    assert out[1]["clen"] < out[1]["n"] // 4  # actually compresses


def test_lz4_reference_vector_and_roundtrip(spark):
    """decode_lz4.rs doc vectors: prepended-size block (the encode
    default) and the bare block, plus round-trip both ways and the
    malformed -> NULL error branch."""
    import base64

    vec = base64.b64decode(
        "LAAAAPAdVGhlIHF1aWNrIGJyb3duIGZveCBqdW1wcyBvdmVyIDEzIGxhenkgZG9ncy4="
    )
    df = spark.createDataFrame([(bytearray(vec),)], ["c"])
    got = df.select(
        FM.decode_lz4(F.col("c"), prepended_size=True).alias("p")
    ).collect()[0]["p"]
    assert bytes(got) == _FOX
    bare = spark.createDataFrame([(bytearray(vec[4:]),)], ["c"])
    assert bytes(bare.select(
        FM.decode_lz4(F.col("c")).alias("p")).collect()[0]["p"]) == _FOX
    rep = b"0123456789" * 500
    enc = spark.createDataFrame([(bytearray(rep),)], ["t"])
    both = enc.select(
        FM.decode_lz4(FM.encode_lz4(F.col("t")), prepended_size=True)
        .alias("a"),
        FM.decode_lz4(FM.encode_lz4(F.col("t"), prepend_size=False))
        .alias("b"),
        F.octet_length(FM.encode_lz4(F.col("t"))).alias("clen"),
    ).collect()[0]
    assert bytes(both["a"]) == rep and bytes(both["b"]) == rep
    assert both["clen"] < len(rep) // 4
    bad = spark.createDataFrame([(bytearray(b"\x10"),)], ["c"])
    assert bad.select(
        FM.decode_lz4(F.col("c")).alias("p")).collect()[0]["p"] is None


def test_seahash_reference_vectors(spark):
    from vrl_spark.functions.codec import seahash

    df = spark.createDataFrame([("foo",), ("bar",), ("",)], ["t"])
    got = {r["t"]: r["h"] for r in df.select(
        "t", seahash(F.col("t")).alias("h")).collect()}
    # reference seahash.rs test vectors
    assert got["foo"] == 4413582353838009230
    assert got["bar"] == -2796170501982571315
    # 33-byte input exercises the 32-byte block + tail path
    long = "x" * 33
    df2 = spark.createDataFrame([(long,)], ["t"])
    h = df2.select(seahash(F.col("t")).alias("h")).collect()[0]["h"]
    assert isinstance(h, int)


def _cbor_enc(v):
    """Tiny CBOR encoder for test vectors only."""
    import struct

    def head(mt, n):
        if n < 24:
            return bytes([(mt << 5) | n])
        if n < 256:
            return bytes([(mt << 5) | 24, n])
        if n < 65536:
            return bytes([(mt << 5) | 25]) + n.to_bytes(2, "big")
        return bytes([(mt << 5) | 26]) + n.to_bytes(4, "big")

    if isinstance(v, bool):
        return bytes([0xF5 if v else 0xF4])
    if v is None:
        return bytes([0xF6])
    if isinstance(v, int):
        return head(0, v) if v >= 0 else head(1, -1 - v)
    if isinstance(v, float):
        return bytes([0xFB]) + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode()
        return head(3, len(b)) + b
    if isinstance(v, bytes):
        return head(2, len(v)) + v
    if isinstance(v, list):
        return head(4, len(v)) + b"".join(_cbor_enc(x) for x in v)
    if isinstance(v, dict):
        return head(5, len(v)) + b"".join(
            _cbor_enc(k) + _cbor_enc(x) for k, x in v.items()
        )
    raise TypeError(v)


def test_parse_cbor_reference_shapes(spark):
    """parse_cbor.rs example shapes: simple {field: value} and the
    complex nested object; plus indefinite-length and error branch."""
    import json

    from vrl_spark.functions.formats import parse_cbor

    simple = _cbor_enc({"field": "value"})
    complex_ = _cbor_enc({"object": {"string": "value", "number": 42,
                                     "array": ["hello", "world"],
                                     "boolean": False}})
    indefinite = b"\x9f\x01\x02\xff"          # [_ 1, 2]
    df = spark.createDataFrame(
        [(1, bytearray(simple)), (2, bytearray(complex_)),
         (3, bytearray(indefinite)), (4, bytearray(b"\xff\x00garbage"))],
        ["i", "b"],
    )
    got = {r["i"]: r["j"] for r in df.select(
        "i", parse_cbor(F.col("b")).alias("j")).collect()}
    assert json.loads(got[1]) == {"field": "value"}
    assert json.loads(got[2]) == {"object": {"string": "value", "number": 42,
                                             "array": ["hello", "world"],
                                             "boolean": False}}
    assert json.loads(got[3]) == [1, 2]
    assert got[4] is None


def test_lzcodec_kernels_roundtrip_torture():
    """Kernel-level: adversarial inputs round-trip through both
    codecs — overlapping runs (off < len), long literals (multi-byte
    length encodings), incompressible bytes, binary-ish low-entropy
    streams — and truncated/garbage streams raise, never misdecode."""
    import random

    from vrl_spark.functions import lzcodecs as L

    rng = random.Random(7)
    cases = [
        b"", b"x", b"abcd", b"a" * 300000,  # 2-byte literal lengths
        b"ab" * 40000, b"abc" * 11, (b"xy" * 3) + b"z",
        bytes(rng.randrange(256) for _ in range(20000)),
        bytes(rng.randrange(3) for _ in range(70000)),
        (b"The quick brown fox. " * 100) + bytes(range(256)) * 4,
    ]
    for i, c in enumerate(cases):
        assert L.snappy_decompress(L.snappy_compress(c)) == c, i
        assert L.lz4_decompress(L.lz4_compress(c)) == c, i
        assert L.lz4_decompress_size_prepended(
            L.lz4_compress_prepend_size(c)) == c, i
    comp = L.snappy_compress(cases[4])
    for cut in (1, len(comp) // 2, len(comp) - 1):
        try:
            out = L.snappy_decompress(comp[:cut])
        except ValueError:
            continue
        assert out != cases[4]  # must not silently succeed
    import pytest

    with pytest.raises(ValueError):
        L.lz4_decompress(b"\xf0")  # literal length extension truncated
    with pytest.raises(ValueError):
        L.lz4_decompress(b"\x04abcd\x09\x00\x00")  # offset beyond output
    with pytest.raises(ValueError):
        L.snappy_decompress(b"\x04\x09\x00")  # copy before any output
    with pytest.raises(ValueError):
        L.lz4_decompress(L.lz4_compress(b"a" * 5000), max_out=100)


def test_zstd_compressed_block_encoder_cross_validated(spark):
    """The compressing encoder (LZ parse + predefined-FSE sequences)
    must round-trip through BOTH our decoder and real zstd across
    shapes that stress the sequence machinery: many sequences,
    ll=0 runs, long matches, the nseq two-byte header form, and
    incompressible data falling back to store blocks."""
    import random

    from vrl_spark.functions.zstdcodec import (
        zstd_compress, zstd_decompress,
    )

    Z = spark._jvm.com.github.luben.zstd.Zstd
    rng = random.Random(77)
    words = [b"alpha", b"beta", b"gamma", b"delta", b"zstd"]
    cases = [
        b"", b"ab", b"z" * 5000,                       # store / 1-seq / RLE-ish
        b" ".join(rng.choice(words) for _ in range(200)),   # nseq < 128
        b" ".join(rng.choice(words) for _ in range(8000)),  # nseq 2-byte form
        b"0123456789abcdef" * 3000,                    # long overlapping matches
        bytes(rng.randrange(256) for _ in range(20000)),    # store fallback
        b" ".join(rng.choice(words) for _ in range(150000)),  # multi-block
    ]
    for data in cases:
        mine = zstd_compress(data)
        assert zstd_decompress(mine) == data
        if data:
            assert bytes(Z.decompress(mine, len(data))) == data
    # compressible text must actually shrink
    text = b" ".join(rng.choice(words) for _ in range(8000))
    assert len(zstd_compress(text)) < len(text) // 2


def test_zstd_truncated_rle_literals_raise_not_crash():
    """A compressed block whose RLE-literals body is missing (block is
    exactly the literals header) must raise ZstdError — and via the
    Spark column path must route to NULL, not kill the task."""
    import pytest

    from vrl_spark.functions.zstdcodec import ZstdError, zstd_decompress

    frame = (
        b"\x28\xb5\x2f\xfd"  # magic
        + b"\x00\x00"        # FHD: no flags; window descriptor byte
        + (1 | (2 << 1) | (1 << 3)).to_bytes(3, "little")  # last,comp,sz=1
        + b"\x19"            # literals hdr: RLE, sf=0, rs=3 — body absent
    )
    with pytest.raises(ZstdError):
        zstd_decompress(frame)
    # raw-literals variant: hdr says 3 bytes follow, none do
    frame_raw = frame[:-1] + b"\x18"
    with pytest.raises(ZstdError):
        zstd_decompress(frame_raw)
