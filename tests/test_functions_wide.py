"""Vectors for strings/codec/collections/math_ip lowerings
(reference test_function! style, batched into few DataFrame passes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vrl_spark.functions import codec, collections as C, math_ip, strings


def row1(spark, **exprs):
    return spark.range(1).select(
        *[e.alias(k) for k, e in exprs.items()]
    ).collect()[0]


def test_casing(spark):
    r = row1(
        spark,
        snake=strings.snakecase(F.lit("InputString")),
        kebab=strings.kebabcase(F.lit("input string")),
        camel=strings.camelcase(F.lit("input_string")),
        pascal=strings.pascalcase(F.lit("input-string")),
        scream=strings.screamingsnakecase(F.lit("inputString")),
    )
    assert r["snake"] == "input_string"
    assert r["kebab"] == "input-string"
    assert r["camel"] == "inputString"
    assert r["pascal"] == "InputString"
    assert r["scream"] == "INPUT_STRING"


def test_string_predicates(spark):
    r = row1(
        spark,
        c1=strings.contains(F.lit("The Needle"), "needle"),
        c2=strings.contains(F.lit("The Needle"), "needle", case_sensitive=False),
        sw=strings.starts_with(F.lit("foobar"), "foo"),
        ew=strings.ends_with(F.lit("foobar"), "BAR", case_sensitive=False),
        m1=strings.match_(F.lit("hello 123"), r"\d+"),
        m2=strings.match_any(F.lit("abc"), [r"^\d+$", r"^[a-c]+$"]),
    )
    assert (r["c1"], r["c2"], r["sw"], r["ew"], r["m1"], r["m2"]) == (
        False, True, True, True, True, True)


def test_string_transforms(spark):
    r = row1(
        spark,
        rep=strings.replace(F.lit("a.b.c"), ".", "-"),
        repre=strings.replace(F.lit("a1b22c"), r"\d+", "#", regex=True),
        sl1=strings.slice_(F.lit("hello world"), 6),
        sl2=strings.slice_(F.lit("hello world"), 0, 5),
        sl3=strings.slice_(F.lit("hello world"), -5),
        tr1=strings.truncate(F.lit("hello world"), 5, "..."),
        tr2=strings.truncate(F.lit("hi"), 5, "..."),
        ansi=strings.strip_ansi_escape_codes(F.lit("\x1b[31mred\x1b[0m")),
        red=strings.redact(F.lit("card 1234-5678-9012-3456 ok"), [r"\d{4}(-\d{4}){3}"]),
        fi=strings.find(F.lit("hello"), "ll"),
        fi2=strings.find(F.lit("hello"), "zz"),
        bn=strings.basename(F.lit("/a/b/c.txt")),
        dn=strings.dirname(F.lit("/a/b/c.txt")),
    )
    assert r["rep"] == "a-b-c"
    assert r["repre"] == "a#b#c"
    assert r["sl1"] == "world"
    assert r["sl2"] == "hello"
    assert r["sl3"] == "world"
    assert r["tr1"] == "hello..."
    assert r["tr2"] == "hi"
    assert r["ansi"] == "red"
    assert r["red"] == "card [REDACTED] ok"
    assert r["fi"] == 2 and r["fi2"] == -1
    assert r["bn"] == "c.txt" and r["dn"] == "/a/b"


def test_length_semantics(spark):
    # VRL: strlen = chars, length(string) = BYTES (length.rs)
    r = row1(
        spark,
        chars=strings.strlen(F.lit("café")),
        bytes_=strings.length_bytes(F.lit("café")),
    )
    assert r["chars"] == 4 and r["bytes_"] == 5


def test_format_functions(spark):
    r = row1(
        spark,
        fi=strings.format_int(F.lit(255), 16),
        fn=strings.format_number(F.lit(1234567.891), 2),
        ft=strings.format_timestamp(
            F.to_timestamp(F.lit("2021-02-03 04:05:06")), "%d/%b/%Y %H:%M"),
    )
    assert r["fi"] == "ff"
    assert r["fn"] == "1,234,567.89"
    assert r["ft"] == "03/Feb/2021 04:05"


def test_shannon_entropy(spark):
    r = row1(
        spark,
        uniform=strings.shannon_entropy(F.lit("abcd")),
        same=strings.shannon_entropy(F.lit("aaaa")),
    )
    assert r["uniform"] == pytest.approx(2.0)
    assert r["same"] == pytest.approx(0.0)


def test_codecs(spark):
    r = row1(
        spark,
        b16=codec.encode_base16(F.lit("some string value")),
        b16d=codec.decode_base16(F.lit("736f6d6520737472696e672076616c7565")),
        b64=codec.encode_base64(F.lit("some string value")),
        b64np=codec.encode_base64(F.lit("some string value"), padding=False),
        b64d=codec.decode_base64(F.lit("c29tZSBzdHJpbmcgdmFsdWU=")),
        pct=codec.encode_percent(F.lit("foo bar?")),
        pctd=codec.decode_percent(F.lit("foo+bar%3F")),
    )
    assert r["b16"] == "736f6d6520737472696e672076616c7565"
    assert r["b16d"] == "some string value"
    assert r["b64"] == "c29tZSBzdHJpbmcgdmFsdWU="
    assert r["b64np"] == "c29tZSBzdHJpbmcgdmFsdWU"
    assert r["b64d"] == "some string value"
    assert r["pct"] == "foo+bar%3F"
    assert r["pctd"] == "foo bar?"


def test_hashes(spark):
    # reference md5.rs / sha1.rs / sha2.rs test vectors ("foo")
    r = row1(
        spark,
        m=codec.md5(F.lit("foo")),
        s1=codec.sha1(F.lit("foo")),
        s2=codec.sha2(F.lit("foo"), 256),
        s3=codec.sha3(F.lit("foo"), 512),
        hm=codec.hmac_(F.lit("foo"), "key", "sha256"),
    )
    assert r["m"] == "acbd18db4cc2f85cedef654fccc4a4d8"
    assert r["s1"] == "0beec7b5ea3f0fdbc95d0dd47f3c5bc275da8a33"
    assert r["s2"] == "2c26b46b68ffc68ff99b453c1d30413413422d706483bfa0f98a5e886266e7ae"
    import hashlib
    import hmac as hm

    assert r["s3"] == hashlib.sha3_512(b"foo").hexdigest()
    assert r["hm"] == hm.new(b"key", b"foo", hashlib.sha256).hexdigest()


def test_compression_roundtrip(spark):
    df = spark.createDataFrame([("hello world hello world",)], ["s"])
    out = df.select(
        codec.decode_zlib(codec.encode_zlib(F.col("s"))).cast("string").alias("z"),
        codec.decode_gzip(codec.encode_gzip(F.col("s"))).cast("string").alias("g"),
    ).collect()[0]
    assert out["z"] == "hello world hello world"
    assert out["g"] == "hello world hello world"


def test_encode_logfmt_sorted(spark):
    df = spark.range(1).select(
        F.create_map(
            F.lit("zeta"), F.lit("1"), F.lit("alpha"), F.lit("two words")
        ).alias("m")
    )
    got = df.select(codec.encode_logfmt(F.col("m")).alias("v")).collect()[0]["v"]
    assert got == 'alpha="two words" zeta=1'  # sorted keys, quoted value


def test_collections(spark):
    df = spark.range(1).select(
        F.array(F.lit("a"), F.lit("b"), F.lit("a"), F.lit("c")).alias("arr"),
        F.create_map(F.lit("k1"), F.lit("v1"), F.lit("k2"), F.lit("")).alias("m"),
    )
    r = df.select(
        C.unique(F.col("arr")).alias("uniq"),
        C.push(F.col("arr"), F.lit("d")).alias("pushed"),
        C.pop(F.col("arr")).alias("popped"),
        C.chunks(F.col("arr"), 3).alias("chunked"),
        C.tally(F.col("arr")).alias("tally"),
        C.tally_value(F.col("arr"), "a").alias("tv"),
        C.includes(F.col("arr"), "b").alias("inc"),
        C.match_array(F.col("arr"), "^[ab]$").alias("ma"),
        C.match_array(F.col("arr"), "^[ab]$", all_=True).alias("maall"),
        C.compact_map(F.col("m")).alias("cm"),
        C.set_(F.col("m"), "k3", F.lit("v3")).alias("set_"),
        C.remove(F.col("m"), "k2").alias("rm"),
        C.merge(F.col("m"), F.create_map(F.lit("k2"), F.lit("override"))).alias("mg"),
    ).collect()[0]
    assert r["uniq"] == ["a", "b", "c"]
    assert r["pushed"] == ["a", "b", "a", "c", "d"]
    assert r["popped"] == ["a", "b", "a"]
    assert r["chunked"] == [["a", "b", "a"], ["c"]]
    assert r["tally"] == {"a": 2, "b": 1, "c": 1}
    assert r["tv"] == 2
    assert r["inc"] is True
    assert r["ma"] is True and r["maall"] is False
    assert r["cm"] == {"k1": "v1"}
    assert r["set_"]["k3"] == "v3"
    assert r["rm"] == {"k1": "v1"}
    assert r["mg"]["k2"] == "override"


def test_flatten_map(spark):
    df = spark.range(1).select(
        F.create_map(
            F.lit("a"), F.create_map(F.lit("x"), F.lit("1")),
            F.lit("b"), F.create_map(F.lit("y"), F.lit("2")),
        ).alias("m")
    )
    got = df.select(C.flatten_map(F.col("m")).alias("f")).collect()[0]["f"]
    assert got == {"a.x": "1", "b.y": "2"}


def test_ip_functions(spark):
    r = row1(
        spark,
        aton=math_ip.ip_aton(F.lit("1.2.3.4")),
        bad=math_ip.ip_aton(F.lit("999.2.3.4")),
        ntoa=math_ip.ip_ntoa(F.lit(16909060)),
        cidr=math_ip.ip_cidr_contains("192.168.0.0/16", F.lit("192.168.10.32")),
        cidr2=math_ip.ip_cidr_contains("192.168.0.0/16", F.lit("192.169.10.32")),
        v6=math_ip.ip_to_ipv6(F.lit("1.2.3.4")),
        v4=math_ip.ipv6_to_ipv4(F.lit("::ffff:1.2.3.4")),
    )
    assert r["aton"] == 16909060
    assert r["bad"] is None
    assert r["ntoa"] == "1.2.3.4"
    assert r["cidr"] is True and r["cidr2"] is False
    assert r["v6"] == "::ffff:1.2.3.4"
    assert r["v4"] == "1.2.3.4"


def test_math_semantics(spark):
    r = row1(
        spark,
        mod0=math_ip.mod_(F.lit(5), F.lit(0)),          # error -> NULL
        mod=math_ip.mod_(F.lit(5), F.lit(2)),
        div0=math_ip.vrl_div(F.lit(5), F.lit(0)),        # error -> NULL
        div=math_ip.vrl_div(F.lit(5), F.lit(2)),         # int/int -> float
        mulstr=math_ip.vrl_mul_string(F.lit("ab"), F.lit(3)),
        addnull=math_ip.vrl_add_string(F.lit("x"), F.lit(None).cast("string")),
        hav=math_ip.haversine(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(90.0)),
    )
    assert r["mod0"] is None and r["mod"] == 1
    assert r["div0"] is None and r["div"] == 2.5
    assert r["mulstr"] == "ababab"
    assert r["addnull"] == "x"
    assert r["hav"] == pytest.approx(10007.54, abs=1)


def test_syslog(spark):
    r = row1(
        spark,
        f=math_ip.to_syslog_facility(F.lit(4)),
        fc=math_ip.to_syslog_facility_code(F.lit("local0")),
        s=math_ip.to_syslog_severity(F.lit("err")),
        l=math_ip.to_syslog_level(F.lit(3)),
    )
    assert r["f"] == "auth"
    assert r["fc"] == 16
    assert r["s"] == 3
    assert r["l"] == "err"


def test_redact_hash_reference_vectors(spark):
    """redact.rs sha2/sha3 redactor examples + kv grouped duplicates."""
    from vrl_spark.functions.strings import redact_hash

    df = spark.createDataFrame([("my id is 123456",)], ["t"])
    row = df.select(
        redact_hash(F.col("t"), [r"\d+"]).alias("sha2_default"),
        redact_hash(F.col("t"), [r"\d+"], algorithm="sha3").alias("sha3_default"),
        redact_hash(F.col("t"), [r"\d+"], variant="SHA-256",
                    encoding="base16").alias("sha256_hex"),
        redact_hash(F.col("t"), [r"\d+"], variant="SHA-256",
                    encoding="base64").alias("sha256_b64"),
        redact_hash(F.col("t"), [r"zzz"]).alias("no_match"),
    ).collect()[0]
    assert row["sha2_default"] == "my id is GEtTedW1p6tC094dDKH+3B8P+xSnZz69AmpjaXRd63I="
    assert row["sha3_default"] == ("my id is ZNCdmTDI7PeeUTFnpYjLdUObdizo+bIupZdl8"
                                   "yqnTKGdLx6X3JIqPUlUWUoFBikX+yTR+OcvLtAqWO11NPlNJw==")
    import hashlib
    assert row["sha256_hex"] == "my id is " + hashlib.sha256(b"123456").hexdigest()
    import base64
    assert row["sha256_b64"] == "my id is " + base64.b64encode(
        hashlib.sha256(b"123456").digest()).decode()
    assert row["no_match"] == "my id is 123456"


def test_parse_key_value_grouped_duplicates(spark):
    """parse_key_value.rs:71-96 duplicate-key array semantics."""
    from vrl_spark.functions.parse import parse_key_value_grouped

    line = 'at=info,method=GET,path="/index",status=200,tags=dev,tags=dummy'
    df = spark.createDataFrame([(line,), ("flag standalone=1 flag",),
                                ("k v=2 k=real k",),
                                ('at=info method=GET path="/x y" status=200',),
                                (r'msg="say \"hi\"" n=1',)], ["t"])
    rows = df.select(
        parse_key_value_grouped(F.col("t"), "=", ",").alias("m1"),
        parse_key_value_grouped(F.col("t"), "=", " ").alias("m2"),
    ).collect()
    m = rows[0]["m1"]
    assert m["tags"] == ["dev", "dummy"]
    assert m["path"] == ["/index"]
    assert m["status"] == ["200"]
    m = rows[1]["m2"]
    assert m["flag"] == ["true"]       # bare key; repeat ignored
    assert m["standalone"] == ["1"]
    m = rows[2]["m2"]
    assert m["k"] == ["real"]          # value replaces bare-key true; later bare ignored
    assert m["v"] == ["2"]
    # quoted value keeps its inner field delimiter
    assert rows[3]["m2"] == {"at": ["info"], "method": ["GET"],
                             "path": ["/x y"], "status": ["200"]}
    assert rows[4]["m2"] == {"msg": ['say "hi"'], "n": ["1"]}  # \" unescapes
