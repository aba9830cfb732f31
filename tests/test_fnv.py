"""FNV-64a bit-exactness — shard parity with the reference's
``hash/fnv`` + ``% numWorkers`` (example_test.go:44-58)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from otlp_wire_spark.functions.fnv import (
    FNV64_OFFSET_BASIS,
    fnv64a,
    fnv64a_expr,
    fnv64a_numpy,
    shard_expr,
)
from otlp_wire_spark.operators.route import with_shard
from otlp_wire_spark.plans.asserts import executed_plan

# Published FNV-1a 64 test vectors (IETF draft-eastlake-fnv, public domain).
KNOWN = [
    (b"", 0xCBF29CE484222325),
    (b"a", 0xAF63DC4C8601EC8C),
    (b"foobar", 0x85944171F73967E8),
]


def test_known_vectors_pure():
    for data, want in KNOWN:
        assert fnv64a(data) == want


def test_numpy_matches_pure_on_random_bytes():
    rng = random.Random(7)
    vals = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
            for _ in range(1000)]
    vals += [d for d, _ in KNOWN]
    got = fnv64a_numpy(vals)
    want = np.array([fnv64a(v) for v in vals], dtype=np.uint64)
    assert (got == want).all()


def test_numpy_empty_batch():
    assert fnv64a_numpy([]).shape == (0,)


def test_numpy_none_is_empty_bytes():
    assert fnv64a_numpy([None])[0] == np.uint64(FNV64_OFFSET_BASIS)


@pytest.mark.usefixtures("spark")
def test_udf_matches_pure_and_shards_in_uint64_space(spark):
    rng = random.Random(11)
    urls = [f"https://host{rng.randrange(99)}.example.com/p{i}" for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    out = (
        df.withColumn("h", fnv64a_expr("url"))
        .withColumn("shard", shard_expr("url", 8))
        .collect()
    )
    for row in out:
        want = fnv64a(row["url"].encode())
        assert row["h"] == np.uint64(want).astype(np.int64)
        # modulo must be computed on the UNSIGNED hash
        assert row["shard"] == want % 8
    # at least one hash has the sign bit set, proving the uint64-vs-int64
    # distinction is actually exercised
    assert any(r["h"] < 0 for r in out)


@pytest.mark.usefixtures("spark")
def test_jvm_expr_matches_pure_incl_non_pow2_shards(spark):
    """The pure-JVM codegen FNV (hot path) must be bit-identical to the
    pure-Python definition, and uint64-space sharding must hold for both
    power-of-two and general N."""
    import string
    rng = random.Random(23)
    alphabet = string.ascii_letters + string.digits + ":/.?&=_-"
    keys = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 90)))
        for _ in range(400)
    ]
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    out = df.select(
        "k",
        fnv64a_expr("k").alias("h"),
        shard_expr("k", 8).alias("s8"),
        shard_expr("k", 7).alias("s7"),
    ).collect()
    for r in out:
        want = fnv64a(r["k"].encode())
        assert r["h"] == np.uint64(want).astype(np.int64), r["k"]
        assert r["s8"] == want % 8, r["k"]
        assert r["s7"] == want % 7, r["k"]


@pytest.mark.usefixtures("spark")
def test_jvm_expr_byte_exact_on_non_ascii(spark):
    """A non-ASCII route key must hash (and shard) byte-wise, identical to
    the reference's FNV-64a over UTF-8 bytes — the ADVICE r1 hazard where
    the code-point fold silently diverged on multi-byte input."""
    keys = ["héllo", "café 中文", "πράγμα", "naïve—dash", "🚀rocket", "¡hola!",
            "mixed ascii and ü", "ÿĀ"]
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    out = df.select(
        "k",
        fnv64a_expr("k").alias("h"),
        shard_expr("k", 8).alias("s8"),
        shard_expr("k", 7).alias("s7"),
    ).collect()
    for r in out:
        want = fnv64a(r["k"].encode("utf-8"))
        assert r["h"] == np.uint64(want).astype(np.int64), r["k"]
        assert r["s8"] == want % 8, r["k"]
        assert r["s7"] == want % 7, r["k"]


@pytest.mark.usefixtures("spark")
def test_property_fnv_expr_matches_pure_on_unicode(spark):
    """Property: for arbitrary unicode strings (multi-byte, astral-plane,
    mixed), the JVM expression FNV and uint64-space shards must equal the
    pure-Python byte-wise definition."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.text(max_size=40), min_size=1, max_size=40))
    def run(texts):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "i long, k string")
        from pyspark.sql import functions as FF

        out = df.select(
            "i", fnv64a_expr("k").alias("h"), shard_expr("k", 7).alias("s7")
        ).collect()
        for r in out:
            want = fnv64a(texts[r["i"]].encode("utf-8"))
            assert r["h"] == np.uint64(want).astype(np.int64), texts[r["i"]]
            assert r["s7"] == want % 7, texts[r["i"]]

    run()


@pytest.mark.usefixtures("spark")
def test_jvm_expr_plan_has_no_python(spark):
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        fnv64a_expr(F.col("id").cast("string")).alias("h")
    )
    assert "EvalPython" not in executed_plan(df)


@pytest.mark.parametrize("num_shards", [8, 7])
def test_with_shard_binary_key_matches_pure(spark, num_shards):
    """A BINARY route key shards by the byte-wise FNV-64a of its bytes —
    invalid UTF-8, empty and NULL keys included (NULL hashes like empty
    bytes, as a NULL string key does) — in uint64 space, for power-of-two
    and general N."""
    rng = random.Random(31)
    keys = [b"", b"\xff", b"\xc3\x28", b"\x00\x80\xfe", "café".encode()]
    keys += [
        bytes(rng.randrange(256) for _ in range(rng.randrange(1, 60)))
        for _ in range(300)
    ]
    rows = [(i, k) for i, k in enumerate(keys)] + [(len(keys), None)]
    df = spark.createDataFrame(rows, "i long, k binary")
    out = with_shard(df, "k", num_shards).select("i", "shard").collect()
    assert len(out) == len(rows)
    for r in out:
        want = fnv64a(rows[r["i"]][1] or b"")
        assert r["shard"] == want % num_shards, rows[r["i"]][1]
    assert "EvalPython" not in executed_plan(with_shard(df, "k", num_shards))
