"""Seeded bulk differential fuzz — one Spark job per comparison instead
of hypothesis's one-job-per-example, so thousands of adversarial inputs
are affordable in-suite. Two surfaces:

- parse: parser vs the pure-Python oracle on every field over mixed
  ascii-junk / raw-bytes / mutated near-valid pages (a 6k slice with the
  same generators and seed family as a one-off clean 100k-payload run).
- kernels: simhash16 / minhash signature / rolling fingerprint expr vs
  Arrow-numpy twins over random unicode spanning CJK, emoji, accents,
  pathological whitespace, repeats, and nulls (one-off 50k run clean;
  5k pinned here).
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from otlp_wire_spark.fixtures import oracle
from otlp_wire_spark.operators import dedup, textstats
from otlp_wire_spark.operators.parse import parse_pages

PARSED_COLS = [f"parsed.{f}" for f in oracle.PARSED_FIELDS]

_ALPHABET = list("abcdefghij <>=;:,/kv&%$#@!()[]{}\n\tseverity_trcpdf0123456789")
_MARKERS = [
    b"severity=", b"severity_text=", b"kv:", b"trace_id=", b"ref:",
    b"depth:", b"<rec>", b"</rec>", b"<p>", b"</p>", b";", b"=",
    b"<html><body>", b"</body></html>",
]


def _payloads(rng: random.Random, n: int) -> list[tuple[int, bytes | None]]:
    def ascii_junk() -> bytes:
        m = rng.randrange(0, 220)
        return "".join(rng.choice(_ALPHABET) for _ in range(m)).encode()

    def raw_bytes() -> bytes:
        return bytes(rng.randrange(256) for _ in range(rng.randrange(0, 160)))

    def near_valid() -> bytes:
        parts = [b"<html><body>"]
        for _ in range(rng.randrange(0, 8)):
            parts.append(rng.choice(_MARKERS))
            if rng.random() < 0.7:
                parts.append(
                    "".join(
                        rng.choice(_ALPHABET) for _ in range(rng.randrange(0, 30))
                    ).encode()
                )
            if rng.random() < 0.6:
                parts.append(b";")
        if rng.random() < 0.8:
            parts.append(b"</body></html>")
        page = b"".join(parts)
        r = rng.random()
        if r < 0.2 and page:  # truncate
            page = page[: rng.randrange(len(page))]
        elif r < 0.3 and page:  # duplicate a slice
            i = rng.randrange(len(page))
            j = rng.randrange(i, min(len(page), i + 20))
            page = page[:i] + page[i:j] * 2 + page[j:]
        elif r < 0.4 and page:  # flip a byte
            i = rng.randrange(len(page))
            page = page[:i] + bytes([rng.randrange(256)]) + page[i + 1 :]
        return page

    rows: list[tuple[int, bytes | None]] = []
    for i in range(n):
        r = rng.random()
        p: bytes | None
        if r < 0.35:
            p = ascii_junk()
        elif r < 0.55:
            p = raw_bytes()
        else:
            p = near_valid()
        if rng.random() < 0.01:
            p = None
        rows.append((i, p))
    return rows


def test_parse_impl_parity_bulk(spark):
    rows = _payloads(random.Random(0xC0FFEE), 6000)
    df = spark.createDataFrame(rows, "id long, html binary").repartition(8)
    out = parse_pages(df).select("id", *PARSED_COLS).collect()
    assert sorted(r["id"] for r in out) == list(range(len(rows)))
    for r in out:
        payload = rows[r["id"]][1]
        assert tuple(r)[1:] == oracle.parsed(payload), payload


_WS = "\t\x0b\x0c\r\n    "
_POOLS = [
    "abcdefghijklmnopqrstuvwxyz",
    "ABCDEFXYZ0123456789",
    "àéîõüçñßæøå",
    "中文漢字平仮名カタカナ한글",
    "😀🚀🎉✨",
    ".,;:!?()[]{}<>\"'`~@#$%^&*-_=+|/\\",
    _WS,
]


def _texts(rng: random.Random, n: int) -> list[tuple[int, str | None]]:
    def rand_text() -> str:
        r = rng.random()
        if r < 0.1:
            return " ".join(f"w{rng.randrange(40)}" for _ in range(rng.randrange(0, 30)))
        if r < 0.2:
            tok = "".join(rng.choice(_POOLS[0]) for _ in range(rng.randrange(1, 5)))
            return (tok + rng.choice(" \t")) * rng.randrange(1, 60)
        return "".join(
            rng.choice(_POOLS[rng.randrange(len(_POOLS))])
            for _ in range(rng.randrange(0, 300))
        )

    return [
        (i, None if rng.random() < 0.01 else rand_text()) for i in range(n)
    ]


def test_fnv_impl_parity_bulk(spark):
    """JVM fold vs pure-Python FNV-64a + uint64-space shard assignment on
    random unicode incl. NUL/DEL/emoji/CJK (one-off 100k run clean)."""
    from otlp_wire_spark.functions import fnv

    rng = random.Random(0xABCD)
    pools = [
        "abcdefghijklmnopqrstuvwxyzABC0123456789-_./:",
        "àéîõüçñß", "中文漢字한글", "😀🚀", "\t\r\n \x00\x7f",
    ]
    rows = [
        (
            i,
            "".join(
                rng.choice(pools[rng.randrange(len(pools))])
                for _ in range(rng.randrange(0, 120))
            ),
        )
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "id long, s string").repartition(8)
    got = df.select(
        "id", fnv.fnv64a_expr("s").alias("h"), fnv.shard_expr("s", 7).alias("k")
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        exp = fnv.fnv64a(rows[r["id"]][1].encode())
        signed = exp - (1 << 64) if exp >= (1 << 63) else exp
        assert r["h"] == signed, (r["id"], rows[r["id"]][1])
        assert r["k"] == exp % 7, (r["id"], rows[r["id"]][1])


def test_fnv_sql_mirrors_bulk():
    """The two DuckDB mirrors vs pure Python, bulk: FNV_SQL on 5k random
    ASCII strings (code-point fold == byte fold there) and FNV_BYTES_SQL
    on 5k random byte blobs via uppercase hex (one-off 20k+20k clean)."""
    import duckdb

    from otlp_wire_spark.functions.fnv import fnv64a
    from otlp_wire_spark.queries import FNV_BYTES_SQL, FNV_SQL

    rng = random.Random(0x5EED)
    ascii_pool = "".join(chr(c) for c in range(32, 127))
    strs = [
        "".join(rng.choice(ascii_pool) for _ in range(rng.randrange(0, 100)))
        for _ in range(5000)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS s)", [strs])
    rows = con.execute(f"SELECT s, {FNV_SQL.format(col='s')} FROM t").fetchall()
    assert all(int(h) == fnv64a(s.encode()) for s, h in rows)

    blobs = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 80)))
        for _ in range(5000)
    ]
    hexes = [b.hex().upper() for b in blobs]
    con.execute("CREATE TABLE b AS SELECT * FROM (SELECT unnest(?) AS hx)", [hexes])
    hmap = dict(
        con.execute(f"SELECT hx, {FNV_BYTES_SQL.format(hx='hx')} FROM b").fetchall()
    )
    assert all(int(hmap[b.hex().upper()]) == fnv64a(b) for b in blobs)
    con.close()


def test_kernel_impl_parity_bulk(spark):
    rows = _texts(random.Random(0xFEEDBEE5), 5000)
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    df = df.persist()
    try:
        df.count()
        pairs = {
            "simhash16": (
                dedup.simhash16_col(F.col("text")),
                dedup.simhash16_arrow_col(F.col("text")),
            ),
            "minhash": (
                dedup.minhash_signature_col(F.col("text"), 16, 3),
                dedup.minhash_signature_arrow_col(F.col("text"), 16, 3),
            ),
            "rollfp": (
                textstats.rolling_fingerprint_col(F.col("text"), 8),
                textstats.rolling_fingerprint_arrow_col(F.col("text"), 8),
            ),
        }
        for name, (ex, ar) in pairs.items():
            a = df.select("doc_id", ex.alias("v"))
            b = df.select("doc_id", ar.alias("v"))
            assert a.exceptAll(b).count() == 0, name
            assert b.exceptAll(a).count() == 0, name
    finally:
        df.unpersist()


def test_dedup_clusters_random_graph_matches_union_find(spark):
    """Randomized differential for the distributed min-label propagation:
    300 nodes, random sparse edges + a dense pocket + duplicate and
    reversed edges + self-loops, vs a sequential union-find with
    min-label representatives."""
    rng = random.Random(0xC1C1)
    edges = set()
    for _ in range(260):  # sparse random
        a, b = rng.randrange(300), rng.randrange(300)
        edges.add((a, b))
    for _ in range(80):  # dense pocket over nodes 0-19
        edges.add((rng.randrange(20), rng.randrange(20)))
    edge_list = list(edges)
    edge_list += [(b, a) for a, b in edge_list[:40]]  # reversed dups
    edge_list += edge_list[:30]  # exact dups

    parent = list(range(300))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for e in edge_list for v in e}
    # min-label representative per component, restricted to touched nodes
    comp: dict[int, int] = {}
    for v in nodes:
        r = find(v)
        comp[r] = min(comp.get(r, v), v)
    want = {v: comp[find(v)] for v in nodes}

    from otlp_wire_spark.operators import dedup

    df = spark.createDataFrame(edge_list, "id_a long, id_b long")
    # both paths must match the sequential reference: the r6 small-graph
    # driver union-find (default gate) AND the distributed min-label
    # propagation (gate forced off)
    got = {r.id: r.rep for r in dedup.dedup_clusters(df).collect()}
    assert got == want
    got_dist = {
        r.id: r.rep
        for r in dedup.dedup_clusters(df, small_graph_limit=0).collect()
    }
    assert got_dist == want


def test_stratified_sample_random_matches_sequential(spark):
    """Randomized differential for the hash-threshold sampler: random
    docs with duplicate texts (hash ties), null texts, and a null
    stratum, vs the sequential reference (per-stratum sort by signed
    fnv64a(text), doc_id; take quota)."""
    import numpy as np

    from otlp_wire_spark.functions.fnv import fnv64a
    from otlp_wire_spark.operators.curate import stratified_sample

    rng = random.Random(0x57A7)
    texts = [f"doc body {i} with words w{i % 7}" for i in range(40)]
    rows = []
    for i in range(200):
        t = None if rng.random() < 0.03 else rng.choice(texts)
        s = rng.choice(["a", "b", "c", None])
        rows.append((i, t, s))
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    quota = 3
    got = sorted(
        (r.doc_id for r in stratified_sample(df, "stratum", quota).collect())
    )

    def key(row):
        h = fnv64a((row[1] or "").encode())
        return (np.uint64(h).astype(np.int64), row[0])

    want = []
    for s in {"a", "b", "c", None}:
        members = sorted((r for r in rows if r[2] == s), key=key)
        want.extend(r[0] for r in members[:quota])
    assert got == sorted(want)
