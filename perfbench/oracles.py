"""Reference answers the benchmark checks every call against.

``route_oracle`` is the pure-Python pipeline oracle over a page-id window,
built from the per-id functions of ``otlp_wire_spark.fixtures.oracle``
(which ships ``expected_pipeline`` only for windows starting at id 0).

``curation_oracle`` runs the repository's DuckDB mirror of the curation
query (``queries_ext.SQL_CURATION_PIPELINE``) over a corpus on disk.
"""

from __future__ import annotations


def route_oracle(base: int, n: int, num_shards: int) -> dict:
    """Expected pipeline aggregates for pages ``[base, base + n)``, computed
    in four spawned processes over contiguous id chunks."""
    import multiprocessing

    step = -(-n // 4)
    chunks = [(base + lo, min(step, n - lo), num_shards) for lo in range(0, n, step)]
    with multiprocessing.get_context("spawn").Pool(len(chunks)) as pool:
        parts = pool.starmap(_route_chunk, chunks)
        pool.close()
        pool.join()
    out = parts[0]
    for p in parts[1:]:
        for k in ("context_count", "context_bytes", "quarantined", "total_pages"):
            out[k] += p[k]
        out["band_counts"] = [a + b for a, b in zip(out["band_counts"], p["band_counts"])]
        for shard, counters in p["per_shard"].items():
            for k, v in counters.items():
                out["per_shard"][shard][k] += v
    return out


def _route_chunk(base: int, n: int, num_shards: int) -> dict:
    from otlp_wire_spark.fixtures import oracle as o

    band_counts = [0] * 6
    per_shard = {
        k: {"page_count": 0, "record_count": 0, "byte_count": 0}
        for k in range(num_shards)
    }
    ctx_count = ctx_bytes = quarantined = 0
    for i in range(base, base + n):
        html = o.html(i)
        e = o.extract(html)
        if e.parse_error is not None:
            quarantined += 1
            continue
        band_counts[o.severity_band(e.severity)] += 1
        s = per_shard[o.shard(i, num_shards)]
        s["page_count"] += 1
        s["record_count"] += e.record_count
        s["byte_count"] += len(html)
        lc = o.lookup_context(o.lang(i), o.host(i))
        if lc is not None:
            ctx_count += 1
            ctx_bytes += len(lc[1])
    return {
        "band_counts": band_counts,
        "per_shard": per_shard,
        "context_count": ctx_count,
        "context_bytes": ctx_bytes,
        "quarantined": quarantined,
        "total_pages": n,
    }


def curation_oracle(corpus_dir: str) -> list[tuple]:
    """Rows of the curation query, in its output order, per DuckDB."""
    import duckdb

    from otlp_wire_spark.queries_ext import SQL_CURATION_PIPELINE

    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{corpus_dir}/documents.parquet/*.parquet')"
        )
        return [tuple(r) for r in con.execute(SQL_CURATION_PIPELINE).fetchall()]
    finally:
        con.close()
