"""Route stage — deterministic FNV-64a fan-out to per-shard sinks.

Re-expresses the reference's shard/split path (README.md:58-73,
example_test.go:32-65): extract the routing key, ``FNV-64a(key) % N``,
hand each group to its worker. In Spark the worker boundary IS the shuffle:
``repartition(num_shards, 'shard')`` then a partitionBy('shard') sink write,
so each sink file set is one shard — the ``WriteTo`` re-wrap analog
(wire.go:356-370) with bytes preserved verbatim in the payload column.

Scale notes (100 TB):
- routed bytes never pass through the driver; the only wide exchange is the
  single hash repartition on the tiny int shard key.
- per-shard skew: FNV over high-cardinality URL keys distributes ~uniformly;
  hot HOSTS do not skew shards because the route key is the full URL (one
  page = one "resource"). Host-level aggregations use salting — see
  ``salted_host_stats``.
- sink format is pluggable ("iceberg" on a real cluster → atomic snapshot
  commits give exactly-once under task retries; "parquet" in this sandbox —
  Spark's output committer gives the same job-level atomicity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otlp_wire_spark.functions.fnv import (
    fnv64a_hex_expr,
    shard_expr,
    shard_of_hash,
)


def with_shard(
    df: DataFrame, route_key_col: str = "url", num_shards: int = 8
) -> DataFrame:
    """shard = FNV-64a(route_key bytes) % N, uint64-space modulo
    (example_test.go:46-48; bit-exactness pinned by tests/test_fnv.py).

    Pure JVM for both key types. String keys: byte-exact for any UTF-8
    content (ASCII rows use the cheap code-point fold, multi-byte rows the
    hex-pair byte fold; see fnv64a_expr). Binary keys: the same hex-pair
    byte fold over ``hex(key)`` — any bytes, valid UTF-8 or not; a NULL
    key hashes like empty bytes, as a NULL string key does. Both pinned
    bit-identical to the pure-Python fnv64a by tests/test_fnv.py."""
    if dict(df.dtypes).get(route_key_col) == "binary":
        hx = F.coalesce(F.hex(F.col(route_key_col)), F.lit(""))
        return df.withColumn(
            "shard", shard_of_hash(fnv64a_hex_expr(hx), num_shards)
        )
    return df.withColumn("shard", shard_expr(F.col(route_key_col), num_shards))


def route(
    df: DataFrame,
    route_key_col: str = "url",
    num_shards: int = 8,
    partitions_per_shard: int = 1,
) -> DataFrame:
    """Assign shards and co-locate each shard's rows (the explicit
    repartition-by-shard-key the north_rule mandates).

    ``partitions_per_shard > 1`` adds a deterministic sub-shard salt to the
    repartition key so sink-write parallelism isn't capped at num_shards
    (8 shards on a 1000-executor cluster would otherwise leave 992 cores
    idle during the write). Rows of one shard still land exclusively in
    that shard's sink directory — partitionBy('shard') guarantees routing
    regardless of task layout; the salt only splits the WORK."""
    sharded = with_shard(df, route_key_col, num_shards)
    if partitions_per_shard <= 1:
        return sharded.repartition(num_shards, F.col("shard"))
    salt = F.pmod(F.xxhash64(F.col(route_key_col)), F.lit(partitions_per_shard))
    return sharded.repartition(
        num_shards * partitions_per_shard, F.col("shard"), salt
    )


def write_sharded(
    routed: DataFrame,
    out_path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Per-shard sink: one directory (≙ sink table) per shard."""
    (
        routed.write.format(fmt)
        .mode(mode)
        .partitionBy("shard")
        .save(out_path)
    )


class ShardManifestResult(dict):
    """Per-shard counter dict (int shard → counters) that also SURFACES
    which collection path produced it: ``.strategy`` is ``"observe"``
    (metrics rode the write job) or ``"readback"`` (sink re-scanned).
    Plain-dict subclass — every existing caller keeps working."""

    strategy: str = "observe"


def write_sharded_with_manifest(
    routed: DataFrame,
    out_path: str,
    num_shards: int,
    payload_col: str = "html",
    fmt: str = "parquet",
    mode: str = "overwrite",
    extra_metrics: dict[str, "F.Column"] | None = None,
    observe_threshold: int = 64,
) -> ShardManifestResult | tuple[ShardManifestResult, dict]:
    """Write per-shard sinks AND collect the exact per-shard counters from
    the SAME job via Observation metrics — no second scan of the sink.

    At 100 TB the read-back alternative re-reads everything just written;
    observed metrics ride the write tasks for free and are exact (computed
    on precisely the rows the committed job wrote — task retries don't
    double-count because metrics come from the committed attempt).

    The Observation path costs 3·num_shards conditional aggregates in the
    write stage (codegen'd conditional-agg width has practical limits), so
    above ``observe_threshold`` shards the function AUTOMATICALLY falls
    back to a grouped aggregate over the sink read-back — same exact
    counters (it reads the committed files), one extra scan, no 30k-wide
    aggregate. The returned dict's ``.strategy`` attribute says which path
    ran. ``extra_metrics`` ride the write job via Observation on BOTH
    paths (they're O(#metrics), not O(shards)).

    Read-back parity details: the read-back aggregate restricts to shards
    0..num_shards-1, so out-of-range sentinel shards (the fused pipeline's
    ``shard=-1`` quarantine sink) are counted by their ``extra_metrics``
    only — exactly like the observe path. And because a read-back counts
    whatever is COMMITTED in the sink (not just this job's rows), it is
    only used with ``mode="overwrite"`` AND a STATIC resolved
    ``spark.sql.sources.partitionOverwriteMode``: dynamic overwrite only
    replaces the partitions present in THIS job's data, so stale shard
    directories from a previous run would stay committed and be counted
    into the manifest. Under dynamic mode (or append) the function keeps
    the observe strategy at any shard count — exact this-job-only
    counters beat aggregate width."""
    from pyspark.sql import Observation

    use_readback = num_shards > observe_threshold and mode == "overwrite"
    if use_readback:
        pom = routed.sparkSession.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "STATIC"
        )
        if (pom or "STATIC").upper() != "STATIC":
            use_readback = False
    shard = F.col("shard")
    rec = F.col("parsed.record_count")
    size = F.length(F.col(payload_col))

    exprs = (
        [c.alias(n) for n, c in extra_metrics.items()] if extra_metrics else []
    )
    if not use_readback:
        for k in range(num_shards):
            is_k = F.when(shard == k, 1).otherwise(0)
            exprs.append(F.sum(is_k).alias(f"pages_{k}"))
            exprs.append(
                F.sum(F.when(shard == k, rec).otherwise(0)).alias(f"records_{k}")
            )
            exprs.append(
                F.sum(F.when(shard == k, size).otherwise(0)).alias(f"bytes_{k}")
            )

    obs = Observation("shard_manifest") if exprs else None
    observed = routed.observe(obs, *exprs) if obs is not None else routed
    observed.write.format(fmt).mode(mode).partitionBy("shard").save(out_path)
    m = obs.get if obs is not None else {}

    if use_readback:
        # grouped agg over the COMMITTED sink (not the input lineage —
        # recomputing upstream could diverge under nondeterminism); empty
        # shards are filled with zeros
        sink = routed.sparkSession.read.format(fmt).load(out_path)
        agg_rows = (
            sink.where(
                (F.col("shard") >= 0) & (F.col("shard") < num_shards)
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("p"),
                F.sum(rec).cast("long").alias("r"),
                F.sum(size).cast("long").alias("b"),
            )
            .collect()
        )
        per_shard = {
            k: {"page_count": 0, "record_count": 0, "byte_count": 0}
            for k in range(num_shards)
        }
        for r in agg_rows:
            per_shard[int(r["shard"])] = {
                "page_count": int(r["p"]),
                "record_count": int(r["r"] or 0),
                "byte_count": int(r["b"] or 0),
            }
    else:
        per_shard = {
            k: {
                "page_count": int(m[f"pages_{k}"] or 0),
                "record_count": int(m[f"records_{k}"] or 0),
                "byte_count": int(m[f"bytes_{k}"] or 0),
            }
            for k in range(num_shards)
        }

    result = ShardManifestResult(per_shard)
    result.strategy = "readback" if use_readback else "observe"
    if extra_metrics is not None:
        return result, {name: m[name] for name in extra_metrics}
    return result


def shard_manifest(routed: DataFrame, payload_col: str = "html") -> DataFrame:
    """Per-sink exact counters — (page_count, record_count, byte_count) per
    shard, mirroring the reference's count-conservation invariant
    (otlpwire_test.go:188-222): Σ per-shard == batch totals, checked by
    tests/test_pipeline.py. Map-side partial aggregation makes the shuffle
    carry ≤ num_shards rows per task."""
    return (
        routed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.sum(F.col("parsed.record_count")).cast("long").alias("record_count"),
            F.sum(F.length(F.col(payload_col))).cast("long").alias("byte_count"),
        )
        .orderBy("shard")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join primitive: two tables
    bucketed on the same key with the same bucket count join WITHOUT any
    shuffle exchange (each bucket pairs with its twin; at 100 TB this
    removes the dominant network pass of every recurring join against the
    table). Sorted buckets additionally skip the sort of a sort-merge
    join. Pinned by tests/test_bucketing.py: the join plan over two
    bucketed tables must contain ZERO (non-broadcast) Exchange nodes."""
    w = df.write.format(fmt).mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def salted_host_stats(
    df: DataFrame, host_col: str = "url_host", salt_buckets: int = 16
) -> DataFrame:
    """Two-phase salted aggregation for the Zipf-skewed host key
    (north_rule: 'salted keys for skewed hosts').

    Phase 1 groups by (host, salt) — hot hosts split across
    ``salt_buckets`` reducers — phase 2 re-aggregates the tiny partials.
    The salt is a deterministic spray (pmod of a hash of the row's url), not
    a random number, so retries are idempotent.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    )
    partial = salted.groupBy(host_col, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.length(F.col("html"))).alias("_b"),
    )
    return (
        partial.groupBy(host_col)
        .agg(
            F.sum("_n").cast("long").alias("page_count"),
            F.sum("_b").cast("long").alias("byte_count"),
        )
        .orderBy(F.desc("page_count"), F.col(host_col))
    )
