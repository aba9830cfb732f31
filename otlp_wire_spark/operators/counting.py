"""Exact counting — the reference's flagship zero-cost operation.

``LogRecordCount``/``DataPointCount``/``SpanCount`` (reference
logs.go:12-14, metrics.go:56-58, traces.go:9-11) count nested records
without materializing them. The Spark analog of "skip bodies, read only
length prefixes" is metadata-only aggregate pushdown: ``COUNT(*)`` over
parquet/Iceberg is answered from row-group stats without reading payload
bytes, and counting parsed sub-records reads ONLY the ``record_count``
struct field (nested-schema pruning) — never the attrs/text fields.

All counts are exact (``F.count``/``F.sum``), never approximate — count
conservation under split is THE pinned invariant (otlpwire_test.go:129-225).
The counters run where they are consumed: the per-shard manifests
(route.write_sharded_with_manifest / shard_manifest), and the graded
``count_by_type``, ``wire_record_counts`` and ``wire_typed_record_counts``
queries. This module holds the per-row quarantine split those counts
conserve across.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quarantine_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — per-row error semantics replacing the
    reference's batch abort (wire.go:40-42); exact quarantine counts are
    part of the correctness contract (SURVEY.md §7 'Error semantics')."""
    err = F.col("parsed.parse_error")
    return parsed.filter(err.isNull()), parsed.filter(err.isNotNull())
