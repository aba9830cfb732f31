"""Single-scan near-dup (VERDICT r2 #1) and the capped-LSH truncation
branch (VERDICT r2 #2): the shingle side-table must be tokenized ONCE when
persisted, all sharing modes must agree bit-for-bit, and the bucket cap
must actually truncate while staying value-graded against the oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from otlp_wire_spark.operators import dedup
from otlp_wire_spark.plans.asserts import executed_plan

DOCS = [
    # three near-identical docs (shared buckets), one unique, one empty,
    # one NULL — and enough filler that buckets/bands have real work
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river shore"),
    (3, "the quick brown fox jumps over the lazy dog near the river bend"),
    (4, "completely different content about distributed query engines"),
    (5, ""),
    (6, None),
    (7, "the quick brown fox jumps over the lazy dog near the river bank"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.jaccard_q4) for r in df.collect())


def test_sharing_modes_bit_identical(spark, docs):
    base = _pairs(dedup.near_dup_pairs(docs, impl="expr"))
    assert base, "fixture must produce near-dup pairs"
    for impl in ("expr", "arrow"):
        got = _pairs(dedup.near_dup_pairs(docs, impl=impl, persist=True))
        assert got == base, f"persist=True impl={impl}"
    side = dedup.shingle_table(docs).persist()
    try:
        for impl in ("expr", "arrow"):
            got = _pairs(dedup.near_dup_pairs(docs, impl=impl, shingles=side))
            assert got == base, f"precomputed shingles impl={impl}"
    finally:
        side.unpersist()
    spark.catalog.clearCache()


def test_persist_scans_corpus_once(spark, docs):
    """The single-evaluation proof: an accumulator-counting UDF upstream of
    near_dup_pairs fires exactly once per row when persist=True (the
    candidate AND verify passes read the cached shingle table), vs 2× per
    row (sig pass + each verify side re-derives lineage) without."""
    sc = spark.sparkContext
    n_rows = len(DOCS)

    def tracked_factory():
        acc = sc.accumulator(0)

        @F.udf(StringType())
        def tracked(t):
            acc.add(1)
            return t

        return acc, tracked

    acc1, tracked1 = tracked_factory()
    d1 = docs.withColumn("text", tracked1("text"))
    dedup.near_dup_pairs(d1, impl="arrow", persist=True).collect()
    assert acc1.value == n_rows, "persist=True must scan the corpus once"
    spark.catalog.clearCache()

    acc2, tracked2 = tracked_factory()
    d2 = docs.withColumn("text", tracked2("text"))
    dedup.near_dup_pairs(d2, impl="arrow", persist=False).collect()
    assert acc2.value > n_rows, "without persist each pass recomputes"


def test_persist_plan_reads_cache(spark, docs):
    plan = executed_plan(dedup.near_dup_pairs(docs, persist=True))
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_capped_lsh_truncates_and_caps_pairs(spark, docs):
    """cap=1 keeps only the lowest id per bucket → zero candidate pairs;
    cap=2 keeps two → pairs only among the two lowest ids per bucket; the
    Observation reports the dropped ids."""
    none = dedup.minhash_lsh_candidates(docs, bucket_cap=1).collect()
    assert none == []

    obs = Observation("cap")
    two = dedup.minhash_lsh_candidates(
        docs, bucket_cap=2, observation=obs
    ).collect()
    got = sorted((r.id_a, r.id_b) for r in two)
    uncapped = sorted(
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs, bucket_cap=10**6).collect()
    )
    assert set(got) < set(uncapped)
    assert obs.get["truncated_ids"] > 0
    assert obs.get["truncated_buckets"] > 0


def test_capped_gate_query_truncates_at_sf001(spark):
    """The driver-gate capped query must exercise REAL truncation on the
    gate fixture (sf0.01 == sf0.001 documents: buckets of 3 > cap of 2)."""
    from otlp_wire_spark.queries_ext import _LSH_GATE_CAP, _t

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    obs = Observation("gate_cap")
    capped = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", bucket_cap=_LSH_GATE_CAP,
        observation=obs, impl="arrow",
    ).collect()
    assert capped  # still produces candidates
    assert obs.get["truncated_ids"] > 0  # and genuinely truncates
