"""End-to-end pipeline golden tests — count conservation under split
(reference otlpwire_test.go:129-225), band histogram + context stats parity
(benchmark_comparison_test.go:297-301), routed-row equality, resumability.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from otlp_wire_spark.fixtures import oracle
from otlp_wire_spark.fixtures.pages import generate_lookup, generate_pages
from otlp_wire_spark.pipeline import run_pipeline
from otlp_wire_spark.plans.asserts import executed_plan

N = 2000
NUM_SHARDS = 8


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("pipeline_run"))
    pages = generate_pages(spark, N)
    lookup = generate_lookup(spark)
    res = run_pipeline(spark, pages, lookup, run_dir, num_shards=NUM_SHARDS,
                       fingerprint=f"pages-n{N}")
    return res


@pytest.fixture(scope="module")
def expected():
    return oracle.expected_pipeline(N, NUM_SHARDS)


def test_band_histogram_matches_oracle(result, expected):
    assert result.band_counts == expected["band_counts"]


def test_context_stats_match_oracle(result, expected):
    assert result.context_count == expected["context_count"]
    assert result.context_bytes == expected["context_bytes"]


def test_per_shard_counts_exact(result, expected):
    """Per-sink (page, record, byte) counters match the pure-Python oracle
    shard-for-shard — the count-conservation invariant."""
    for k in range(NUM_SHARDS):
        want = expected["per_shard"][k]
        got = result.per_shard.get(k, {"page_count": 0, "record_count": 0,
                                       "byte_count": 0})
        assert got == want, f"shard {k}"


def test_count_conservation(result, expected):
    """Σ per-shard totals + quarantined == input size (otlpwire_test.go:188-222)."""
    assert result.quarantined == expected["quarantined"]
    assert sum(v["page_count"] for v in result.per_shard.values()) \
        == N - expected["quarantined"]
    assert result.total_pages == N


def test_routed_rows_equal_and_bytes_verbatim(spark, result):
    """Routed-row equality: every clean input row lands in exactly the
    oracle-assigned shard with its html bytes preserved verbatim (the
    WriteTo byte-identity analog, wire.go:356-370)."""
    routed = spark.read.parquet(os.path.join(result.run_dir, "routed", "data"))
    rows = routed.select("page_id", "shard", "html").collect()
    assert len(rows) == N - result.quarantined
    for r in rows:
        i = r["page_id"]
        assert r["shard"] == oracle.shard(i, NUM_SHARDS), i
        assert bytes(r["html"]) == oracle.html(i), i


def test_quarantine_rows_recorded(spark, result, expected):
    q = spark.read.parquet(os.path.join(result.run_dir, "parsed", "quarantine"))
    ids = {r["page_id"] for r in q.select("page_id").collect()}
    assert ids == {i for i in range(N) if i % 101 == 0}


def test_resume_skips_completed_stages(spark, result):
    """Re-running with the same fingerprint must skip persisted stages and
    return identical aggregates (idempotent resume, north_rule)."""
    res2 = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark),
        result.run_dir, num_shards=NUM_SHARDS, fingerprint=f"pages-n{N}",
    )
    assert set(res2.stages_skipped) == {"parsed", "routed"}
    assert res2.band_counts == result.band_counts
    assert res2.per_shard == result.per_shard
    assert res2.quarantined == result.quarantined


def test_deleted_manifest_forces_recompute(spark, result, tmp_path_factory):
    """A sink without its manifest is NOT trusted: deleting the routed
    manifest (simulating a crash between data commit and manifest commit)
    forces recomputation, and the answers come out identical."""
    import shutil

    run_dir = str(tmp_path_factory.mktemp("pipeline_rerun"))
    shutil.copytree(result.run_dir, run_dir, dirs_exist_ok=True)
    os.remove(os.path.join(run_dir, "routed", "_MANIFEST.json"))
    res2 = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark), run_dir,
        num_shards=NUM_SHARDS, fingerprint=f"pages-n{N}",
    )
    assert "routed" not in res2.stages_skipped  # recomputed
    assert "parsed" in res2.stages_skipped  # upstream still trusted
    assert res2.per_shard == result.per_shard
    assert res2.band_counts == result.band_counts


def test_manifests_written_with_data(result):
    for stage in ("parsed", "routed", "aggregate"):
        p = os.path.join(result.run_dir, stage, "_MANIFEST.json")
        assert os.path.exists(p), stage
        m = json.load(open(p))
        assert m["status"] == "complete"
        assert m["fingerprint"] == f"pages-n{N}"


def test_fused_mode_matches_persisted_and_oracle(spark, result, expected,
                                                 tmp_path_factory):
    """persist_stages=False (single-pass, quarantine as shard=-1 sink, all
    counters via Observation) must produce aggregates identical to both the
    persisted mode and the pure-Python oracle — and must NOT write a parsed
    stage directory (data passes exactly once)."""
    run_dir = str(tmp_path_factory.mktemp("pipeline_fused"))
    res = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark), run_dir,
        num_shards=NUM_SHARDS, fingerprint=f"fused-n{N}", persist_stages=False,
    )
    assert res.band_counts == expected["band_counts"]
    assert res.context_count == expected["context_count"]
    assert res.context_bytes == expected["context_bytes"]
    assert res.per_shard == result.per_shard
    assert res.quarantined == expected["quarantined"]
    assert res.total_pages == N
    assert not os.path.exists(os.path.join(run_dir, "parsed"))
    # quarantine rows live under their own sink partition
    qdir = os.path.join(run_dir, "routed", "data", "shard=-1")
    assert os.path.isdir(qdir)
    q = spark.read.parquet(os.path.join(run_dir, "routed", "data")).where(
        F.col("shard") == -1
    )
    assert {r["page_id"] for r in q.select("page_id").collect()} == {
        i for i in range(N) if i % 101 == 0
    }
    # fused resume: whole-run skip off the single routed manifest
    res2 = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark), run_dir,
        num_shards=NUM_SHARDS, fingerprint=f"fused-n{N}", persist_stages=False,
    )
    assert res2.stages_skipped == ["routed"]
    assert res2.band_counts == res.band_counts
    assert res2.per_shard == res.per_shard


def test_fused_rerun_over_persisted_run_dir_recomputes(spark, result, expected):
    """Mixed-mode resume: a persisted-mode routed manifest carries no
    'quarantined' key — re-running the same run_dir with --fused must
    RECOMPUTE (not KeyError, not trust a manifest missing its fields)."""
    res = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark),
        result.run_dir, num_shards=NUM_SHARDS, fingerprint=f"pages-n{N}",
        persist_stages=False,
    )
    assert "routed" not in res.stages_skipped  # recomputed in fused form
    assert res.band_counts == expected["band_counts"]
    assert res.quarantined == expected["quarantined"]
    assert res.per_shard == expected["per_shard"]


def test_broadcast_join_in_plan(spark):
    """The enrichment join must be a broadcast hash join — no shuffle of the
    fact side (SURVEY.md §2.3)."""
    from otlp_wire_spark.operators.enrich import enrich, with_url_host

    df = enrich(with_url_host(generate_pages(spark, 100)), generate_lookup(spark))
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_plan_shape_budget(spark):
    """Scale-shape gate for the routed pipeline plan: EXACTLY ONE shuffle
    exchange (the mandated repartition-by-shard; enrichment must stay
    broadcast), and zero Python evaluation (fields-limited expr parse).
    A second full-data shuffle sneaking in is a 100 TB regression even if
    every correctness gate stays green."""
    from otlp_wire_spark.operators.enrich import enrich, with_url_host
    from otlp_wire_spark.operators.parse import parse_pages
    from otlp_wire_spark.operators.route import route
    from otlp_wire_spark.plans.asserts import (
        assert_broadcast_join,
        assert_max_shuffles,
        assert_no_python,
        count_shuffles,
    )

    parsed = parse_pages(
        generate_pages(spark, 100),
        fields=["severity", "severity_text", "record_count"],
    )
    routed = route(enrich(with_url_host(parsed), generate_lookup(spark)),
                   "url", num_shards=8)
    assert count_shuffles(routed) == 1, "exactly the shard repartition"
    assert_max_shuffles(routed, 1)
    assert_broadcast_join(routed)
    assert_no_python(routed)


def test_changed_output_shape_forces_recompute(spark, result):
    """Re-running the same run_dir + fingerprint with a DIFFERENT
    num_shards must NOT resume: the manifest records the output-shape
    knobs (num_shards, sink_format), so a changed knob recomputes instead
    of returning the previous run's shape as if it were this one's (the
    fingerprint alone defaults to a constant and cannot catch this)."""
    res2 = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark),
        result.run_dir, num_shards=NUM_SHARDS * 2, fingerprint=f"pages-n{N}",
    )
    assert "routed" not in res2.stages_skipped
    assert len(res2.per_shard) == NUM_SHARDS * 2
    assert sum(v["page_count"] for v in res2.per_shard.values()) == sum(
        v["page_count"] for v in result.per_shard.values()
    )
    # and back: original shard count again resumes cleanly after recompute
    res3 = run_pipeline(
        spark, generate_pages(spark, N), generate_lookup(spark),
        result.run_dir, num_shards=NUM_SHARDS * 2, fingerprint=f"pages-n{N}",
    )
    assert "routed" in res3.stages_skipped
    assert res3.per_shard == res2.per_shard
