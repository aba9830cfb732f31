"""Scale-path guards (VERDICT r2 #5-#7): the cosine query-side collect is
bounded, IVF repeat queries reuse a materialized cell table with zero
corpus re-scans, and the manifest strategy auto-falls-back above the
conditional-agg width limit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otlp_wire_spark.operators import similarity
from otlp_wire_spark.plans.asserts import executed_plan


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = [
        (i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_arrow_query_limit_enforced(vectors):
    with pytest.raises(ValueError, match="max_queries"):
        similarity.cosine_topk_arrow(vectors, vectors, k=2, max_queries=10)
    # within the limit it works
    out = similarity.cosine_topk_arrow(
        vectors, vectors.where(F.col("vec_id") < 3), k=2, max_queries=10
    ).collect()
    assert {r.q_id for r in out} == {0, 1, 2}


def test_ivf_persisted_cells_reused_across_query_batches(spark, vectors):
    """Repeat query batches against a persisted IVF cell table must read
    the cache (InMemoryTableScan) and never re-shuffle/re-scan the corpus:
    the only non-broadcast exchange in the plan is the final per-query
    window rank over the (tiny) scored candidate set."""
    assigned = similarity.ivf_persist_cells(vectors, dim=8, n_centroids=4)
    try:
        baseline = similarity.ivf_ann_topk(
            vectors, vectors.where(F.col("vec_id") < 2), dim=8, k=2,
            n_centroids=4,
        ).collect()
        for lo, hi in ((0, 2), (2, 4)):  # two query batches
            q = vectors.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            )
            df = similarity.ivf_ann_topk(
                vectors, q, dim=8, k=2, n_centroids=4, assigned=assigned
            )
            plan = executed_plan(df)
            # corpus side must read the cache, not recompute the assignment
            assert "InMemoryTableScan" in plan
            # and the corpus is never shuffled: it feeds the broadcast join
            # straight from cache; the only non-broadcast exchanges are
            # POST-join over the tiny scored candidate set (window rank +
            # the final orderBy sort)
            n_exchanges = plan.count("Exchange") - plan.count(
                "BroadcastExchange"
            )
            assert n_exchanges == 2, plan
            rows = df.collect()
            assert rows
            if (lo, hi) == (0, 2):
                assert [tuple(r) for r in rows] == [
                    tuple(r) for r in baseline
                ]
    finally:
        assigned.unpersist()


def _mk_routed(spark, n, num_shards):
    from otlp_wire_spark.fixtures.pages import generate_pages
    from otlp_wire_spark.operators.parse import parse_pages
    from otlp_wire_spark.operators.route import route

    pages = generate_pages(spark, n, num_partitions=4)
    parsed = parse_pages(pages, fields=["record_count"])
    return route(parsed, route_key_col="url", num_shards=num_shards)


@pytest.mark.parametrize("num_shards,expected", [(8, "observe"), (128, "readback")])
def test_manifest_strategy_auto_fallback(spark, tmp_path, num_shards, expected):
    from otlp_wire_spark.operators.route import (
        shard_manifest,
        write_sharded_with_manifest,
    )

    routed = _mk_routed(spark, 600, num_shards)
    out = str(tmp_path / f"sink{num_shards}")
    per_shard = write_sharded_with_manifest(routed, out, num_shards)
    assert per_shard.strategy == expected
    # exactness: identical to the independent grouped-manifest formulation
    ref = {
        r["shard"]: (r["page_count"], r["record_count"], r["byte_count"])
        for r in shard_manifest(routed).collect()
    }
    total = sum(v["page_count"] for v in per_shard.values())
    assert total == 600
    for k, v in per_shard.items():
        want = ref.get(k, (0, 0, 0))
        assert (
            v["page_count"], v["record_count"], v["byte_count"]
        ) == want, f"shard {k}"


def test_manifest_readback_with_extra_metrics(spark, tmp_path):
    from otlp_wire_spark.operators.route import write_sharded_with_manifest

    routed = _mk_routed(spark, 200, 128)
    per_shard, extras = write_sharded_with_manifest(
        routed, str(tmp_path / "sink_extra"), 128,
        extra_metrics={"n_rows": F.count(F.lit(1))},
    )
    assert per_shard.strategy == "readback"
    assert int(extras["n_rows"]) == 200


def test_manifest_readback_ignores_sentinel_shards(spark, tmp_path):
    """Fused-mode quarantine rows land in shard=-1; the read-back manifest
    must restrict to 0..num_shards-1 (their counts ride extra_metrics, as
    on the observe path) — a phantom -1 key would double-count quarantined
    rows in the pipeline's conservation total."""
    from otlp_wire_spark.operators.route import write_sharded_with_manifest

    routed = _mk_routed(spark, 300, 128).withColumn(
        "shard",
        F.when(F.col("parsed.parse_error").isNotNull(), F.lit(-1)).otherwise(
            F.col("shard")
        ),
    )
    n_quar = routed.where(F.col("shard") == -1).count()
    assert n_quar > 0, "fixture must quarantine some rows"
    per_shard, extras = write_sharded_with_manifest(
        routed, str(tmp_path / "sink_q"), 128,
        extra_metrics={
            "quarantined": F.sum(F.when(F.col("shard") == -1, 1).otherwise(0))
        },
    )
    assert per_shard.strategy == "readback"
    assert set(per_shard) == set(range(128))  # no -1 key
    assert sum(v["page_count"] for v in per_shard.values()) == 300 - n_quar
    assert int(extras["quarantined"]) == n_quar


def test_manifest_dynamic_overwrite_keeps_observe_strategy(spark, tmp_path):
    """Under partitionOverwriteMode=dynamic an overwrite only replaces the
    partitions present in THIS job's data — a read-back would count stale
    shard directories from a previous run, so the manifest must stay on
    the observe strategy (and keep describing only this job's rows)."""
    from otlp_wire_spark.operators.route import write_sharded_with_manifest

    out = str(tmp_path / "sink_dyn")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        # first run writes 300 rows across many shards; second run writes
        # 100 rows touching fewer shards — dynamic overwrite leaves the
        # rest of the first run's shard dirs committed
        write_sharded_with_manifest(_mk_routed(spark, 300, 128), out, 128)
        second = write_sharded_with_manifest(_mk_routed(spark, 100, 128), out, 128)
    finally:
        spark.conf.set(key, prev)
    assert second.strategy == "observe"
    assert sum(v["page_count"] for v in second.values()) == 100


def test_manifest_append_mode_keeps_observe_strategy(spark, tmp_path):
    """A read-back counts whatever is committed, so append-mode writes must
    stay on the this-job-only observe strategy at any shard count."""
    from otlp_wire_spark.operators.route import write_sharded_with_manifest

    routed = _mk_routed(spark, 100, 128)
    out = str(tmp_path / "sink_app")
    first = write_sharded_with_manifest(routed, out, 128, mode="append")
    second = write_sharded_with_manifest(routed, out, 128, mode="append")
    assert first.strategy == "observe" and second.strategy == "observe"
    # each call reports ITS OWN write, not the accumulated sink
    assert sum(v["page_count"] for v in second.values()) == 100


def test_ivf_assigned_quantizer_mismatch_rejected(spark, vectors):
    assigned = similarity.ivf_assign_cells(vectors, dim=8, n_centroids=8)
    with pytest.raises(ValueError, match="quantizer"):
        similarity.ivf_ann_topk(
            vectors, vectors.where(F.col("vec_id") < 2), dim=8, k=2,
            n_centroids=4, assigned=assigned,
        )


def test_ivf_fingerprintless_assigned_guards_trained_centroids(spark, vectors):
    """A stored assignment table WITHOUT the quantizer fingerprint (pre-
    stamp layout) was necessarily built with the synthetic quantizer — its
    fingerprint is reconstructible from dim/n_centroids. Custom trained
    centroids at the SAME dim/n_centroids must therefore be rejected
    (silently joining cell ids across two quantizers returns wrong
    neighbors); the synthetic default must still be accepted."""
    assigned = similarity.ivf_assign_cells(vectors, dim=8, n_centroids=4)
    meta = dict(assigned.schema["cell"].metadata)
    assert "ivf_quantizer" in meta
    meta.pop("ivf_quantizer")
    legacy = assigned.withMetadata("cell", meta)

    trained = similarity.ivf_centroids_from_sample(
        vectors, dim=8, n_centroids=4
    )
    q = vectors.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="quantizer"):
        similarity.ivf_ann_topk(
            vectors, q, dim=8, k=2, n_centroids=4,
            assigned=legacy, centroids=trained,
        )
    # same legacy table + the synthetic default: reconstructed fingerprint
    # matches, no raise
    out = similarity.ivf_ann_topk(
        vectors, q, dim=8, k=2, n_centroids=4, assigned=legacy,
    ).collect()
    assert out


def test_ivf_partial_stamp_rejected(spark, vectors):
    """An assigned table whose stamp is incomplete in any shape OTHER than
    the reconstructible legacy (dim+n_centroids, no fingerprint) cannot
    prove quantizer identity — it must raise, not silently compare only
    the keys it happens to carry (a dim-only stamp would otherwise join
    cell ids across different quantizers unchecked)."""
    assigned = similarity.ivf_assign_cells(vectors, dim=8, n_centroids=4)
    meta = dict(assigned.schema["cell"].metadata)
    partial = assigned.withMetadata("cell", {"ivf_dim": meta["ivf_dim"]})
    with pytest.raises(ValueError, match="partial"):
        similarity.ivf_ann_topk(
            vectors, vectors.where(F.col("vec_id") < 2), dim=8, k=2,
            n_centroids=4, assigned=partial,
        )


def test_trained_quantizer_sample_tolerates_null_elements(spark, vectors):
    """An embedding array with a NULL ELEMENT (right length, non-null
    column) must be filtered executor-side, not TypeError in float() on
    the driver mid-training."""
    bad = spark.createDataFrame(
        [(999, [0.1, None, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8])],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.ivf_centroids_from_sample(
        vectors.unionByName(bad), dim=8, n_centroids=4
    )
    assert len(cents) == 4
    # and the null-element row did not poison determinism vs the clean set
    assert cents == similarity.ivf_centroids_from_sample(
        vectors, dim=8, n_centroids=4
    )


def test_bucket_bounds_survive_duplicated_string_ids(spark):
    """xxhash64 is a function of the VALUE: heavily duplicated ids share
    one hash, so a hot id can fill the whole hash-order sample page with
    copies of itself and collapse the boundary set toward one bucket
    (serializing the pass-2 prefix-sum window). The distinct-side
    fallback must recover the rare ids."""
    from otlp_wire_spark.operators.pack import _bucket_bounds

    rows = [(f"hot-{i % 2}",) for i in range(5000)]
    rows += [(f"rare-{i:04d}",) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string").repartition(7)
    bounds = _bucket_bounds(df, "doc_id", parts=8)
    assert len(bounds) >= 4, bounds


def test_pack_string_ids_use_sampled_bounds(spark):
    """Non-numeric id columns take the seeded-sample boundary path — same
    exact packing as the numeric path, no silent single-bucket collapse."""
    from otlp_wire_spark.operators.pack import pack_sequences

    rows = [(f"doc-{i:05d}", (i * 7) % 23 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens int").repartition(7)
    out = sorted(
        (r.seq_id, r.doc_id, r.doc_tok_start, r.doc_tok_end)
        for r in pack_sequences(df, seq_len=64).collect()
    )
    # sequential reference packer
    want, tok = [], 0
    for did, n in sorted(rows):
        start = 0
        while start < n:
            seq = (tok + start) // 64
            end = min(n, (seq + 1) * 64 - tok)
            want.append((seq, did, start, end))
            start = end
        tok += n
    assert out == sorted(want)


def test_near_dup_persist_cache_bounded(spark):
    """Bounded at keep=2 PREVIOUS generations (ADVICE r4: the downstream
    passes are lazy, so in a build-all-then-execute flow each registry
    query's cache must survive the next two persist=True constructions) —
    but never unbounded: a fifth call retires the first."""
    from otlp_wire_spark.operators import dedup

    dedup._LAST_PERSISTED_SHINGLES.clear()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    handles = []
    for lo in (0, 5, 10, 12, 14):
        dedup.near_dup_pairs(
            docs.where(F.col("doc_id") >= lo), persist=True
        ).collect()
        handles.append(dedup._LAST_PERSISTED_SHINGLES[-1])
    assert len(dedup._LAST_PERSISTED_SHINGLES) == 3  # current + 2 previous
    assert dedup._LAST_PERSISTED_SHINGLES == handles[-3:]
    assert not handles[0].storageLevel.useMemory  # oldest actually retired
    assert handles[-1].storageLevel.useMemory
    spark.catalog.clearCache()
    dedup._LAST_PERSISTED_SHINGLES.clear()


def test_pipe_caches_survive_build_all_then_execute(spark):
    """Build curation_pipeline AND incremental_curate, then collect both
    (a build-all-then-execute caller): building the second must not unpersist
    the first's eagerly built caches before the first runs. Retirement is
    by call generation — each call registers 3 handles — so the previous
    call's handles survive exactly one further construction."""
    from otlp_wire_spark import queries_ext as qx

    sf = "/root/testdata/sf0.001"
    qx._PIPE_CACHES.clear()
    first = qx.q_curation_pipeline(spark, sf)
    first_gen = list(qx._PIPE_CACHES[-1])
    assert len(first_gen) == 3
    second = qx.q_incremental_curate(spark, sf)
    assert all(h.storageLevel.useMemory for h in first_gen)
    assert first.collect() and second.collect()
    assert all(h.storageLevel.useMemory for h in first_gen)
    # bounded: the next construction retires the first call's generation
    # (a query other than the first: the cache is keyed by plan, so an
    # identical rebuild would re-cache exactly the first call's plans)
    qx.q_incremental_curate(spark, sf)
    assert not any(h.storageLevel.useMemory for h in first_gen)
    assert len(qx._PIPE_CACHES) == 2
    spark.catalog.clearCache()
    qx._PIPE_CACHES.clear()


def test_segment_dedup_hot_boilerplate_segment(spark):
    """3k docs sharing one boilerplate segment: the first-occurrence window
    gets one 3k-row group (sort-spills, never an agg buffer) and exactly
    one instance survives — the cookie-banner shape at corpus scale."""
    from otlp_wire_spark.operators.dedup import segment_dedup

    rows = [(i, f"shared banner text unique{i} tail{i} here{i}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(13)
    out = segment_dedup(df, seg_tokens=3).collect()
    assert len(out) == 3000
    kept_banner = [r for r in out if r.clean_text.startswith("shared banner text")]
    assert len(kept_banner) == 1 and kept_banner[0].doc_id == 0
    # every doc keeps its unique second segment
    assert all(r.n_kept >= 1 for r in out)
    assert sum(r.n_dropped for r in out) == 2999


def test_pack_persist_input_evaluates_upstream_once(spark):
    """global_token_offsets triple-reads its input lineage (quantiles,
    per-bucket totals, window). With persist_input=True an expensive
    upstream must be evaluated exactly once — the cache feeds all three
    passes; without it, more than once (the documented behavior direct
    callers must plan for)."""
    from pyspark.sql.types import LongType

    from otlp_wire_spark.operators.pack import global_token_offsets

    sc = spark.sparkContext
    n = 64

    def tracked_df():
        acc = sc.accumulator(0)

        @F.udf(LongType())
        def tracked(v):
            acc.add(1)
            return v

        df = spark.range(n).select(
            F.col("id").alias("doc_id"),
            tracked(F.col("id") % 7 + 1).alias("n_tokens"),
        )
        return acc, df

    acc1, d1 = tracked_df()
    out1 = global_token_offsets(d1, persist_input=True).collect()
    assert acc1.value == n, "persist_input=True must evaluate upstream once"

    acc2, d2 = tracked_df()
    out2 = global_token_offsets(d2, persist_input=False).collect()
    assert acc2.value > n, "without the knob the lineage is re-evaluated"

    # identical offsets either way
    assert sorted((r.doc_id, r.tok_before) for r in out1) == sorted(
        (r.doc_id, r.tok_before) for r in out2
    )
    spark.catalog.clearCache()
