"""incremental_curate: admit a new batch against an existing curated
corpus using only its (fingerprints, shingles) index — pinned to the
batch-equivalence invariant: admitted == full-batch pipeline over
old ∪ new restricted to new ids (append-only id contract)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from otlp_wire_spark.operators import dedup
from otlp_wire_spark.operators.curate import (
    curate,
    curation_index,
    incremental_curate,
)
from otlp_wire_spark.plans.asserts import executed_plan

_W = [
    "the", "quick", "brown", "fox", "jumps", "over", "and", "lazy",
    "dog", "runs", "to", "river", "bank", "under", "bright", "moon",
]


def _sentence(seed: int, n: int = 12) -> str:
    return " ".join(_W[(seed * 5 + j * 3) % len(_W)] for j in range(n))


def _corpus():
    """Old ids 0..39, new ids 100..119 — planted: exact dup of old text,
    near-dups across the boundary (incl. of an old doc that old-old dedup
    drops — the tombstone case), intra-new near-dups and exact dups,
    fresh docs."""
    old = [(i, _sentence(i)) for i in range(36)]
    old += [
        (36, _sentence(3)),                       # exact dup of 3 (dropped old)
        (37, _sentence(5) + " extra tail"),       # near-dup of 5
        (38, _sentence(7)[:-1] + "x shifted end"),
        (39, _sentence(11) + " more words here"),  # near-dup of 11
    ]
    # hand-written fresh texts: _sentence collides for seeds ≡ mod 16, so
    # fresh docs must NOT come from it
    f1 = "the silver owl glides to the old tower and waits for dawn light"
    f2 = "a warm wind moves over the wide field and bends the tall grass"
    f3 = (
        "the small boat drifts down the calm river past stone bridges and "
        "sleeping houses toward the open sea"
    )
    new = [
        (100, _sentence(2)),                       # exact dup of old 2
        (101, _sentence(5) + " extra tails"),      # near old 5 AND old 37
        (102, _sentence(11) + " more words here"),  # exact dup of old 39
        (103, f1),                                 # fresh
        (104, f2),                                 # fresh
        (105, f1 + " tiny change"),                # near-dup of new 103
        (106, f1),                                 # exact dup of new 103
        (107, "zzz qqq xxx"),                      # non-en → filtered
        (108, f3),                                 # fresh, longer
        (109, f3 + " appended"),                   # near-dup of new 108
    ]
    return old, new


def _full_batch_admitted(spark, docs):
    kept = curate(docs)
    pairs = dedup.near_dup_pairs(kept, bucket_cap=10_000_000)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return kept.join(drop, "doc_id", "left_anti")


@pytest.mark.parametrize("with_bands", [True, False])
def test_incremental_equals_batch_restricted_to_new(spark, with_bands):
    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    fps, sh, bt = curation_index(curate(old))
    admitted = incremental_curate(
        new, fps, sh, bucket_cap=10_000_000,
        existing_bands=bt if with_bands else None,
    )
    got = {r.doc_id for r in admitted.select("doc_id").collect()}

    both = spark.createDataFrame(old_rows + new_rows, schema)
    want = {
        r.doc_id
        for r in _full_batch_admitted(spark, both).select("doc_id").collect()
        if r.doc_id >= 100
    }
    assert got == want
    # the fixture must actually exercise each drop class
    assert 100 not in got            # exact dup of old
    assert 102 not in got            # exact dup of a near-dup-DROPPED old doc
    assert 106 not in got            # exact dup within new
    assert 107 not in got            # filtered (non-en)
    assert {103, 104, 108}.issubset(got)
    dropped_near = {101, 105, 109} - got
    assert dropped_near, "fixture must drop at least one near-dup"


def test_incremental_output_rows_match_batch_rows(spark):
    """Not just the id set: full rows (text + score columns) agree."""
    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    fps, sh, bt = curation_index(curate(old))
    admitted = incremental_curate(
        new, fps, sh, bucket_cap=10_000_000, existing_bands=bt
    )
    both = spark.createDataFrame(old_rows + new_rows, schema)
    batch = _full_batch_admitted(spark, both).where(F.col("doc_id") >= 100)
    cols = sorted(admitted.columns)
    assert cols == sorted(batch.columns)
    a = sorted(map(tuple, admitted.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b


def test_incremental_sig_stage_is_o_new_not_o_corpus(spark):
    """The 100 TB cost-contract pin (VERDICT r4 #1): with the banded-
    signature index supplied, the only MinHash signatures an admission
    batch computes are the NEW batch's own — `sig_rows` == |exact-admitted
    new| × bands, independent of corpus size. (The pre-r5 shape computed
    signatures for the whole union shingle table: here that would be
    ≥ (40+|fresh|) × 4 rows.)"""
    from pyspark.sql import Observation

    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    fps, sh, bt = curation_index(curate(old))
    obs = Observation("sig_volume")
    incremental_curate(
        new, fps, sh, bucket_cap=10_000_000,
        existing_bands=bt, observation=obs,
    ).collect()
    # fresh = curate(new) minus exact dups vs corpus — compute it the same
    # way the operator stages it
    n_fresh = (
        curate(new)
        .withColumn("_fp", F.md5(F.col("text")))
        .join(fps.select(F.col("fp").alias("_fp")), "_fp", "left_anti")
        .count()
    )
    assert n_fresh > 0
    assert obs.get["sig_rows"] == n_fresh * 4
    assert obs.get["sig_rows"] < len(old_rows) * 4  # ≪ corpus-sized


def test_incremental_candidates_join_parquet_band_index(spark, tmp_path):
    """End-to-end through an ON-DISK index (the deployment shape): the
    three index tables round-trip parquet, admission joins the stored band
    table (the admitted plan reads the bands directory), and results equal
    the in-memory run."""
    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    fps, sh, bt = curation_index(curate(old))
    fdir, sdir, bdir = (
        str(tmp_path / "fps"), str(tmp_path / "sh"), str(tmp_path / "bands")
    )
    fps.write.parquet(fdir)
    sh.write.parquet(sdir)
    bt.write.parquet(bdir)
    admitted = incremental_curate(
        new,
        spark.read.parquet(fdir),
        spark.read.parquet(sdir),
        bucket_cap=10_000_000,
        existing_bands=spark.read.parquet(bdir),
    )
    plan = executed_plan(admitted)
    assert "bands" in plan  # the stored band table is in the plan
    # the stored band index is narrowed to the batch's buckets by a
    # broadcast LEFT SEMI join on the band signature — never a corpus-wide
    # signature recompute or shuffle
    assert any(
        "BroadcastHashJoin" in ln and "LeftSemi" in ln and "band_sig" in ln
        for ln in plan.splitlines()
    ), plan
    # the corpus shingle index is scanned EXACTLY once (the id_a verify
    # side) — the sh_b side must come from the batch's own shingle table,
    # never a second full index scan (pre-r5-review shape paid one whose
    # old rows the id_b join then discarded)
    assert plan.count(sdir) == 1, plan
    got = {r.doc_id for r in admitted.select("doc_id").collect()}
    want = {
        r.doc_id
        for r in incremental_curate(
            new, fps, sh, bucket_cap=10_000_000, existing_bands=bt
        ).select("doc_id").collect()
    }
    assert got == want


def test_band_index_rows_equal_recompute(spark):
    """Stored band rows must be byte-identical to what an LSH pass would
    recompute from the shingle index — the determinism contract that lets
    the incremental join replace the recompute (both impls)."""
    from otlp_wire_spark.operators.dedup import band_table_from_shingles

    old_rows, _ = _corpus()
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    curated = curate(old)
    for impl in ("expr", "arrow"):
        _fps, sh, bt = curation_index(curated, impl=impl)
        recomputed = band_table_from_shingles(sh, 16, 4, impl)
        a = sorted(map(tuple, bt.collect()))
        b = sorted(map(tuple, recomputed.collect()))
        assert a == b and a


def test_two_batch_chain_with_index_additions(spark, tmp_path):
    """Batch-mode index maintenance via ``with_index_additions``: admit
    batch 1, extend the on-disk index with the returned additions, admit
    batch 2 against the extended index — each batch's admissions must
    equal the full-batch pipeline over everything, restricted to that
    batch's ids. Exercises cross-batch exact dups, cross-batch near-dups,
    and the tombstone contract ACROSS batches (a batch-2 dup of a doc
    that batch-1 admission itself dropped must still be rejected)."""
    old_rows, b1_rows = _corpus()
    f1 = b1_rows[3][1]                 # id 103's fresh text
    f3 = b1_rows[8][1]                 # id 108's fresh text
    f4 = "seven green birds circle the high cliff then settle on the ledge"
    f5 = "cold rain taps the tin roof while the kettle hums on the stove"
    b2_rows = [
        (200, f1),                      # exact dup of batch-1 admitted 103
        (201, f3 + " slight change"),   # near-dup of batch-1 admitted 108
        (202, f1 + " tiny change"),     # exact dup of batch-1 DROPPED 105
                                        #   (tombstone across batches)
        (203, f4),                      # fresh
        (204, f5),                      # fresh
        (205, f4 + " at dusk"),         # near-dup within batch 2
    ]
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    b1 = spark.createDataFrame(b1_rows, schema)
    b2 = spark.createDataFrame(b2_rows, schema)

    # seed index on disk (deployment shape), then the chain: each batch's
    # additions are appended to the stored tables BEFORE the next call
    # (consuming them immediately, per the cache-retirement contract)
    fps, sh, bt = curation_index(curate(old))
    fdir, sdir, bdir = (
        str(tmp_path / "fps"), str(tmp_path / "sh"), str(tmp_path / "bands")
    )
    fps.write.parquet(fdir)
    sh.write.parquet(sdir)
    bt.write.parquet(bdir)

    admitted1, add_fps, add_sh, add_bands = incremental_curate(
        b1,
        spark.read.parquet(fdir),
        spark.read.parquet(sdir),
        bucket_cap=10_000_000,
        existing_bands=spark.read.parquet(bdir),
        with_index_additions=True,
    )
    got1 = {r.doc_id for r in admitted1.select("doc_id").collect()}
    add_fps.write.mode("append").parquet(fdir)
    add_sh.write.mode("append").parquet(sdir)
    add_bands.write.mode("append").parquet(bdir)

    admitted2 = incremental_curate(
        b2,
        spark.read.parquet(fdir),
        spark.read.parquet(sdir),
        bucket_cap=10_000_000,
        existing_bands=spark.read.parquet(bdir),
    )
    got2 = {r.doc_id for r in admitted2.select("doc_id").collect()}

    ref = _full_batch_admitted(
        spark, spark.createDataFrame(old_rows + b1_rows + b2_rows, schema)
    )
    want = {r.doc_id for r in ref.select("doc_id").collect()}
    assert got1 == {i for i in want if 100 <= i < 200}
    assert got2 == {i for i in want if i >= 200}
    # each planted drop class actually fired
    assert 200 not in got2              # cross-batch exact dup
    assert 202 not in got2              # exact dup of a tombstoned b1 doc
    assert {203, 204}.issubset(got2)
    assert (201 not in got2) or (205 not in got2)


def test_incremental_rejects_overlapping_ids(spark):
    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    fps, sh, _bt = curation_index(curate(old))
    overlapping = spark.createDataFrame(
        [(5, "the unique stale batch row and its words")], schema
    )
    with pytest.raises(ValueError, match="append-only"):
        incremental_curate(overlapping, fps, sh)


def test_incremental_no_broadcast_path_equivalent(spark):
    """broadcast is a measured-size HINT, not a correctness dependency:
    with broadcast_key_limit=0 (every key set 'too big', hints dropped,
    joins degrade to shuffles — the huge-batch shape that would blow
    Spark's 8 GB broadcast cap if the hint were forced) the admitted set
    is identical to the default broadcast path."""
    old_rows, new_rows = _corpus()
    schema = "doc_id long, text string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    fps, sh, bt = curation_index(curate(old))
    kw = dict(bucket_cap=10_000_000, existing_bands=bt)
    cols = None
    got = {}
    for lim in (5_000_000, 0):
        adm = incremental_curate(new, fps, sh, broadcast_key_limit=lim, **kw)
        cols = cols or sorted(adm.columns)
        got[lim] = sorted(map(tuple, adm.select(*cols).collect()))
    assert got[0] == got[5_000_000] and got[0]
