"""Operator-level tests for the training-data-pipeline suite: dedup,
similarity, text stats, multimodal plumbing. The DuckDB-oracle parity for
these lives in test_entry.py (driver-gate replication); here we pin the
semantic properties an oracle can't express (recall bounds, plants,
determinism, error quarantine)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from otlp_wire_spark.functions.fnv import fnv64a
from otlp_wire_spark.operators import dedup, similarity, textstats
from otlp_wire_spark.operators.multimodal import (
    extract_media_features,
    generate_media,
)
from otlp_wire_spark.plans.asserts import executed_plan


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (5, "aa"), (9, "aa"), (7, "bb"), (3, "cc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_exact_dedup_rows_returns_full_surviving_rows(spark):
    """Keep-rows variant: min-id representative per identical text, with
    every original column intact — usable directly in a curation pipeline
    (VERDICT r1 item 8)."""
    df = spark.createDataFrame(
        [(1, "aa", "x1"), (2, "bb", "x2"), (5, "aa", "x5"),
         (9, "aa", "x9"), (7, "bb", "x7"), (3, None, "x3"), (8, None, "x8")],
        "doc_id long, text string, extra string",
    )
    rows = {r["doc_id"]: r for r in dedup.exact_dedup_rows(df).collect()}
    assert set(rows) == {1, 2, 3}  # min-id per group; NULLs group together
    assert rows[1]["extra"] == "x1" and rows[2]["extra"] == "x2"
    assert rows[3]["text"] is None and rows[3]["extra"] == "x3"


def test_minhash_lsh_recall_on_planted_near_dups(spark):
    """Every pair with Jaccard ≥ 0.95 must appear in the LSH candidates
    (16 hashes / 4 bands: miss probability < 1e-5 at j=0.95)."""
    base = "w" + " w".join(str(i) for i in range(60))
    rows = [(i, base + f" tail{i}") for i in range(10)]  # near-dups of base
    rows += [(100 + i, f"completely different text number {i} " * 5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(df, threshold=0.95).collect()
    }
    assert exact, "fixture must contain true near-dups"
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(df).collect()
    }
    assert exact <= cand
    # and LSH must prune: nowhere near all C(20,2) pairs
    assert len(cand) < 150


def test_near_dup_pairs_is_verified_lsh(spark):
    """Composed near-dup = exact-Jaccard-verified LSH candidates: every
    emitted pair meets the exact threshold (banding false positives are
    filtered out), and every high-similarity pair LSH can see is kept."""
    base = "w" + " w".join(str(i) for i in range(60))
    rows = [(i, base + f" tail{i}") for i in range(10)]
    rows += [(100 + i, f"completely different text number {i} " * 5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard_q4"]
        for r in dedup.jaccard_pairs(df, threshold=0.5).collect()
    }
    cand = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(df).collect()}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_q4"]
        for r in dedup.near_dup_pairs(df, threshold=0.5).collect()
    }
    assert set(got) == set(exact) & cand
    for pair, q4 in got.items():
        assert q4 == exact[pair], pair  # exact kernel, not an approximation


def test_minhash_lsh_hot_bucket_capped_and_observed(spark):
    """A pathological boilerplate bucket (5k identical docs → one bucket per
    band) must be pre-capped by the window BEFORE any aggregation — no
    collect_list of the full bucket in the plan — and the truncation must be
    observable, not silent (VERDICT r1 item 2)."""
    from pyspark.sql import Observation

    n, cap = 5000, 50
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate text repeated on every page of the site").alias("text"),
    )
    obs = Observation("lsh_truncation")
    pairs = dedup.minhash_lsh_candidates(
        df, bucket_cap=cap, observation=obs
    ).collect()
    # only the cap lowest ids survive → exactly C(cap,2) pairs, ids < cap
    assert len(pairs) == cap * (cap - 1) // 2
    assert all(r["id_a"] < cap and r["id_b"] < cap for r in pairs)
    # truncation surfaced via Observation: 4 bands × 1 hot bucket each
    m = obs.get
    assert m["truncated_buckets"] == 4
    assert m["truncated_ids"] == 4 * (n - cap)
    # plan shape: cap applied via Window+Filter upstream of the aggregate
    plan = executed_plan(dedup.minhash_lsh_candidates(df, bucket_cap=cap))
    assert "Window" in plan
    assert plan.index("Window") > plan.index("ObjectHashAggregate") or (
        "collect_list" in plan  # aggregate appears above (=after) the window
    )


def test_simhash_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely unrelated words about spark shuffles and parquet"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup.simhash16_col(F.col("text")).alias("sh")
        ).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(out[1], out[2]) <= 6
    assert ham(out[1], out[3]) >= ham(out[1], out[2])
    assert out[4] == 0 and out[5] == 0


def test_minhash_signature_arrow_matches_expr(spark):
    """The vectorized numpy MinHash signature must be bit-identical to the
    JVM expression path (tokens, shingling, unsigned-u64 fold into [0,p),
    (a*x+b) mod p, empty-set sentinel) on every text shape."""
    from pyspark.sql import functions as FF

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None), (3, ""), (4, "  "), (5, "two toks"),
        (6, "exactly three tokens here no wait five"),
        (7, "café 中文 naïve unicode shingles everywhere today ok"),
        (8, "rep rep rep rep rep rep rep"),  # duplicate shingles
        # whitespace adversarial: F.trim strips spaces ONLY; Java \s is
        # ASCII-only; F.split keeps leading/trailing empty fields
        (9, "\tlead tab then words make shingles"),
        (10, "trailing tab words for the window\t"),
        (11, "nbsp stays one token with more words here"),
        (12, "vertical\x0bsplit tokens appear here as well ok"),
        (13, "\t"), (14, " \t "),
    ] + [(100 + i, f"doc {i} body w{i % 5} w{(i * 7) % 11} w{(i * 3) % 13} tail{i % 2}")
         for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = dedup._shingled(df, "doc_id", "text", 3).select(
        "id", dedup.shingle_hashes_from(FF.col("sh")).alias("hs"))
    a = {r["id"]: r["s"] for r in hashed.select(
        "id", dedup.minhash_sig_from_hashes(FF.col("hs"), 16).alias("s")).collect()}
    b = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.minhash_signature_arrow_col(FF.col("text"), 16, 3).alias("s")
    ).collect()}
    assert a == b


def test_simhash_arrow_matches_expr(spark):
    """The vectorized numpy SimHash (scale path) must be bit-identical to
    the pure-JVM expression impl on every shape: plain text, NULL, empty,
    whitespace-only, single token, non-ASCII, long docs."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None), (3, ""), (4, "   "), (5, "single"),
        (6, "café 中文 naïve — tokens"), (7, "a b c d e f g h i j " * 40),
        (8, "tab\tand\nnewline separated tokens"),
        (9, "\tleading tab"), (10, "trailing tab\t"), (11, "nb sp token"),
        (12, "\t"), (13, " \t "),
    ] + [(100 + i, f"generated doc {i} with words w{i % 7} w{(i * 3) % 11}")
         for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.simhash16_col(F.col("text")).alias("s")).collect()}
    b = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dedup.simhash16_arrow_col(F.col("text")).alias("s")).collect()}
    assert a == b


def test_ivf_ann_finds_planted_duplicate_and_subsets_exact(spark):
    """IVF: a duplicated vector shares its query's nearest cell by
    construction → must come back top-1 at cosine 1.0; every returned
    cosine must equal the brute-force kernel's (same exact math)."""
    dim = 8
    vecs = [(i, [math.sin(i * 1.3 + d * 0.7) for d in range(dim)]) for i in range(50)]
    vecs.append((999, list(vecs[7][1])))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.ivf_ann_topk(
        df, df.where(F.col("vec_id") == 999), dim=dim, k=3, n_centroids=4, n_probe=2
    ).collect()
    assert out and out[0]["c_id"] == 7 and out[0]["cosine"] == pytest.approx(1.0)
    exact = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in similarity.cosine_topk(df, df.where(F.col("vec_id") < 3), k=49).collect()
    }
    approx = similarity.ivf_ann_topk(
        df, df.where(F.col("vec_id") < 3), dim=dim, k=5, n_centroids=4, n_probe=2
    ).collect()
    for r in approx:
        assert exact[(r["q_id"], r["c_id"])] == r["cosine"]


def test_ivf_trained_centroids_improve_recall(spark):
    """VERDICT r4 #4: a TRAINED coarse quantizer (spherical k-means on a
    bounded data-derived sample) must beat the synthetic sin-hash
    quantizer on clustered embeddings — the realistic distribution shape.
    8 Gaussian clusters: trained cells track the clusters (recall ≥ 0.85
    at n_probe=2); the arbitrary quantizer splits them (≤ 0.8 here).
    Training must also be deterministic — a pure function of (data, seed),
    so the centroids can embed as oracle literals."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim, ncl, per = 8, 8, 40
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for c in range(ncl):
        for _ in range(per):
            v = centers[c] + 0.35 * rng.randn(dim)
            rows.append((len(rows), [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        rows[::16], "vec_id long, embedding array<double>"
    )

    ex: dict = {}
    for r in similarity.cosine_topk(corpus, queries, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.c_id)

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r.q_id, set()).add(r.c_id)
        return sum(
            len(got.get(q, set()) & s) / len(s) for q, s in ex.items()
        ) / len(ex)

    r_default = recall(
        similarity.ivf_ann_topk(corpus, queries, dim, k=5, n_centroids=8, n_probe=2)
    )
    cents = similarity.ivf_centroids_from_sample(corpus, dim, 8)
    assert cents == similarity.ivf_centroids_from_sample(corpus, dim, 8)
    r_trained = recall(
        similarity.ivf_ann_topk(
            corpus, queries, dim, k=5, n_centroids=8, n_probe=2, centroids=cents
        )
    )
    # measured on this deterministic fixture: 0.68 vs 0.92
    assert r_trained > r_default
    assert r_trained >= 0.85
    assert r_default <= 0.80


def test_cosine_topk_arrow_matches_expr(spark):
    """The BLAS block-matmul top-k (scale path) must return exactly the
    expression kernel's rows: same neighbors, same 4dp cosines, same
    tie-breaks, self-match excluded."""
    dim = 16
    vecs = [(i, [math.sin(i * 0.9 + d * 1.1) for d in range(dim)]) for i in range(120)]
    vecs.append((500, list(vecs[11][1])))  # duplicate → cosine 1.0 + tie
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 6)
    a = [tuple(r) for r in similarity.cosine_topk(df, q, k=5).collect()]
    b = [tuple(r) for r in similarity.cosine_topk_arrow(df, q, k=5).collect()]
    assert a == b
    assert len(a) == 6 * 5


def test_pack_sequences_empty_input_returns_empty(spark):
    """Zero surviving rows upstream (a fully-decontaminated corpus — hit
    for real at sf1.0, where the benchmark slice covers the whole 3-gram
    space) must yield an EMPTY typed result, not an AnalysisException:
    the offset map over zero buckets used to build as ``map()`` of VOID
    and fail resolution at ``map()[_bkt]``."""
    from otlp_wire_spark.operators.pack import pack_sequences

    df = spark.createDataFrame([], "doc_id long, n_tokens int")
    out = pack_sequences(df, seq_len=64)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "seq_id", "doc_id", "doc_tok_start", "doc_tok_end", "n_toks",
    ]


def test_pack_sequences_invariants(spark):
    """Packing invariants: every sequence except the last carries exactly
    seq_len tokens; each document's segments tile it exactly (contiguous,
    ordered, summing to its token count); zero-token docs are dropped; the
    distributed prefix sum must hold regardless of partitioning."""
    from otlp_wire_spark.operators.pack import pack_sequences

    rows = [(i, (i * 7) % 23) for i in range(300)]  # includes n_tokens == 0
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int").repartition(7)
    out = pack_sequences(df, seq_len=64).collect()
    per_seq: dict[int, int] = {}
    per_doc: dict[int, list] = {}
    for r in out:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_toks"]
        per_doc.setdefault(r["doc_id"], []).append(r)
        assert 0 < r["n_toks"] <= 64
    total = sum(n for _, n in rows)
    assert sum(per_seq.values()) == total
    last = max(per_seq)
    for sid, n in per_seq.items():
        assert n == 64 or sid == last, (sid, n)
    want_n = dict(rows)
    assert set(per_doc) == {i for i, n in rows if n > 0}
    for doc_id, segs in per_doc.items():
        segs.sort(key=lambda r: r["doc_tok_start"])
        assert segs[0]["doc_tok_start"] == 0
        assert segs[-1]["doc_tok_end"] == want_n[doc_id]
        for a, b in zip(segs, segs[1:]):
            assert a["doc_tok_end"] == b["doc_tok_start"]  # contiguous tiling
            assert a["seq_id"] + 1 == b["seq_id"]  # split only at boundaries


def test_pack_sequences_duplicate_ids_get_disjoint_intervals(spark):
    """Duplicate doc_ids must receive DISJOINT token intervals (explicit
    ROWS window frame — the default RANGE frame makes duplicates peers
    sharing one cumulative sum, double-booking tokens)."""
    from otlp_wire_spark.operators.pack import pack_sequences

    # duplicate id 7 carries THREE DIFFERENT counts: under a ROWS frame
    # their offsets depend on sort order, so the window needs the
    # (id, count) secondary key to be deterministic run-to-run and to
    # match the oracle (which sorts the same two keys)
    df = spark.createDataFrame(
        [(7, 10), (7, 4), (7, 10), (1, 5), (9, 3)],
        "doc_id long, n_tokens int",
    ).repartition(3)
    runs = []
    for rep in range(2):
        out = pack_sequences(df.repartition(2 + rep), seq_len=16).collect()
        assert sum(r["n_toks"] for r in out) == 32  # every token placed once
        per_seq: dict[int, int] = {}
        for r in out:
            per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_toks"]
        last = max(per_seq)
        for sid, n in per_seq.items():
            assert n == 16 or sid == last, (sid, n)
        runs.append(sorted(map(tuple, out)))
    assert runs[0] == runs[1]  # deterministic under different partitioning


def test_pack_sequences_property_matches_python_packer(spark):
    """Property: for random token-count profiles, the distributed packer
    must emit exactly the rows of a trivial sequential pure-Python packer."""
    from hypothesis import given, settings, strategies as st

    from otlp_wire_spark.operators.pack import pack_sequences

    def python_pack(counts: list[int], cap: int):
        out, before = [], 0
        for doc_id, n in enumerate(counts):
            if n <= 0:
                before += max(0, n)
                continue
            for seq in range(before // cap, (before + n - 1) // cap + 1):
                s = max(0, seq * cap - before)
                e = min(n, (seq + 1) * cap - before)
                out.append((seq, doc_id, s, e, e - s))
            before += n
        return sorted(out)

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=50),
        st.sampled_from([16, 64]),
    )
    def run(counts, cap):
        df = spark.createDataFrame(
            list(enumerate(counts)), "doc_id long, n_tokens int"
        ).repartition(5)
        got = sorted(tuple(r) for r in pack_sequences(df, seq_len=cap).collect())
        assert got == python_pack(counts, cap)

    run()


def test_textstats_edge_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "der und das ist nicht ein"),
            (6, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.ws_token_count(F.col("text")).alias("n"),
            textstats.lang_id_col(F.col("text")).alias("lang"),
            textstats.quality_score(F.col("text")).alias("q"),
            textstats.fingerprint_col(F.col("text")).alias("fp"),
        ).collect()
    }
    assert rows[1]["n"] == 8 and rows[1]["lang"] == "en"
    assert rows[2]["n"] == 0 and rows[3]["n"] == 0 and rows[4]["n"] == 0
    assert rows[2]["q"] == 0.0
    assert rows[5]["lang"] == "de"
    assert rows[6]["lang"] == "unknown"
    import numpy as np

    assert rows[2]["fp"] == np.uint64(fnv64a(b"")).astype(np.int64)
    assert rows[1]["fp"] == np.uint64(
        fnv64a(b"the cat and the dog of the house")
    ).astype(np.int64)


def test_rolling_fingerprint_arrow_matches_expr(spark):
    """Vectorized rolling fingerprint must equal the JVM window fold on
    every shape: NULL, empty, shorter-than-window (degenerate = whole-text
    hash), exactly-window, long, multi-byte chars (windows are CHARACTER
    windows, hashed over their UTF-8 bytes)."""
    rows = [
        (1, None), (2, ""), (3, "short"), (4, "exactly8"), (5, "exactly8!"),
        (6, "the quick brown fox jumps over the lazy dog " * 10),
        (7, "café 中文 naïve — unicode windows here"),
    ] + [(100 + i, f"doc {i} " + " ".join(f"w{(i * j) % 13}" for j in range(20)))
         for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["f"] for r in df.select(
        "doc_id", textstats.rolling_fingerprint_col(F.col("text"), 8).alias("f")
    ).collect()}
    b = {r["doc_id"]: r["f"] for r in df.select(
        "doc_id", textstats.rolling_fingerprint_arrow_col(F.col("text"), 8).alias("f")
    ).collect()}
    assert a == b


def test_multimodal_features_and_quarantine(spark):
    media = generate_media(spark, 300)
    out = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert len(out) == 300
    for i, r in out.items():
        if i % 47 == 0:
            assert r["decode_error"] is not None and r["feature"] is None
        else:
            assert r["decode_error"] is None
            assert len(r["feature"]) == 5
    # fingerprint matches pure-python FNV over the actual payload bytes
    payloads = {
        r["media_id"]: bytes(r["payload"]) if r["payload"] is not None else b""
        for r in media.collect()
    }
    import numpy as np

    for i in (1, 2, 50, 47):
        want = np.uint64(fnv64a(payloads[i])).astype(np.int64)
        assert out[i]["payload_fingerprint"] == want, i


def test_multimodal_plan_is_arrow(spark):
    df = extract_media_features(generate_media(spark, 10))
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan


def _python_segment_dedup(rows, s=3):
    """Sequential reference: global first-occurrence segment dedup."""
    seen = set()
    out = {}
    for did, text in sorted(rows):
        toks = text.split() if text and text.strip() else []
        segs = [" ".join(toks[i : i + s]) for i in range(0, len(toks), s)]
        kept = []
        for seg in segs:
            if seg not in seen:
                seen.add(seg)
                kept.append(seg)
        out[did] = (len(segs), len(kept), len(segs) - len(kept), " ".join(kept))
    return out


def test_segment_dedup_hand_built(spark):
    """First (id, pos) occurrence of a segment survives globally; within-doc
    repeats are duplicates; empty docs survive with empty clean_text."""
    rows = [
        (1, "a b c x y z a b c"),   # segs: "a b c","x y z","a b c"(dup)
        (2, "a b c q r s"),          # "a b c" already owned by doc 1
        (3, None),
        (4, "q r s"),                # owned by doc 2
        (5, "fresh words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.n_dropped, r.clean_text)
        for r in dedup.segment_dedup(df).collect()
    }
    assert got == {
        1: (3, 2, 1, "a b c x y z"),
        2: (2, 1, 1, "q r s"),
        3: (0, 0, 0, ""),
        4: (1, 0, 1, ""),
        5: (1, 1, 0, "fresh words here"),
    }


def test_segment_dedup_property_matches_python(spark):
    """Distributed answer == sequential reference over a corpus dense enough
    to collide, under arbitrary partitioning."""
    vocab = ["red", "blue", "green", "gold"]
    rows = [
        (i, " ".join(vocab[(i * 7 + j) % 4] for j in range((i % 11) + 1)))
        for i in range(120)
    ]
    rows += [(200 + i, "") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.n_dropped, r.clean_text)
        for r in dedup.segment_dedup(df).collect()
    }
    want = _python_segment_dedup(rows)
    assert got == want
    assert sum(v[2] for v in want.values()) > 0, "fixture must collide"


def test_segment_dedup_hot_segment_plan_is_aggregate_not_window(spark):
    """The extreme-skew shape (round-3 verdict item): first-occurrence
    resolution must pass through a map-side-combinable HashAggregate
    (partial_min before the exchange collapses a 10^9-repeat boilerplate
    segment to one row per map task), NEVER a row_number window
    partitioned by the segment text — windows are not AQE-skew-splittable,
    so the hot key would sort-spill through ONE reducer. The join back is
    on the UNIQUE doc id (skew-free by construction)."""
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(50)],
        "doc_id long, text string",
    )
    plan = executed_plan(dedup.segment_dedup(df))
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan, "segment window regression"
    assert "partial_min" in plan, "first-occurrence must map-side combine"
    assert "SortAggregate" not in plan, "integral ids must stay hash-agg"


def test_segment_dedup_duplicate_ids_collapse_to_one_row(spark):
    """Duplicate doc ids are out of contract, but must still collapse to
    ONE output row per id (the pre-round-4 per-id groupBy behavior) —
    a per-input-row output would double-count n_kept in downstream
    count-conservation arithmetic."""
    df = spark.createDataFrame(
        [(1, "a b c"), (1, "a b c"), (2, "x y z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.segment_dedup(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_kept == 1 and rows[1].clean_text == "a b c"
    assert rows[2].n_kept == 1


def test_segment_dedup_planted_million_repeat_hot_segment(spark):
    """A planted ~10^6-repeat hot segment (the cookie-banner case): every
    doc is the same 3-token segment repeated 3×. Correctness: exactly one
    occurrence survives corpus-wide — doc 0 keeps one copy, every other
    doc is stripped to ''."""
    n = 350_000
    hot = "click accept cookies"
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(" ".join([hot] * 3)).alias("text"),
    )
    out = dedup.segment_dedup(docs)
    tot = out.agg(
        F.sum("n_kept").alias("k"),
        F.sum("n_segs").alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    assert (tot.k, tot.s, tot.c) == (1, 3 * n, n)
    winners = out.where(F.col("n_kept") > 0).collect()
    assert len(winners) == 1
    assert winners[0].doc_id == 0 and winners[0].clean_text == hot


def test_segment_topk_counts_and_tiebreak(spark):
    rows = [
        (1, "a b c x y z"),     # "a b c", "x y z"
        (2, "a b c a b c"),     # "a b c" ×2
        (3, "x y z"),
        (4, "solo seg here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.segment, r.n_occurrences, r.n_docs)
        for r in dedup.segment_topk(df, k=3).collect()
    ]
    # "a b c": 3 occurrences in 2 docs; "x y z": 2 in 2; then ties at 1
    # occurrence break on segment ASC
    assert got == [("a b c", 3, 2), ("x y z", 2, 2), ("solo seg here", 1, 1)]


def test_contamination_report_planted_overlap(spark):
    from otlp_wire_spark.operators.curate import contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, "zeta alpha beta gamma delta")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in contamination_report(corpus, bench).collect()
    }
    # shared distinct 3-grams: "alpha beta gamma", "beta gamma delta"
    assert got == {(1, 900): 2}


def test_stratified_sample_deterministic_and_quota(spark):
    from otlp_wire_spark.operators.curate import stratified_sample

    rows = [(i, f"w{i} x{i % 7} y{i % 3}", "ab"[i % 2]) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    a = sorted(
        (r.stratum, r.doc_id)
        for r in stratified_sample(df.repartition(3), "stratum", 10).collect()
    )
    b = sorted(
        (r.stratum, r.doc_id)
        for r in stratified_sample(df.repartition(11), "stratum", 10).collect()
    )
    assert a == b, "sample must be a pure function of the data"
    from collections import Counter

    per = Counter(s for s, _ in a)
    assert per == {"a": 10, "b": 10}


def test_hash_threshold_ansi_safe_at_boundary(spark):
    """ADVICE r4: the threshold must clamp (not overflow-cast) under
    spark.sql.ansi.enabled=true — the Spark 4 default a library caller
    invoking the samplers directly would run with. Probes the largest
    double below 1.0 and over-1 fractions; all must evaluate, the
    boundary cases to keep-all."""
    from otlp_wire_spark.operators.curate import _LONG_MAX, _hash_threshold

    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        fracs = [0.0, 0.5, 1.0 - 2**-53, 1.0, 1.5]
        row = spark.range(1).select(
            *[
                _hash_threshold(F.lit(v)).alias(f"t{i}")
                for i, v in enumerate(fracs)
            ]
        ).first()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert row["t3"] == _LONG_MAX and row["t4"] == _LONG_MAX
    assert row["t0"] == -(1 << 63)
    assert row["t1"] < row["t2"] <= _LONG_MAX


def _exact_sample_reference(rows, quota):
    """Sequential reference: per-stratum top-quota by (fnv64a(text), id)."""
    from collections import defaultdict

    from otlp_wire_spark.functions.fnv import fnv64a as fnv64a_py

    def _signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    by = defaultdict(list)
    for i, t, s in rows:
        by[s].append((_signed(fnv64a_py((t or "").encode())), i))
    return {
        (s, i)
        for s, lst in by.items()
        for _, i in sorted(lst)[:quota]
    }


def test_stratified_sample_window_input_is_o_quota_not_o_stratum(spark):
    """Round-3 verdict item #3: the exact sort must run over ~quota·margin
    hash-threshold survivors, never the whole stratum. One 12k-row stratum
    with quota 20 → the observed window input must be a small multiple of
    the quota AND the result must equal the exact full-sort reference."""
    from pyspark.sql import Observation

    from otlp_wire_spark.operators.curate import stratified_sample

    n, quota = 12_000, 20
    rows = [(i, f"tok{i} alpha{i % 97} beta{i % 31}", "big") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    obs = Observation("surv")
    sampled = stratified_sample(df, "stratum", quota, observation=obs)
    # the per-stratum hash threshold reaches the pre-filter through a
    # broadcast join (narrow, fully parallel)
    assert "BroadcastHashJoin" in executed_plan(sampled)
    got = {(r.stratum, r.doc_id) for r in sampled.collect()}
    assert got == _exact_sample_reference(rows, quota)
    surv = int(obs.get["window_input_rows"])
    assert surv >= quota
    assert surv <= 40 * quota, f"window input {surv} is not O(quota)"


def test_stratified_sample_escalation_fallback_stays_exact(spark):
    """A tiny margin forces under-selection so the verification pass must
    escalate (and ultimately keep-all) — the result must still be exact."""
    from otlp_wire_spark.operators.curate import stratified_sample

    rows = [(i, f"w{i} q{i % 5}", "ab"[i % 2]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    got = {
        (r.stratum, r.doc_id)
        for r in stratified_sample(
            df, "stratum", 25, margin=1e-7, max_rounds=2
        ).collect()
    }
    assert got == _exact_sample_reference(rows, 25)


def test_stratified_sample_null_stratum_and_duplicate_texts(spark):
    """NULL strata must stay sampleable (null-safe stats join) and massive
    duplicate-text hash mass (one hash value for half the stratum) must
    escalate to a still-exact answer."""
    from otlp_wire_spark.operators.curate import stratified_sample

    rows = [(i, "same text every time", None) for i in range(100)]
    rows += [(200 + i, f"u{i} v{i % 7}", None) for i in range(50)]
    rows += [(400 + i, f"m{i} n{i % 3}", "x") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    got = {
        (r.stratum, r.doc_id)
        for r in stratified_sample(df, "stratum", 40).collect()
    }
    assert got == _exact_sample_reference(rows, 40)


def test_stratified_sample_null_stratum_stays_on_prefilter(spark):
    """The verification join is null-safe: a NULL stratum must satisfy the
    survivor check like any other stratum — not perpetually 'look short'
    (null != null in a plain join) and silently escalate to the keep-all
    fallback. Pinned via the observed window input: with a generous margin
    it must stay O(quota), not O(n)."""
    from pyspark.sql import Observation

    from otlp_wire_spark.operators.curate import stratified_sample

    n, quota = 8_000, 10
    rows = [(i, f"nn{i} mm{i % 13} kk{i % 5}", None) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    obs = Observation("surv_null")
    got = stratified_sample(df, "stratum", quota, observation=obs).collect()
    assert len(got) == quota
    surv = int(obs.get["window_input_rows"])
    assert quota <= surv <= 60 * quota, (
        f"window input {surv}: null stratum fell back to keep-all"
    )


def test_token_budget_sample_window_input_is_bounded(spark):
    """Same O(budget/avg_tokens) discipline for the running-sum window."""
    from pyspark.sql import Observation

    from otlp_wire_spark.operators.curate import sample_by_token_budget

    n, budget = 12_000, 120  # ~5 tokens/doc → ~24 docs needed
    rows = [(i, f"a{i} b{i} c{i} d{i} e{i}", "big") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    obs = Observation("surv_tb")
    out = sample_by_token_budget(
        df, "stratum", budget, observation=obs
    ).collect()
    # exactness vs the direct full-window reference
    from otlp_wire_spark.functions.fnv import fnv64a as fnv64a_py

    def _signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    ordered = sorted(
        (_signed(fnv64a_py(t.encode())), i, len(t.split()))
        for i, t, _ in rows
    )
    want, cum = set(), 0
    for _, i, nt in ordered:
        if cum < budget:
            want.add(i)
        cum += nt
    assert {r.doc_id for r in out} == want
    assert all(r.tok_before < budget for r in out)
    surv = int(obs.get["window_input_rows"])
    assert surv <= 4096, f"window input {surv} is not O(budget/avg_tokens)"


def test_dedup_clusters_chain_and_clique(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (clique), {20,21} —
    # asserted on BOTH the small-graph driver path (default gate) and the
    # distributed propagation path (gate forced off)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    got = {r.id: r.rep for r in dedup.dedup_clusters(pairs).collect()}
    assert got == want
    assert dedup.dedup_clusters.last_rounds == 0  # fast path ran
    got_dist = {
        r.id: r.rep
        for r in dedup.dedup_clusters(pairs, small_graph_limit=0).collect()
    }
    assert got_dist == want
    assert dedup.dedup_clusters.last_rounds >= 1  # distributed path ran


def test_dedup_clusters_long_chain_converges(spark):
    n = 12  # diameter 12 chain — several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r.id: r.rep
        for r in dedup.dedup_clusters(pairs, small_graph_limit=0).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_near_dup_cluster_reps_vs_pair_rule(spark):
    """Star shape (1,3),(2,3): pair rule keeps 1 AND 2; cluster rule keeps
    only 1 — built directly on a pairs fixture via dedup_clusters."""
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    clusters = {r.id: r.rep for r in dedup.dedup_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1}
    pair_rule_losers = {3}
    cluster_rule_losers = {i for i, r in clusters.items() if i != r}
    assert cluster_rule_losers == {2, 3} != pair_rule_losers


def test_contaminated_ids_shingle_table_parity(spark):
    """corpus_shingles= must give byte-identical results to the direct
    path, including when the supplied table is a SUPERSET of the corpus
    (a table shared with a near-dup pass over a larger set)."""
    from otlp_wire_spark.operators.curate import contaminated_ids
    from otlp_wire_spark.operators.dedup import shingle_table

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta gamma delta epsilon"),
        (3, "zeta eta theta iota"),
        (4, None),
        (5, ""),
        (6, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.where(F.col("doc_id") != 6)  # superset table covers 6 too
    bench = spark.createDataFrame(
        [(100, "beta gamma delta")], "doc_id long, text string"
    )
    direct = sorted(
        r.doc_id for r in contaminated_ids(corpus, bench).collect()
    )
    sh = shingle_table(docs, "doc_id", "text", 3)
    via_table = sorted(
        r.doc_id
        for r in contaminated_ids(
            corpus, bench, corpus_shingles=sh
        ).collect()
    )
    assert direct == via_table == [1, 2]


def test_decontaminating_the_near_dup_superset_is_exact(spark):
    """curation_pipeline decontaminates the exact-curated set ``kept``
    (through its shingle table), not the near-dup survivors ``kept2``.
    Contamination is a per-document predicate and kept2 ⊆ kept, so the
    anti-joined rows must be the same — here with one contaminated
    document that near-dup removal drops and one it keeps."""
    from otlp_wire_spark.operators.curate import contaminated_ids
    from otlp_wire_spark.operators.dedup import near_dup_pairs, shingle_table

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, shared),
        (2, shared + " today"),  # near-dup of 1: dropped, contaminated
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # contaminated
        (4, "one two three four five six seven eight nine"),
        (5, "red green blue cyan magenta yellow black white"),
    ]
    kept = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "over the lazy dog"), (101, "gamma delta epsilon")],
        "doc_id long, text string",
    )
    drop = near_dup_pairs(kept, threshold=0.5).select(
        F.col("id_b").alias("doc_id")
    )
    kept2 = kept.join(drop, "doc_id", "left_anti")
    assert sorted(r.doc_id for r in kept2.collect()) == [1, 3, 4, 5]

    def decontaminated(contam):
        return sorted(
            tuple(r) for r in kept2.join(contam, "doc_id", "left_anti").collect()
        )

    via_kept = contaminated_ids(
        kept, bench, corpus_shingles=shingle_table(kept, "doc_id", "text", 3)
    )
    assert sorted(r.doc_id for r in via_kept.collect()) == [1, 2, 3]
    rows_via_kept = decontaminated(via_kept)
    assert rows_via_kept == decontaminated(contaminated_ids(kept2, bench))
    assert [r[0] for r in rows_via_kept] == [4, 5]


def test_token_budget_sample_greedy_prefix(spark):
    from otlp_wire_spark.operators.curate import sample_by_token_budget
    from otlp_wire_spark.functions.fnv import fnv64a
    import numpy as np

    rows = [(i, " ".join(f"t{i}w{j}" for j in range(5)), "s") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    out = sorted(
        ((r.doc_id, r.n_tokens, r.tok_before)
         for r in sample_by_token_budget(df, "stratum", 23).collect()),
        key=lambda x: x[2],
    )
    # sequential reference: hash order, greedy prefix under budget 23
    order = sorted(rows, key=lambda r: (np.uint64(fnv64a(r[1].encode())).astype(np.int64), r[0]))
    want, cum = [], 0
    for did, text, _ in order:
        if cum < 23:
            want.append((did, 5, cum))
        cum += 5
    assert out == want
    # 5 docs kept: tok_before 0,5,10,15,20 (< 23); 25 excluded
    assert len(out) == 5


def test_dedup_clusters_pointer_jumping_round_count(spark):
    """A 40-edge chain needs 40 rounds under plain propagation; pointer
    jumping must finish in O(log n) — well under 10."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = {
        r.id: r.rep
        for r in dedup.dedup_clusters(pairs, small_graph_limit=0).collect()
    }
    assert got == {i: 0 for i in range(41)}
    assert 1 <= dedup.dedup_clusters.last_rounds <= 10


def test_ivf_quantizer_fingerprint_is_value_based():
    """The quantizer-identity guard hashes VALUES, not container reprs:
    the same centroids as numpy array / list-of-lists / tuples must
    fingerprint identically (no false mismatch), and two LARGE quantizers
    differing only in the middle — where numpy's summarized repr elides
    with '...' — must fingerprint differently (no false match, which
    would silently join cell ids across different quantizers)."""
    import numpy as np

    cents = [[0.1, 0.2, 0.3], [0.4, 0.5, 0.6]]
    as_np = np.array(cents)
    as_tuple = tuple(tuple(c) for c in cents)
    fp = similarity._cent_fingerprint(cents)
    assert similarity._cent_fingerprint(as_np) == fp
    assert similarity._cent_fingerprint(as_tuple) == fp

    big_a = np.arange(64 * 768, dtype=float).reshape(64, 768) / (64 * 768)
    big_b = big_a.copy()
    big_b[32, 384] += 1.0  # differs only where the summarized repr elides
    assert repr(big_a) == repr(big_b)  # the trap the guard must not fall in
    assert similarity._cent_fingerprint(big_a) != similarity._cent_fingerprint(
        big_b
    )
