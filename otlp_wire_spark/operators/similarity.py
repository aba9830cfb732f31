"""Similarity search over embedding columns — exact cosine top-k (the
BLAS kernel ``cosine_topk_arrow``, with the expression kernel
``cosine_topk`` as its test reference) and IVF coarse-quantizer cells (the
approximate scale path, ``ivf_ann_topk``).

Scale notes:
- exact top-k is a broadcast of the (small) query set against the corpus —
  no corpus shuffle, one partial top-k per partition then a final k-merge;
  exact, O(corpus × queries).
- ivf_ann_topk assigns corpus and queries to their nearest centroids and
  scores only within the n_probe probed cells: candidates shrink
  ~n_probe/n_centroids; recall measured against the exact kernel in tests
  (tests/test_ops.py — planted-duplicate + subset-of-exact).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (excluding self-match).

    Ties broken by ascending corpus id — deterministic under any
    partitioning (SURVEY.md §2.5: order must be key-explicit, never
    row-order)."""
    c = corpus.select(
        F.col(id_col).alias("c_id"), _as_double(F.col(vec_col)).alias("c_v")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("q_v")
    )
    cos = _dot(F.col("q_v"), F.col("c_v")) / (
        _norm(F.col("q_v")) * _norm(F.col("c_v"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cos, 4).cast("double").alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 65_536,
) -> DataFrame:
    """Exact top-k, BLAS path — the scale form of cosine_topk.

    The expression kernel evaluates one interpreted dot product per
    (query, candidate) pair (higher-order functions are CodegenFallback);
    this kernel broadcasts the L2-normalized query matrix to executors and
    computes each corpus Arrow batch's scores as ONE ``batch @ Q.T``
    matmul, emitting only a per-batch partial top-k (≤ k rows per query
    per batch) so the final global rank runs over partitions×k×|Q| rows,
    never the corpus. That shuffle-volume bound is the scale argument —
    at toy size (2k×8, BENCH/KERNELS.md) the expr kernel is actually
    faster because worker+Arrow overhead beats BLAS; the win appears when
    |corpus|×|Q| scored rows no longer fit a single rank stage.
    Same semantics as cosine_topk: self-match excluded,
    cosine rounded to 4dp, ties by ascending corpus id — parity-pinned by
    tests/test_ops.py."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # The query side is collected to the driver and broadcast — "small by
    # contract", and the contract is ENFORCED: limit(max+1) bounds the
    # fetch itself, so misuse raises an actionable error instead of
    # silently OOMing the driver on a huge query set.
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_arrow: query side exceeds max_queries="
            f"{max_queries}; it is collected+broadcast by design. Batch the "
            "queries, raise max_queries deliberately, or use ivf_ann_topk "
            "for large query sets."
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(map(float, r[1])) for r in qrows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Q, q_norms))

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("c_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qm, q_norms = bq.value
        nq = len(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array([list(map(float, v)) for v in pdf[vec_col]], dtype=np.float64)
            # same formula SHAPE as the expr kernel / SQL oracle —
            # dot / (|q|·|c|), never pre-normalized vectors — and Spark's
            # HALF_UP (round half away from zero), not numpy's half-even:
            # both choices remove rounding-boundary divergence sources
            dots = C @ qm.T  # (batch, nq)
            raw = dots / (np.linalg.norm(C, axis=1)[:, None] * q_norms[None, :])
            S = np.copysign(np.floor(np.abs(raw) * 1e4 + 0.5), raw) / 1e4
            out_q, out_c, out_s = [], [], []
            for j in range(nq):
                col = S[:, j]
                mask = c_ids != ids_q[j]  # exclude self-match
                cand = np.flatnonzero(mask)
                if not len(cand):
                    continue
                # partial top-k: order by (-cosine, c_id) — lexsort keys
                # are applied last-key-primary
                order = cand[np.lexsort((c_ids[cand], -col[cand]))][:k]
                out_q.extend([ids_q[j]] * len(order))
                out_c.extend(c_ids[order].tolist())
                out_s.extend(col[order].tolist())
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cosine": out_s})

    partial = corpus.select(id_col, vec_col).mapInPandas(gen, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ivf_centroids(dim: int, n_centroids: int = 8, seed: int = 3) -> list[list[float]]:
    """Deterministic unit 'centroids' (sin-hash, no RNG state) — the coarse
    quantizer of an IVF index. A real deployment would k-means these; the
    partitioning math downstream is identical, and determinism lets the
    DuckDB oracle embed them as literals."""
    cents = []
    for c in range(n_centroids):
        v = [math.sin(seed * 271.7 + c * 53.21 + d * 7.77) for d in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / norm for x in v])
    return cents


def ivf_centroids_from_sample(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iters: int = 8,
    seed: int = 3,
) -> list[list[float]]:
    """TRAINED coarse quantizer: spherical k-means on a bounded sample,
    run on the driver. On real embedding distributions this aligns cells
    with the data's cluster structure, improving recall at the same
    n_probe over the synthetic ``ivf_centroids`` quantizer (pinned by the
    recall test in tests/test_ops.py).

    Determinism/scale shape: the sample is the ``sample_size`` smallest
    rows by xxhash64(id) — derived from the DATA (two-job-consistency
    rule; never rand()/partition metadata), fully parallel (TakeOrdered),
    and the only driver traffic is the bounded sample itself. k-means++
    init + Lloyd iterations use a seeded RNG over that data-determined
    sample, so the result is a pure function of (data, seed) and the
    returned plain-float unit vectors embed as literals — the same oracle
    mechanism ``ivf_centroids`` uses. Degenerate inputs (fewer valid
    sample vectors than centroids) fall back to ``ivf_centroids``."""
    import numpy as np

    from otlp_wire_spark.detsample import hash_order_sample

    valid = corpus.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == dim)
        # element-level nulls would TypeError in float() on the driver —
        # filter them executor-side so the sample stays full-size (a
        # Python-side skip could starve the sample below n_centroids)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    rows = hash_order_sample(valid, id_col, sample_size)
    X = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
    if len(X):
        norms = np.linalg.norm(X, axis=1)
        X = X[norms > 0] / norms[norms > 0][:, None]
    if len(X) < n_centroids:
        return ivf_centroids(dim, n_centroids, seed)
    rng = np.random.RandomState(seed)
    # k-means++ on cosine distance: spread the seeds across the sample
    cents = [X[rng.randint(len(X))]]
    for _ in range(1, n_centroids):
        d = np.min([1.0 - X @ c for c in cents], axis=0)
        d = np.maximum(d, 0.0)
        tot = d.sum()
        idx = rng.choice(len(X), p=d / tot) if tot > 0 else rng.randint(len(X))
        cents.append(X[idx])
    C = np.array(cents)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
            else:
                # empty cell: reseed to the sample point worst-covered by
                # the current centroids
                C[j] = X[np.argmin((X @ C.T).max(axis=1))]
            n = np.linalg.norm(C[j])
            if n > 0:
                C[j] = C[j] / n
    return [[float(x) for x in c] for c in C]


def _cent_fingerprint(cents: list[list[float]]) -> str:
    """Identity of a quantizer = hash of its exact float values — travels
    in the assignment table's column metadata so a query can refuse an
    index built with different centroids.

    Normalized to nested Python floats BEFORE hashing: hashing the raw
    ``repr(cents)`` would make the guard container-sensitive (the same
    values as a numpy array vs a list would spuriously mismatch) and,
    worse, numpy's summarized repr of a large array (``...`` past 1000
    elements) would fingerprint two DIFFERENT big quantizers identically
    whenever their displayed corner elements agree — the exact
    wrong-quantizer join the guard exists to refuse."""
    import hashlib

    norm = [[float(x) for x in c] for c in cents]
    return hashlib.md5(repr(norm).encode()).hexdigest()[:16]


def _centroid_sims(vec: Column, cents: list[list[float]]) -> list[Column]:
    v = _as_double(vec)
    return [_dot(v, F.array(*[F.lit(x) for x in c])) for c in cents]


def ivf_assign_col(vec: Column, cents: list[list[float]]) -> Column:
    """Nearest-centroid id by dot product (centroids are unit vectors, so
    dot == cosine ranking); ties → lowest centroid id (deterministic)."""
    sims = _centroid_sims(vec, cents)
    mx = F.greatest(*sims)
    out = F.when(sims[0] == mx, F.lit(0))
    for j in range(1, len(cents)):
        out = out.when(sims[j] == mx, F.lit(j))
    return out.cast("int")


def ivf_probe_col(vec: Column, cents: list[list[float]], n_probe: int) -> Column:
    """The n_probe nearest centroid ids, best first (array<int>) — queries
    search their own cell plus the next-closest cells, the standard IVF
    recall/cost knob."""
    sims = _centroid_sims(vec, cents)
    scored = F.array(
        *[
            F.struct(F.lit(j).alias("cid"), sims[j].alias("sim"))
            for j in range(len(cents))
        ]
    )
    ranked = F.reverse(
        F.array_sort(
            F.transform(scored, lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("ncid")))
        )
    )
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: (-s["ncid"]).cast("int"))


def ivf_assign_cells(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The IVF index side: ``(c_id, c_v, cell)`` nearest-centroid
    assignment of every corpus vector — a narrow codegen'd scan, zero
    shuffle. Compute ONCE and reuse across query batches:

    - ``ivf_persist_cells`` caches it (repeat queries read
      InMemoryTableScan — zero corpus re-scans/re-shuffles, plan-pinned by
      tests/test_bucketing.py), or
    - write it with ``route.write_bucketed(assigned, table, 'cell')`` and
      feed ``spark.table(table)`` to ``ivf_ann_topk(assigned=...)`` — the
      durable form a 100 TB deployment uses (the assignment scan happens
      once at index-build time, ever).

    ``centroids``: a custom quantizer (e.g. ``ivf_centroids_from_sample``);
    default is the deterministic synthetic ``ivf_centroids``."""
    cents = centroids if centroids is not None else ivf_centroids(dim, n_centroids)
    return corpus.select(
        F.col(id_col).alias("c_id"),
        _as_double(F.col(vec_col)).alias("c_v"),
        ivf_assign_col(F.col(vec_col), cents).alias(
            # quantizer identity travels WITH the table (column metadata
            # survives persist and saveAsTable): ivf_ann_topk refuses an
            # assigned table built with a different quantizer — a mismatch
            # would silently join cells that mean different centroids
            "cell",
            metadata={
                "ivf_dim": dim,
                "ivf_n_centroids": len(cents),
                "ivf_quantizer": _cent_fingerprint(cents),
            },
        ),
    )


def ivf_persist_cells(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Cached IVF assignment table, materialized eagerly so every
    subsequent query batch reads the cache (never a racy first-touch
    recompute). Caller owns the lifecycle (``.unpersist()``)."""
    from pyspark import StorageLevel

    assigned = ivf_assign_cells(
        corpus, dim, n_centroids, id_col, vec_col, centroids
    )
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    return assigned


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed ONCE by nearest centroid
    (narrow scan — at scale, persist/bucket this once and reuse across
    query batches); each query probes its ``n_probe`` nearest cells, exact
    cosine only within them. Candidates shrink ~n_probe/n_centroids; ties
    broken by ascending corpus id (deterministic under any partitioning).

    ``assigned``: a pre-built ``ivf_assign_cells``-shaped table
    (persisted/bucketed). When given, the per-call corpus scan + centroid
    math disappear entirely — repeat query batches touch only the index.

    ``centroids``: a custom quantizer (``ivf_centroids_from_sample`` —
    trained cells track the data's cluster structure, better recall at
    the same n_probe); must match the quantizer ``assigned`` was built
    with (fingerprint-checked via column metadata)."""
    cents = centroids if centroids is not None else ivf_centroids(dim, n_centroids)
    if assigned is not None:
        meta = assigned.schema["cell"].metadata or {}
        want = {
            "ivf_dim": dim,
            "ivf_n_centroids": len(cents),
            "ivf_quantizer": _cent_fingerprint(cents),
        }
        # A table with dim/n_centroids but NO quantizer fingerprint
        # predates the stamp and was necessarily built with the synthetic
        # ivf_centroids quantizer, so its fingerprint is reconstructible:
        # without this, custom trained centroids at matching
        # dim/n_centroids would silently join cell ids across two
        # different quantizers. ANY OTHER incomplete stamp is an error,
        # not a pass — skipping the absent keys would let e.g. a
        # dim-only stamp join cell ids across quantizers unchecked.
        got = {k: meta.get(k) for k in want if meta.get(k) is not None}
        if got and "ivf_quantizer" not in got:
            if set(got) == {"ivf_dim", "ivf_n_centroids"}:
                got["ivf_quantizer"] = _cent_fingerprint(
                    ivf_centroids(got["ivf_dim"], got["ivf_n_centroids"])
                )
            else:
                raise ValueError(
                    "ivf_ann_topk: assigned cell table carries a partial "
                    f"quantizer stamp {got} — cannot prove it matches this "
                    "query's quantizer. Rebuild with ivf_assign_cells."
                )
        if got and any(got[k] != want[k] for k in got):
            raise ValueError(
                f"ivf_ann_topk: assigned cell table was built with {got}, "
                f"query uses { {k: want[k] for k in got} } — cell ids would "
                "join across different quantizers. Rebuild with "
                "ivf_assign_cells at matching dim/n_centroids/centroids. "
                "(A stamp written before the value-based fingerprint "
                "scheme — centroids passed as numpy arrays/tuples — can "
                "mismatch a value-identical quantizer; rebuilding "
                "re-stamps it.)"
            )
        c = assigned
    else:
        c = ivf_assign_cells(corpus, dim, n_centroids, id_col, vec_col, cents)
    # explode over the probe EXPRESSION deliberately (the inference rule
    # skips non-attribute generator inputs — see parse.exploded_nonempty).
    # Norms are computed once per SIDE below the join (same sqrt-of-
    # sequential-square-sum arithmetic, so the rounded doubles are
    # unchanged) instead of once per scored pair.
    q = queries.select(
        F.col(id_col).alias("q_id"),
        _as_double(F.col(vec_col)).alias("q_v"),
        F.explode(ivf_probe_col(F.col(vec_col), cents, n_probe)).alias("cell"),
    ).withColumn("_qn", _norm(F.col("q_v")))
    cn = c.withColumn("_cn", _norm(F.col("c_v")))
    cos = _dot(F.col("q_v"), F.col("c_v")) / (F.col("_qn") * F.col("_cn"))
    scored = (
        cn.join(F.broadcast(q), on="cell")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cos, 4).cast("double").alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )
