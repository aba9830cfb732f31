"""Corpus curation — the composed training-data filter a 100 TB run
actually executes: score every document (language, quality, token count),
keep the ones a model should train on, then exact-dedup the survivors
keeping full rows.

Shape at scale: scoring is a narrow codegen'd scan (zero shuffle); the only
wide op is the single dedup hash-shuffle on md5(text). Near-dup removal
(MinHash+LSH, dedup.near_dup_pairs) composes downstream on the survivors —
kept separate because its candidate verification is a different cost class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otlp_wire_spark.operators import textstats
from otlp_wire_spark.operators.dedup import _shingled, exact_dedup_rows

# Conservative, engine-portable redaction patterns (same RE semantics in
# Java regex and DuckDB's RE2): no backrefs, no lookaround, explicit classes.
REDACTION_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
]


def redact_text(text_col: F.Column) -> F.Column:
    """PII-style scrubbing: replace email/phone/IPv4 shapes with typed
    placeholders — pure regexp_replace chain, codegen'd, zero shuffle.
    Patterns are deliberately lookaround-free so the DuckDB oracle applies
    the literally identical regexes."""
    out = text_col
    for _, pat, repl in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: ids of corpus documents sharing ANY word
    n-gram with the benchmark set. Distributed shape: explode both sides to
    (shingle) rows and LEFT SEMI join on the shingle — the benchmark side
    is deduplicated first and is tiny in practice (broadcast-able), the
    corpus is never collected or re-scanned.

    ``corpus_shingles`` (r6): a pre-materialized ``(id, sh)`` shingle table
    covering AT LEAST the corpus rows (``dedup.shingle_table`` shape — e.g.
    the persisted side-table a near-dup pass already built over a superset).
    When given, the corpus side reads it semi-joined down to ``corpus``'s
    ids instead of re-tokenizing ``corpus`` — in a composed pipeline this
    removes one full tokenize+shingle pass over the surviving corpus (the
    shingle set of a doc is a pure function of its text, so a superset
    table restricted to the corpus ids is exactly ``_shingled(corpus)``;
    pinned by a parity test).

    Contract with ``corpus_shingles``: ``n`` and ``text_col`` are NOT used
    for the corpus side (they still shingle the benchmark side). The table
    must cover every corpus id — a corpus id missing from it is silently
    reported clean — and must be built with the same tokenizer and the
    same ``n`` as the benchmark side, or the shingles never match."""
    from otlp_wire_spark.operators.parse import exploded_nonempty

    if corpus_shingles is not None:
        c = exploded_nonempty(
            corpus_shingles.join(
                corpus.select(F.col(id_col).alias("id")), "id", "left_semi"
            ),
            F.col("sh"),
            "g",
            "id",
        )
    else:
        c = exploded_nonempty(
            _shingled(corpus, id_col, text_col, n), F.col("sh"), "g", "id"
        )
    b = exploded_nonempty(
        _shingled(benchmark, id_col, text_col, n), F.col("sh"), "g"
    ).distinct()
    return (
        c.join(F.broadcast(b), "g", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )


def score_documents(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Attach pred_lang / quality (unrounded double) / n_tokens — narrow
    projections, no shuffle. Tokenization runs ONCE per row: the token
    array, its lowercased twin and the four language-marker counts are
    materialized as projection aliases and every scorer reads the columns
    (the single-column scorer forms would re-run the regex split per
    reference — ~10× per row; inline marker counts re-run their
    ``array_intersect`` per CASE branch — 24 instead of 4).

    Every scorer output is wrapped in a pushdown barrier (r6): a filter on
    the scored columns — ``curate()``'s keep condition is the canonical
    case — otherwise splits into conjuncts that PushDownPredicate pushes
    below these projections, SUBSTITUTING the full scoring expressions
    (and, through them, the tokenization) into the predicate; the
    projection above then recomputes everything for output. Measured 10×
    on the curate() chain (score-only 0.8 s → score+filter 8.0 s on a
    50k-doc table); with the barriers the filter reads the materialized
    attributes and scoring runs once per row. Streaming plans reject
    ``monotonically_increasing_id``, so those take the ``shuffle(array)``
    identity guard instead (same non-substitutability)."""
    from otlp_wire_spark.operators.parse import _pushdown_barrier

    if df.isStreaming:
        def _barrier(c: F.Column) -> F.Column:
            return F.element_at(F.shuffle(F.array(c)), 1)
    else:
        _barrier = _pushdown_barrier
    t = F.col(text_col)
    tokd = (
        df.withColumn("_toks", textstats.tokens_norm_col(t))
        .withColumn(
            # ascii_lower, not F.lower: membership tests against ASCII word
            # lists must fold identically in both engines (see textstats)
            "_tl", F.transform(F.col("_toks"), textstats.ascii_lower)
        )
        .withColumn("_mc", textstats.lang_marker_counts(F.col("_tl")))
    )
    return (
        tokd.withColumn(
            "pred_lang",
            _barrier(textstats.lang_from_marker_counts(F.col("_mc"))),
        )
        .withColumn(
            "quality",
            _barrier(
                textstats.quality_from_tokens(t, F.col("_toks"), F.col("_tl"))
            ),
        )
        .withColumn("n_tokens", _barrier(F.size(F.col("_toks")).cast("int")))
        .drop("_toks", "_tl", "_mc")
    )


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 3,
) -> DataFrame:
    """Surviving full rows (+ score columns) after language / quality /
    length filters and exact dedup (min-id representative). The quality
    threshold compares the RAW double — identical IEEE arithmetic on both
    engines — while outputs are floor-quantized at the edge (textstats
    notes on cross-engine rounding)."""
    scored = score_documents(df, text_col)
    kept = scored.where(
        F.col("pred_lang").isin(*langs)
        & (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    return exact_dedup_rows(kept, text_col, id_col)


# bounded cache generations for incremental_curate's internal persists —
# retired on the next call (same pattern as dedup._LAST_PERSISTED_SHINGLES)
_INCR_CACHES: list = []


def curation_index(
    curated: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    impl: str = "expr",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three side-tables a later ``incremental_curate`` batch needs,
    derived from the EXACT-curated corpus (the near-dup stage INPUT —
    including docs a near-dup pass later drops; see incremental_curate's
    tombstone note): ``(fingerprints, shingles, band_table)``. Persist all
    three (parquet / bucketed tables) — they are the whole state of the
    corpus the incremental path ever touches.

    ``band_table`` is the ``(id, band, band_sig)`` LSH banded-signature
    table (dedup.band_table_from_shingles): storing it is what makes
    incremental admission O(|new|) — a later batch hash-joins its own
    band rows against it to find corpus bucket-mates instead of
    recomputing every corpus MinHash signature per batch. ``k``/``bands``/
    ``impl`` must match the values later passed to ``incremental_curate``
    (band_sig is a deterministic function of the shingle arrays given
    those parameters; expr and arrow impls are parity-pinned)."""
    from otlp_wire_spark.operators.dedup import (
        band_table_from_shingles,
        shingle_table,
    )

    fps = curated.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    sh = shingle_table(curated, id_col, text_col, n)
    return fps, sh, band_table_from_shingles(sh, k, bands, impl)


def incremental_curate(
    new_docs: DataFrame,
    existing_fingerprints: DataFrame,
    existing_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 3,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = 1000,
    impl: str = "expr",
    validate_ids: bool = True,
    with_index_additions: bool = False,
    existing_bands: DataFrame | None = None,
    observation: "object | None" = None,
    broadcast_key_limit: int = 5_000_000,
) -> "DataFrame | tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """Admit a NEW batch of documents into an already-curated corpus
    without re-curating the corpus — the only affordable shape when the
    corpus is 100 TB and the batch is 1 TB. Returns the admitted new rows
    (with score columns), leaving the existing corpus untouched.

    The existing corpus is consumed ONLY through narrow side-tables
    (build them with ``curation_index`` at batch time and keep them as
    parquet/bucketed tables):

    - ``existing_fingerprints``: one ``fp`` column, md5 of every
      exact-curated text;
    - ``existing_shingles``: the ``(id, sh)`` shingle table of the same
      docs. TOMBSTONE CONTRACT: the index must cover the exact-curated set
      BEFORE near-dup removal — a doc dropped as a near-dup stays in the
      index, otherwise a new doc that is a near-dup of the dropped doc
      (but not of its kept representative) would be admitted where a full
      re-curation would reject it.
    - ``existing_bands``: the ``(id, band, band_sig)`` LSH banded-signature
      table of the same docs (curation_index's third return; same
      k/bands/impl). THIS is what makes admission O(|new|): MinHash
      signatures are computed for the NEW batch only and its band rows
      hash-join the stored table to find corpus bucket-mates — the corpus
      side is one narrow band-index scan filtered by the (typically
      broadcast, tiny) set of new bucket keys, shuffling only matched
      buckets. When ``None``, the band table is derived here from
      ``existing_shingles``: same results, but that recomputes every
      corpus signature — an O(corpus-index) per-batch cost you should
      only accept for one-off calls without a maintained index.
    - ``broadcast_key_limit``: the batch-derived key sets (bucket keys,
      candidate ids) are broadcast into the corpus-index joins only when
      their MEASURED row count is at most this. The measurement is free in
      the common case: the eager persists already counted their caches and
      the key sets are subsets of those rows, so the stashed counts serve
      as upper bounds — an exact count() job runs only when a bound
      exceeds the limit (ADVICE r5). A huge batch (say 10^8 docs)
      would blow Spark's 8 GB broadcast cap if the hint were forced, so
      above the limit the hint is dropped and the joins degrade to
      shuffles — proportionally fine exactly when the batch is that
      large, and never a hard failure.

    Batch-equivalence invariant (pinned by tests and the SQL oracle):
    under append-only ids (every new id > every existing id; checked when
    ``validate_ids``) and identical parameters, ``admitted == full-batch
    pipeline over old ∪ new, restricted to new ids``. Steps: (1) curate()
    the new batch (score-filter + exact dedup among new); (2) anti-join
    md5(text) against existing fingerprints (new-vs-corpus exact dups);
    (3) LSH candidates restricted to pairs whose higher member is new,
    exact-Jaccard verify, drop those higher members. Candidate
    equivalence to a full union-table LSH pass holds because (a) append-
    only ids mean every candidate's higher member lives in a bucket that
    contains a new id, and (b) a matched bucket's membership — hence its
    ``bucket_cap`` truncation window — is identical whether or not the
    unmatched (old-only) buckets are materialized alongside it. The
    Jaccard verify touches the corpus shingle index exactly ONCE, for the
    lower (``id_a``) members only — semi-joined down to candidate ids
    before any shuffle; the higher members are always new (append-only
    ids + the ``id_b`` restriction), so their shingle arrays come from
    the batch's own cached shingle table, never a second index scan.
    The corpus TEXT is never re-read; with ``existing_bands`` the
    per-batch cost is O(|new|) plus those narrow index scans.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to record
    ``sig_rows`` — the number of band rows whose MinHash signature the
    NEW-batch signature stage computed (== |exact-admitted new| × bands;
    an O(|new|) pin, tested). Scope: with ``existing_bands`` supplied
    this is ALL the signature work the call does; on the
    ``existing_bands=None`` fallback the corpus-wide recompute derived
    from ``existing_shingles`` is NOT counted — the metric pins the
    batch stage, it cannot absolve the fallback's O(corpus-index) cost."""
    from otlp_wire_spark.cacheutil import persist_into, retire_oldest
    from otlp_wire_spark.operators.dedup import (
        band_table_from_shingles,
        lsh_pairs_from_bands,
        shingle_table,
    )

    retire_oldest(_INCR_CACHES, keep=0)

    if validate_ids:
        # contract check on the RAW batch (not its survivors — an exact-dup
        # row with a stale id must still fail loudly): two narrow aggs,
        # parquet min/max stats make both cheap on real tables; cross-joined
        # 1-row aggregates so both ride ONE action
        mx_old, mn_new = (
            existing_shingles.agg(F.max("id").alias("mx"))
            .crossJoin(new_docs.agg(F.min(id_col).alias("mn")))
            .first()
        )
        if mx_old is not None and mn_new is not None and mn_new <= mx_old:
            raise ValueError(
                f"incremental_curate: new ids must all exceed existing ids "
                f"(append-only contract) — min(new)={mn_new} <= "
                f"max(existing)={mx_old}. Remap the batch's ids."
            )

    # (1) intra-batch curation; persisted — it feeds the shingle table,
    # the candidate restriction and the final anti-join (each is a
    # separate action → lineage recompute otherwise)
    fresh = persist_into(
        curate(new_docs, id_col, text_col, langs, min_quality, min_tokens)
        .withColumn("_fp", F.md5(F.col(text_col)))
        .join(
            existing_fingerprints.select(F.col("fp").alias("_fp")),
            "_fp",
            "left_anti",
        )
        .drop("_fp"),
        _INCR_CACHES,
    )

    # (3) near-dup vs corpus AND within the batch. The batch's shingle
    # table is the O(|new|) cache every downstream consumer reads (band
    # rows ×2 refs, the verify sh_b side, the index additions). fresh_sh
    # stays lazy: the EAGER new_bands materialization below computes the
    # whole fresh → fresh_sh → new_bands chain in ONE linear job with no
    # concurrent reader, warming all three caches — under AQE, leaving
    # new_bands lazy would let the candidate job's independent leaf
    # stages (the bucket-key side and the probe side) race the cold
    # caches and re-run the batch scoring scan.
    fresh_sh = persist_into(
        shingle_table(fresh, id_col, text_col, n).select("id", "sh"),
        _INCR_CACHES,
    )
    new_bands = band_table_from_shingles(fresh_sh, k, bands, impl)
    if observation is not None:
        # sig_rows = band rows whose signature the NEW-batch stage
        # computed (docstring scope note). Fires exactly once, at cache
        # materialization — later consumers read the InMemoryRelation
        # above the CollectMetrics node — the O(|new|) volume pin.
        new_bands = new_bands.observe(
            observation, F.count(F.lit(1)).alias("sig_rows")
        )
    # (A guide-§2.6 thread overlapping this materialization with the
    # caller-persisted corpus band index was tried and measured FLAT at
    # both sf0.1 and sf1.0 — both jobs are CPU-bound and saturate the
    # machine, so overlap only time-slices; reverted.)
    new_bands = persist_into(new_bands, _INCR_CACHES, eager=True)

    def _maybe_broadcast(df: DataFrame, upper_bound: "int | None") -> DataFrame:
        # broadcast is a HINT we only apply when the measured size says it
        # fits comfortably — forcing it on a huge batch's key set would
        # bypass AQE's size check and die at Spark's 8 GB broadcast cap
        # instead of degrading to a (proportionally fine) shuffle join.
        # ``upper_bound`` is the parent cache's eager-materialization count
        # (persist_into stashes it) — a superset bound on df's rows, free.
        # Only when the BOUND exceeds the limit (a genuinely huge batch)
        # pay one exact count of the (distinct, usually far smaller) key
        # set before giving up on the hint (ADVICE r5: the two
        # unconditional count() jobs per batch are gone).
        if upper_bound is not None and upper_bound <= broadcast_key_limit:
            return F.broadcast(df)
        return F.broadcast(df) if df.count() <= broadcast_key_limit else df

    if existing_bands is None:
        # no maintained band index: recompute corpus signatures from the
        # shingle index (O(corpus-index) — see docstring)
        existing_bands = band_table_from_shingles(
            existing_shingles.select("id", "sh"), k, bands, impl
        )
    # corpus bucket-mates: narrow band-index scan filtered by the batch's
    # bucket keys (≤ |new|·bands rows, broadcast when measured-small);
    # only matched buckets ever shuffle. Old-only buckets can't contribute
    # a candidate whose higher member is new, so skipping them is exact.
    # The broadcast gate reads the eager persist's stashed count — an
    # upper bound on the distinct key count, no extra job.
    new_keys = new_bands.select("band", "band_sig").distinct()
    matched_old = existing_bands.select("id", "band", "band_sig").join(
        _maybe_broadcast(new_keys, getattr(new_bands, "_spark_graft_rows", None)),
        ["band", "band_sig"],
        "left_semi",
    )
    cand = lsh_pairs_from_bands(
        matched_old.unionByName(new_bands.select("id", "band", "band_sig")),
        bucket_cap,
        None,
    )
    new_ids = fresh.select(F.col(id_col).alias("id_b"))
    # the candidate-side eager barrier: referenced by the verify probe AND
    # (via the measured broadcast) the shingle-index pushdown below —
    # lazy, the candidate join would run once per consumer
    cand_new = persist_into(
        cand.join(new_ids, "id_b", "left_semi"), _INCR_CACHES, eager=True
    )
    # Jaccard verify touches the corpus shingle index EXACTLY ONCE, for
    # the id_a side only: every id_b is new by construction (append-only
    # ids ⇒ the higher member of any surviving pair is a batch doc), so
    # the sh_b side reads the batch's own cached shingle table — building
    # it from the union would pay a second full index scan per batch
    # whose old rows the id_b join then discards. The id_a set semi-joins
    # INTO the index (pushdown scan, broadcast when measured-small — the
    # gate reads cand_new's stashed materialization count, no extra job).
    need = cand_new.select(F.col("id_a").alias("id")).distinct()
    sh = (
        existing_shingles.select("id", "sh")
        .unionByName(fresh_sh)
        .join(
            _maybe_broadcast(need, getattr(cand_new, "_spark_graft_rows", None)),
            "id",
            "left_semi",
        )
        .where(F.size("sh") > 0)
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = fresh_sh.where(F.size("sh") > 0).select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    joined = cand_new.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    drop = (
        joined.where((inter / union) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    admitted = fresh.join(drop, id_col, "left_anti")
    if with_index_additions:
        # what the NEXT batch's index must gain: the fp/shingle/band rows
        # of this batch's exact-curated-and-not-already-indexed set
        # (`fresh`, PRE near-dup — the tombstone contract). The band rows
        # are the already-persisted new_bands handle — re-deriving them
        # from fresh_sh would pay the whole MinHash pass a second time
        # per batch/epoch.
        #
        # EAGER localCheckpoint, not the warm caches directly: these
        # handles' lineage reads the index PATHS (fresh anti-joins the
        # fingerprint table), and the natural consumption is to APPEND
        # them to those same paths. Spark's InsertIntoHadoopFsRelation
        # calls recacheByPath on the written path, which RECOMPUTES every
        # cached plan reading it against the refreshed file listing — the
        # anti-join then sees the batch's own just-appended fingerprints,
        # `fresh` recaches EMPTY, and the remaining addition handles
        # silently write zero rows (the next batch's index never learns
        # this batch existed; its near-dups are admitted). Checkpointing
        # severs the parquet lineage so in-place appends cannot
        # invalidate the handles. The extra jobs read the caches the
        # cand_new barrier already materialized; the checkpointed data is
        # O(|batch| index rows). Consume these BEFORE the next
        # incremental_curate call retires this call's caches, and consume
        # `admitted` (whose lineage is NOT checkpointed) before appending
        # any addition to a path its plan reads. On a real cluster
        # localCheckpoint blocks die with executors — the
        # consume-immediately contract is what makes that acceptable.
        add_fps = (
            fresh.select(F.md5(F.col(text_col)).alias("fp"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        add_sh = fresh_sh.localCheckpoint(eager=True)
        add_bands = new_bands.localCheckpoint(eager=True)
        return admitted, add_fps, add_sh, add_bands
    return admitted


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The audit companion to ``contaminated_ids``: WHICH benchmark doc a
    corpus doc collides with and how many distinct word n-grams they
    share — the evidence row a curation run attaches when it drops a
    document for contamination. Output: (doc_id, bench_id, n_shared).

    Scale shape: both sides explode to (gram, id) rows; the benchmark side
    is tiny by definition and broadcast, so the corpus side is never
    shuffled — the per-pair distinct-gram count is a hash aggregate keyed
    by (doc_id, bench_id) with map-side partials."""
    from otlp_wire_spark.operators.dedup import _shingled
    from otlp_wire_spark.operators.parse import exploded_nonempty

    c = exploded_nonempty(
        _shingled(corpus, id_col, text_col, n), F.col("sh"), "g", "id"
    ).withColumnRenamed("id", "doc_id")
    b = exploded_nonempty(
        _shingled(benchmark, id_col, text_col, n), F.col("sh"), "g", "id"
    ).withColumnRenamed("id", "bench_id")
    return (
        c.join(F.broadcast(b), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count_distinct("g").alias("n_shared"))
    )


# bounded cache generations for the samplers' tiny per-stratum stats
# tables. Unlike _INCR_CACHES this keeps the last FEW generations alive:
# a build-all-then-execute flow (the grading driver constructs every
# query DataFrame before collecting any) would otherwise have one
# sampler's construction retire a sibling sampler's still-referenced
# stats — correctness survives (lineage recompute) but the persist would
# pay its materialization without ever amortizing.
_SAMPLE_CACHES: list = []
_SAMPLE_CACHE_KEEP = 4

_LONG_MAX = (1 << 63) - 1
_TWO64 = 18446744073709551616.0  # 2^64 as a double


def _retire_sample_caches() -> None:
    from otlp_wire_spark.cacheutil import retire_oldest

    retire_oldest(_SAMPLE_CACHES, keep=_SAMPLE_CACHE_KEEP - 1)


def _hash_threshold(frac: F.Column) -> F.Column:
    """Signed-long threshold at ~the ``frac`` quantile of a uniform 64-bit
    hash reinterpreted as signed (the samplers' ordering domain). Double
    arithmetic — the escalation margin absorbs the rounding; ``frac >= 1``
    means keep-all. The ``t >= 2^63`` guard clamps any double rounding
    landing on/above the signed boundary to keep-all BEFORE the cast:
    under ``spark.sql.ansi.enabled=true`` (Spark 4's default — library
    callers invoking the samplers without session.get_spark) an
    overflowing cast would raise instead of clamping (ADVICE r4)."""
    t = F.lit(float(-(1 << 63))) + frac * F.lit(_TWO64)
    return F.when(
        (frac >= 1.0) | (t >= F.lit(float(1 << 63))), F.lit(_LONG_MAX)
    ).otherwise(t.cast("long"))


def _stratum_stats(
    staged: DataFrame, strata_col: str, aggs: list
) -> DataFrame:
    """Tiny per-stratum stats side-table, persisted + eagerly materialized
    (it is broadcast-joined and re-read by the verification pass; lazy, it
    would re-scan the corpus per use)."""
    from otlp_wire_spark.cacheutil import persist_into

    return persist_into(
        staged.groupBy(F.col(strata_col).alias("_strat")).agg(*aggs),
        _SAMPLE_CACHES,
        eager=True,
    )


def _escalating_survivors(
    staged: DataFrame,
    stats: DataFrame,
    strata_col: str,
    thr_expr,
    survivor_aggs: list,
    short_cond: F.Column,
    margin: float,
    max_rounds: int,
    observation: "object | None",
) -> DataFrame:
    """The samplers' SHARED hash-threshold escalation loop (the skew-safe
    scale shape — one implementation so the exactness/verification logic
    cannot diverge between samplers): filter to ``_hkey <=
    thr_expr(margin)`` with the per-stratum threshold broadcast-joined in
    (narrow, fully parallel), verify per stratum (``survivor_aggs`` over
    the survivors, ``short_cond`` over the stats-joined counts), escalate
    the margin ×4 up to ``max_rounds``, finally fall back to keep-all —
    the exact path. Returns the survivor set the caller's final exact
    window sorts; its volume is O(target), recorded as
    ``window_input_rows`` when ``observation`` is passed (pinned by
    tests). Each caller's docstring carries its exactness argument."""
    m = float(margin)
    surv = None
    for rnd in range(max_rounds + 1):
        thr = F.lit(_LONG_MAX) if rnd == max_rounds else thr_expr(m)
        surv = staged.join(
            F.broadcast(stats),
            F.col(strata_col).eqNullSafe(F.col("_strat")),
        ).where(F.col("_hkey") <= thr)
        if rnd == max_rounds:
            break
        sc = surv.groupBy(F.col("_strat").alias("_strat2")).agg(*survivor_aggs)
        short = (
            stats.join(
                sc, F.col("_strat").eqNullSafe(F.col("_strat2")), "left"
            )
            .where(short_cond)
            .count()
        )
        if short == 0:
            break
        m *= 4.0
    if observation is not None:
        surv = surv.observe(
            observation, F.count(F.lit(1)).alias("window_input_rows")
        )
    return surv


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    quota: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    margin: float = 4.0,
    max_rounds: int = 3,
    observation: "object | None" = None,
) -> DataFrame:
    """Deterministic per-stratum sampling for training-mix construction:
    within each stratum keep the ``quota`` rows with the smallest
    (fnv64a(text), id) — a content-hash order, so the sample is a pure
    function of the data (stable across runs, partitionings and retries;
    the two-job-consistency rule) yet uncorrelated with ingestion order.

    Scale shape (the round-3 fix): the earlier formulation ranked every
    stratum with one ``row_number`` window — a full sort of each stratum
    in ONE reducer task, a wall-clock cliff when strata are languages at
    10^12 docs. Now a HASH-THRESHOLD PRE-FILTER runs first: the hash is
    ~uniform over the signed-64 space, so rows with
    ``hash <= quantile(quota·margin/|stratum|)`` — a narrow, fully
    parallel filter with the per-stratum threshold broadcast-joined in —
    over-select ~``quota·margin`` candidates, and the exact window then
    sorts O(quota) survivors, not O(stratum). Exactness: if a stratum
    retains ≥ min(quota, n) survivors, the true top-quota set is a subset
    of the survivors (every excluded row hashes above every survivor), so
    the result is IDENTICAL to the full sort. A verification aggregate
    checks that per stratum; pathological hash mass (e.g. 10^9 copies of
    one text = one hash value) escalates ``margin`` ×4 up to
    ``max_rounds`` and finally falls back to keep-all (the exact path) —
    the chosen threshold is a pure function of the data, so recomputation
    stays deterministic. Pass ``observation`` (pyspark Observation) to
    record ``window_input_rows``, the survivor count the final sort
    actually pays (pinned O(quota) by tests).

    Cost note: the pre-filter adds ~2 extra narrow corpus scans (stats +
    verification); persist the input upstream if it is expensive lineage.
    """
    from pyspark.sql import Window

    from otlp_wire_spark.functions.fnv import fnv64a_expr

    _retire_sample_caches()
    staged = df.withColumn(
        "_hkey", fnv64a_expr(F.coalesce(F.col(text_col), F.lit("")))
    )
    stats = _stratum_stats(
        staged, strata_col, [F.count(F.lit(1)).alias("_n")]
    )

    surv = _escalating_survivors(
        staged,
        stats,
        strata_col,
        lambda m: _hash_threshold(F.lit(m) * quota / F.col("_n")),
        [F.count(F.lit(1)).alias("_sn")],
        F.coalesce(F.col("_sn"), F.lit(0))
        < F.least(F.lit(quota), F.col("_n")),
        margin,
        max_rounds,
        observation,
    )
    w = Window.partitionBy(strata_col).orderBy("_hkey", id_col)
    return (
        surv.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= quota)
        .select(*df.columns)
    )


def sample_by_token_budget(
    df: DataFrame,
    strata_col: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    margin: float = 4.0,
    max_rounds: int = 3,
    observation: "object | None" = None,
) -> DataFrame:
    """Training-mix sampling by TOKEN budget rather than document count:
    within each stratum, walk documents in (fnv64a(text), id) order and
    keep each doc whose cumulative token count BEFORE it is still under
    ``budget`` — the greedy prefix a mixture spec ("20B tokens of lang X")
    actually wants. The last kept doc may overshoot the budget; a packer
    (pack.pack_sequences) downstream trims to the exact token boundary.
    Emits ``n_tokens`` and ``tok_before`` so callers can trim or account.

    Deterministic for the same reason as stratified_sample (content-hash
    order = pure function of the data), and the same skew-safe scale
    shape: a hash-threshold pre-filter at ~the ``budget·margin / stratum
    token total`` quantile bounds the running-sum window's input to
    ~``budget/avg_tokens · margin`` docs instead of the whole stratum.
    Exactness: if a stratum's survivors carry ≥ ``budget`` tokens (or are
    the whole stratum), every excluded doc has ``tok_before ≥`` the
    survivors' token total ``≥ budget`` and is correctly out; verified
    per stratum with ×4 margin escalation and a keep-all exact fallback,
    exactly as in stratified_sample. The explicit ROWS frame keeps
    hash-tied duplicates from peer-grouping into one cumulative value.
    """
    from pyspark.sql import Window

    from otlp_wire_spark.functions.fnv import fnv64a_expr
    from otlp_wire_spark.operators.textstats import tokens_norm_col

    _retire_sample_caches()
    staged = df.withColumn(
        "_nt", F.size(tokens_norm_col(F.col(text_col))).cast("long")
    ).withColumn(
        "_hkey", fnv64a_expr(F.coalesce(F.col(text_col), F.lit("")))
    )
    stats = _stratum_stats(
        staged,
        strata_col,
        [F.count(F.lit(1)).alias("_n"), F.sum("_nt").alias("_tot")],
    )

    surv = _escalating_survivors(
        staged,
        stats,
        strata_col,
        lambda m: F.when(F.col("_tot") <= 0, F.lit(_LONG_MAX)).otherwise(
            _hash_threshold(F.lit(m) * budget / F.col("_tot"))
        ),
        [F.count(F.lit(1)).alias("_sn"), F.sum("_nt").alias("_stok")],
        (F.coalesce(F.col("_stok"), F.lit(0)) < budget)
        & (F.coalesce(F.col("_sn"), F.lit(0)) < F.col("_n")),
        margin,
        max_rounds,
        observation,
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy("_hkey", F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        surv.withColumn(
            "tok_before", F.coalesce(F.sum("_nt").over(w), F.lit(0))
        )
        .where(F.col("tok_before") < budget)
        .select(
            *df.columns,
            F.col("_nt").alias("n_tokens"),
            F.col("tok_before"),
        )
    )
