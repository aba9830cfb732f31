"""Parse stage — ONE walk per page, many output columns.

Reproduces the reference's extension rule: every accessor reads out of a
single shared walk so two outputs can never disagree on validity
(reference docs/DESIGN.md:139-158,198-210; SeverityText rides
parseLogRecordSeverity's walk, logs.go:121-132). Here that rule is enforced
by construction: ``parse_pages`` builds ONE struct of all extracted columns
+ ``parse_error`` over a single utf8-validated copy of the payload, and
downstream stages only ever select struct fields.

Resolution semantics (SURVEY.md §1.4):
- ``severity``       — LAST occurrence wins (extractLastBytesField,
                       wire.go:296-321), 0 when absent (logs.go:116).
- ``severity_text``  — last-wins; NULL=absent vs ''=present-but-empty
                       (logs.go:121-132).
- ``attrs``          — every occurrence, wire order, duplicate keys
                       preserved (forEachRepeatedField, wire.go:106-149).
- ``extracted_text`` — FIRST match (extractBytesField, wire.go:262-294).
- ``parse_error``    — per-row quarantine column; the reference aborts the
                       batch at the first malformed field (wire.go:40-42),
                       which at 10^12 rows becomes per-row fail-fast +
                       exact quarantine counts (SURVEY.md §7).

The extractor is built from Spark builtins only (try_validate_utf8,
regexp_extract_all, zip_with): it stays inside whole-stage codegen, with no
Python worker and no Arrow transfer in the plan. Its independent second
implementation is the pure-Python ``fixtures.oracle.extract``, which the
tests compare against on every field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_NEST_DEPTH = 64  # reference recursion bound, attributes.go:95-97


def _pushdown_barrier(col: Column) -> Column:
    """Value-identity wrapper that stops the optimizer RE-EVALUATING an
    expensive staged column inside pushed-down filter predicates — the
    expression-path analog of ``udf.asNondeterministic()`` (the classic
    duplicated-BatchEvalPython fix): ``when(monotonically_increasing_id()
    >= 0, col)`` is always ``col`` (the id is non-negative by
    construction), but ``monotonically_increasing_id`` is flagged
    nondeterministic, which makes the alias non-substitutable: Catalyst
    neither inlines it into a pushed filter predicate
    (PushDownPredicate) nor into referencing expressions of a collapsed
    upper projection (CollapseProject) — the wrapped column is computed
    exactly once per row, as written. The guard value is never READ (the
    branch is always taken), so no result depends on physical execution
    metadata — the two-job-consistency rule is untouched. (A ``rand() >=
    -1`` guard does NOT work: Spark 4 bound-reasons Rand's [0,1) range
    and folds the branch away.) Without this, ``quarantine_split`` after
    a parse pushed ``isnull(parse_error)`` below the ``_ps`` projection
    and the predicate re-derived the ENTIRE payload (generation + utf8
    validation) per row — measured ~1.5 s of the 2M-page pipeline
    trial. Pure codegen CASE; zero allocation."""
    return F.when(F.monotonically_increasing_id() >= F.lit(0), col)


def _stage_split_barrier(col: Column, streaming: bool = False) -> Column:
    """_pushdown_barrier PLUS a deliberate whole-stage-codegen BREAK: the
    identity ``transform`` lambda is CodegenFallback, so the projection
    carrying this column cannot fuse with its neighbours. Used on the
    parse stage's ``_ps`` column, where the payload GENERATION expression
    below and the extraction regexes above would otherwise fuse into one
    generated method so large that HotSpot's DontCompileHugeMethods limit
    (8000 bytecodes) refuses to JIT it — the fused stage ran
    interpreted-bytecode at ~3× the cost (2M-page A/B: 3.4 s → 1.6 s;
    lowering spark.sql.codegen.hugeMethodLimit instead recovered this
    stage but regressed every HOF-heavy dedup stage 2-5×, see
    session.py). Costs one 1-element array copy per row — noise next to
    the utf8 validation it wraps.

    ``streaming=True`` swaps the guard for ``shuffle(array(col))[1]``
    (identity on a 1-element array, nondeterministic, so the same
    non-substitutability holds): streaming plans reject
    ``monotonically_increasing_id`` outright
    (UnsupportedOperationChecker), and micro-batches are small enough
    that the JIT stage-split concern does not apply."""
    if streaming:
        return F.element_at(F.shuffle(F.array(col)), 1)
    return F.when(
        F.monotonically_increasing_id() >= F.lit(0),
        F.element_at(F.transform(F.array(col), lambda x: x), 1),
    )


def exploded_nonempty(df, arr: Column, out_name: str, *keep) -> "DataFrame":
    """``explode`` an ATTRIBUTE array column WITHOUT the optimizer's
    inferred pre-filter re-deriving the array inside a pushed predicate
    (r6).

    When the generator input is an attribute of a staged projection, a
    plain ``explode`` makes InferFiltersFromGenerate add ``size(arr) > 0
    AND isnotnull(arr)`` below the Generate; PushDownPredicate then
    pushes that through the staging projections, SUBSTITUTING the
    array's full derivation into the predicate — and a transform
    lambda's outer references re-evaluate per element, so e.g. a shingle
    array's tokenization re-ran once per shingle index (measured 12× on
    the decontamination corpus side: 0.6 s → 7.6 s for a 5k-doc
    explode). ``explode_outer`` is exempt from the inference (it must
    keep non-generating rows), and the ``isnotnull`` filter on the
    GENERATOR OUTPUT cannot be pushed below the Generate that produces
    it — so the array is derived exactly once per row, as staged.
    Identical rows to ``explode`` whenever the array's elements are
    never NULL (all in-repo arrays: built from split/array_join/
    sequence) — empty/NULL arrays yield one null-element row here, which
    the filter drops, where ``explode`` yields none.

    Scope note: the inference rule SKIPS non-attribute generator inputs,
    so ``explode(<expression>)`` sites (vocab_counts, repetition 2-grams,
    the IVF probe) are not affected and keep the plain inner explode —
    its generated loop measured slightly faster (no null branch)."""
    return df.select(
        *keep, F.explode_outer(arr).alias(out_name)
    ).where(F.col(out_name).isNotNull())


# trace_id — the fixed-width validated ID analog (reference traces.go:90-124,
# logs.go:249-264: a TraceID must be exactly 16 bytes; wrong size is a
# field-level error, empty means absent). Here: exactly 32 lowercase hex
# chars → value; empty → absent (NULL, no error); anything else present →
# trace_id NULL + trace_error='invalid_trace_id'. Last occurrence wins
# (singular-field semantics, like severity).
#
# ref — the EntityRef structural-validation analog (attributes.go:410-438:
# a 4-string-field sub-message where type and id must be non-empty).
# Here: first `ref:<t>,<i>,<s>,<d>;` marker; exactly 4 comma-separated
# fields AND non-empty t,i → (ref_type, ref_id); structurally malformed →
# ref_error='invalid_ref' (field-level, NOT row quarantine — encoding
# errors quarantine the row, structure errors quarantine the field).
#
# depth — the recursion-bound analog (P15, attributes.go:95-97: semantic
# AnyValue parse capped at depth 64). Here: first `depth:<parens>;` marker,
# nesting measured iteratively; > 64 → nest_error='depth_exceeded',
# unbalanced parens → 'unbalanced' — field-level, like every structural
# failure.

# the ``parsed`` struct's fields, in order (``parse_error`` comes last)
ALL_PARSE_FIELDS = [
    "severity", "severity_text", "attrs", "record_count", "extracted_text",
    "trace_id", "trace_error", "ref_type", "ref_id", "ref_error",
    "nest_depth", "nest_error",
]


def parse_pages(
    df: DataFrame, html_col: str = "html", fields: list[str] | None = None
) -> DataFrame:
    """Attach the ``parsed`` struct: one column per extracted field plus
    ``parse_error``.

    ``fields`` limits the output struct (parse_error always included).
    Catalyst does NOT prune unused CreateNamedStruct fields here (the
    struct alias is referenced multiple times downstream, so CollapseProject
    keeps it whole) — a pipeline that routes only severity/record_count
    would silently pay for the attrs/text/trace/ref regex scans too. Listing
    the fields you read drops those scans from the plan entirely (pinned by
    tests/test_parse.py::test_fields_subset_prunes_unused_scans).

    Shared intermediates are STAGED as projection aliases before the struct
    is built: Catalyst re-evaluates non-attribute expressions per reference,
    so without staging the utf8 validation would re-scan the payload once
    per extractor, the trace raw value twice, the ref split three times and
    the depth char-fold twice (the same hazard class fixed in dedup.py).
    """
    selected = [f for f in ALL_PARSE_FIELDS if fields is None or f in fields]
    # helper staging columns are added with fixed names and dropped at the
    # end — an input column with one of these names would be silently
    # overwritten and destroyed; fail loudly instead
    _helper_names = ("_ps", "_ptraw", "_prraw", "_prparts", "_pdraw", "_pdscan")
    clash = [c for c in _helper_names if c in df.columns]
    if clash:
        raise ValueError(
            f"parse_pages: input columns {clash} collide with internal "
            "staging names; rename them before parsing"
        )
    h = F.col(html_col)
    staged = df.withColumn(
        "_ps",
        _stage_split_barrier(
            F.expr(f"try_validate_utf8({html_col})"), streaming=df.isStreaming
        ),
    )
    helpers = ["_ps"]
    s = F.col("_ps")
    err = (
        F.when(h.isNull(), F.lit("null_payload"))
        .when(s.isNull(), F.lit("utf8_decode_error"))
        .otherwise(F.lit(None).cast("string"))
    )

    def _severity() -> Column:
        sevs = F.regexp_extract_all(s, F.lit(r"severity=(\d{1,9});"), F.lit(1))
        return F.coalesce(F.try_element_at(sevs, F.lit(-1)).cast("int"), F.lit(0))

    def _severity_text() -> Column:
        texts = F.regexp_extract_all(s, F.lit(r"severity_text=([^;]*);"), F.lit(1))
        return F.try_element_at(texts, F.lit(-1))

    def _attrs() -> Column:
        keys = F.regexp_extract_all(s, F.lit(r"kv:([^=;]*)=[^;]*;"), F.lit(1))
        vals = F.regexp_extract_all(s, F.lit(r"kv:[^=;]*=([^;]*);"), F.lit(1))
        return F.zip_with(
            keys, vals, lambda k, v: F.struct(k.alias("key"), v.alias("value"))
        )

    def _record_count() -> Column:
        return F.size(F.regexp_extract_all(s, F.lit(r"<rec>.*?</rec>"), F.lit(0)))

    def _extracted_text() -> Column:
        return F.try_element_at(
            F.regexp_extract_all(s, F.lit(r"(?s)<p>(.*?)</p>"), F.lit(1)), F.lit(1)
        )

    # trace_id: last-wins; exactly 32 lowercase hex → valid, '' → absent,
    # anything else → field-level error (traces.go:90-124 analog).
    # \z (strict end) not $ — Java's $ matches before a trailing newline,
    # Python's \Z (the oracle anchor) does not; [^;]* can capture \n
    if {"trace_id", "trace_error"} & set(selected):
        staged = staged.withColumn(
            "_ptraw",
            F.try_element_at(
                F.regexp_extract_all(s, F.lit(r"trace_id=([^;]*);"), F.lit(1)),
                F.lit(-1),
            ),
        )
        helpers.append("_ptraw")

    def _trace_id() -> Column:
        traw = F.col("_ptraw")
        return F.when(traw.rlike(r"^[0-9a-f]{32}\z"), traw)

    def _trace_error() -> Column:
        traw = F.col("_ptraw")
        return F.when(
            traw.isNotNull() & (traw != "") & ~traw.rlike(r"^[0-9a-f]{32}\z"),
            F.lit("invalid_trace_id"),
        )

    # ref: first match; 4 comma-fields with non-empty type+id
    # (attributes.go:410-438 analog)
    if {"ref_type", "ref_id", "ref_error"} & set(selected):
        staged = staged.withColumn(
            "_prraw",
            F.try_element_at(
                F.regexp_extract_all(s, F.lit(r"ref:([^;]*);"), F.lit(1)),
                F.lit(1),
            ),
        ).withColumn("_prparts", F.split(F.col("_prraw"), ",", -1))
        helpers.extend(["_prraw", "_prparts"])

    def _rok() -> Column:
        parts = F.col("_prparts")
        p1 = F.try_element_at(parts, F.lit(1))
        p2 = F.try_element_at(parts, F.lit(2))
        return (F.size(parts) == 4) & (p1 != "") & (p2 != "")

    def _ref_type() -> Column:
        return F.when(
            F.col("_prraw").isNotNull() & _rok(),
            F.try_element_at(F.col("_prparts"), F.lit(1)),
        )

    def _ref_id() -> Column:
        return F.when(
            F.col("_prraw").isNotNull() & _rok(),
            F.try_element_at(F.col("_prparts"), F.lit(2)),
        )

    def _ref_error() -> Column:
        return F.when(
            F.col("_prraw").isNotNull() & ~_rok(), F.lit("invalid_ref")
        )

    # depth guard (P15): iterative paren scan as an aggregate fold over the
    # body's characters — cur/max/bad accumulator, bound at 64; the scan
    # struct is staged so nest_depth and nest_error share ONE fold
    if {"nest_depth", "nest_error"} & set(selected):
        staged = staged.withColumn(
            "_pdraw",
            F.try_element_at(
                F.regexp_extract_all(s, F.lit(r"depth:([^;]*);"), F.lit(1)),
                F.lit(1),
            ),
        )
        delta = lambda ch: (  # noqa: E731
            F.when(ch == "(", 1).when(ch == ")", -1).otherwise(0)
        )
        scan = F.aggregate(
            F.split(F.col("_pdraw"), ""),
            F.struct(
                F.lit(0).alias("cur"), F.lit(0).alias("mx"), F.lit(False).alias("bad")
            ),
            lambda acc, ch: F.struct(
                (acc["cur"] + delta(ch)).alias("cur"),
                F.greatest(
                    acc["mx"], acc["cur"] + F.when(ch == "(", 1).otherwise(0)
                ).alias("mx"),
                (acc["bad"] | ((acc["cur"] + delta(ch)) < 0)).alias("bad"),
            ),
        )
        staged = staged.withColumn("_pdscan", scan)
        helpers.extend(["_pdraw", "_pdscan"])

    def _unbalanced() -> Column:
        sc = F.col("_pdscan")
        return sc["bad"] | (sc["cur"] != 0)

    def _nest_depth() -> Column:
        return F.when(
            F.col("_pdraw").isNotNull()
            & ~_unbalanced()
            & (F.col("_pdscan")["mx"] <= MAX_NEST_DEPTH),
            F.col("_pdscan")["mx"],
        ).cast("int")

    def _nest_error() -> Column:
        return F.when(
            F.col("_pdraw").isNotNull() & _unbalanced(), F.lit("unbalanced")
        ).when(
            F.col("_pdraw").isNotNull()
            & (F.col("_pdscan")["mx"] > MAX_NEST_DEPTH),
            F.lit("depth_exceeded"),
        )

    builders = {
        "severity": _severity,
        "severity_text": _severity_text,
        "attrs": _attrs,
        "record_count": _record_count,
        "extracted_text": _extracted_text,
        "trace_id": _trace_id,
        "trace_error": _trace_error,
        "ref_type": _ref_type,
        "ref_id": _ref_id,
        "ref_error": _ref_error,
        "nest_depth": _nest_depth,
        "nest_error": _nest_error,
    }
    ok = err.isNull()
    parsed = F.struct(
        *[F.when(ok, builders[name]()).alias(name) for name in selected],
        err.alias("parse_error"),
    )
    return staged.withColumn("parsed", parsed).drop(*helpers)


# ---------------------------------------------------------------------------
# I8 — type-DEPENDENT attribute field resolution (reference metrics.go:17-53:
# the DataPoint attributes field NUMBER depends on the metric body type —
# histogram→field 9, exponential-histogram→field 1, everything else→field 7 —
# and downstream consumers see ONE uniform attrs view). Analog grammar:
# ``<rec t=N>f1=..;f7=..;f9=..;</rec>`` where the rec's attr payload lives in
# f9 when t=2, f1 when t=3, f7 otherwise; the parser normalizes to a uniform
# array<struct<rec_type,attr>> (pure-Python mirror: fixtures.oracle.typed_recs).
# ---------------------------------------------------------------------------


def typed_recs_expr(s: Column) -> Column:
    recs = F.regexp_extract_all(s, F.lit(r"<rec t=\d>.*?</rec>"), F.lit(0))

    def one(r: Column) -> Column:
        t = F.regexp_extract(r, r"<rec t=(\d)>", 1).cast("int")
        f1 = F.regexp_extract(r, r"f1=([^;]*);", 1)
        f7 = F.regexp_extract(r, r"f7=([^;]*);", 1)
        f9 = F.regexp_extract(r, r"f9=([^;]*);", 1)
        attr = F.when(t == 2, f9).when(t == 3, f1).otherwise(f7)
        return F.struct(t.alias("rec_type"), attr.alias("attr"))

    return F.transform(recs, one)


def parse_typed_records(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Attach ``typed_recs`` — the uniform attrs view over type-dependent
    field locations. NULL on undecodable payloads (same quarantine contract
    as the main parse)."""
    s = F.expr(f"try_validate_utf8({html_col})")
    return df.withColumn("typed_recs", F.when(s.isNotNull(), typed_recs_expr(s)))


def attr_first_value(attrs_col: Column, key: str) -> Column:
    """FIRST value for a duplicate key — pdata-map lookup semantics
    (reference attributes.go:336-404). Position-keyed, never row-order-keyed
    (SURVEY.md §2.5): `filter` preserves array (wire) order, element 1 is
    the first occurrence. try_element_at → NULL when absent (the found-flag
    of attributes.go:64-74)."""
    return F.try_element_at(
        F.filter(attrs_col, lambda kv: kv["key"] == key), F.lit(1)
    )["value"]


def attr_last_value(attrs_col: Column, key: str) -> Column:
    """LAST value — extractLastBytesField semantics (wire.go:296-321)."""
    return F.try_element_at(
        F.filter(attrs_col, lambda kv: kv["key"] == key), F.lit(-1)
    )["value"]


def attrs_merged(attrs_col: Column) -> Column:
    """All occurrences concatenated in wire order — the merge semantics of
    singular messages (extractMergedMessage, wire.go:171-260): duplicates
    preserved on enumeration (resource_test.go:287-333)."""
    return F.array_join(
        F.transform(attrs_col, lambda kv: F.concat_ws("=", kv["key"], kv["value"])),
        ";",
    )
