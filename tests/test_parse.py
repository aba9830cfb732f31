"""Parse-stage differential tests vs the pure-Python oracle — the pdata-
parity analog (reference AGENTS.md:127-144, log_iteration_test.go:106).

Pins: byte-identical extracted text per url (BASELINE input_hint), last-
value-wins severity (wire.go:296-321), NULL-vs-'' severity_text
(logs.go:121-132), duplicate-key attrs in wire order with first-wins lookup
(attributes.go:336-404, resource_test.go:287-333), per-row parse_error
quarantine, and the no-per-row-Python plan gate (ArrowEvalPython only).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from otlp_wire_spark.fixtures import oracle
from otlp_wire_spark.fixtures.pages import generate_pages
from otlp_wire_spark.operators.parse import (
    attr_first_value,
    attr_last_value,
    attrs_merged,
    exploded_nonempty,
    parse_pages,
)

N = 1200  # covers every modulus class used by the generator


@pytest.fixture(scope="module")
def parsed_rows(spark):
    df = parse_pages(generate_pages(spark, N))
    rows = df.select(
        "page_id", "url", "html", "text",
        "parsed.severity", "parsed.severity_text", "parsed.attrs",
        "parsed.record_count", "parsed.extracted_text",
        "parsed.trace_id", "parsed.trace_error",
        "parsed.ref_type", "parsed.ref_id", "parsed.ref_error",
        "parsed.nest_depth", "parsed.nest_error",
        "parsed.parse_error",
    ).collect()
    return {r["page_id"]: r for r in rows}


def test_generator_matches_oracle_bytes(parsed_rows):
    """The Spark expression generator and the pure-Python mirror agree
    byte-for-byte on html/url/text for every row."""
    for i in range(N):
        r = parsed_rows[i]
        assert r["url"] == oracle.url(i), i
        assert bytes(r["html"]) == oracle.html(i), i
        assert r["text"] == oracle.text(i), i


def test_extraction_matches_oracle(parsed_rows):
    for i in range(N):
        r = parsed_rows[i]
        e = oracle.extract(oracle.html(i))
        if e.parse_error is not None:
            assert r["parse_error"] == e.parse_error, i
            assert r["severity"] is None and r["attrs"] is None, i
            continue
        assert r["parse_error"] is None, i
        assert r["severity"] == e.severity, i
        assert r["severity_text"] == e.severity_text, i  # None vs '' preserved
        assert [(a["key"], a["value"]) for a in r["attrs"]] == e.attrs, i
        assert r["record_count"] == e.record_count, i
        assert r["extracted_text"] == e.extracted_text, i
        assert r["trace_id"] == e.trace_id, i
        assert r["trace_error"] == e.trace_error, i
        assert r["ref_type"] == e.ref_type, i
        assert r["ref_id"] == e.ref_id, i
        assert r["ref_error"] == e.ref_error, i
        assert r["nest_depth"] == e.nest_depth, i
        assert r["nest_error"] == e.nest_error, i


def test_depth_guard_states(parsed_rows):
    """P15 analog: valid depth / exceeded / unbalanced / absent all occur in
    the fixture and resolve per the attributes.go:95-97 recursion bound."""
    states = {"valid": 0, "exceeded": 0, "unbalanced": 0, "absent": 0}
    for i in range(N):
        r = parsed_rows[i]
        if r["parse_error"] is not None:
            continue
        if i % 61 == 0:
            assert r["nest_depth"] is None and r["nest_error"] is None, i
            states["absent"] += 1
        elif i % 53 == 0:
            assert r["nest_error"] == "depth_exceeded", i
            states["exceeded"] += 1
        elif i % 59 == 0:
            assert r["nest_error"] == "unbalanced", i
            states["unbalanced"] += 1
        else:
            assert r["nest_depth"] == i % 5 + 1 and r["nest_error"] is None, i
            states["valid"] += 1
    assert all(v > 0 for v in states.values()), states


def test_trace_id_validation_states(parsed_rows):
    """P5 analog: valid / empty→absent / wrong-length / non-hex / absent all
    occur in the fixture and resolve per traces.go:90-124 semantics."""
    states = {"valid": 0, "absent": 0, "invalid": 0}
    for i in range(N):
        r = parsed_rows[i]
        if r["parse_error"] is not None:
            continue
        if r["trace_id"] is not None:
            assert len(r["trace_id"]) == 32 and r["trace_error"] is None, i
            states["valid"] += 1
        elif r["trace_error"] is not None:
            assert r["trace_error"] == "invalid_trace_id", i
            states["invalid"] += 1
        else:
            states["absent"] += 1
        if i % 7 == 3:
            assert r["trace_id"] is None and r["trace_error"] is None, i
        elif i % 23 == 0:
            assert r["trace_id"] is None and r["trace_error"] is None, i
        elif i % 31 == 0 or i % 37 == 0:
            assert r["trace_error"] == "invalid_trace_id", i
        else:
            assert r["trace_id"] == format(i * 9973 + 7, "x").zfill(32), i
    assert all(v > 0 for v in states.values()), states


def test_ref_structural_validation_states(parsed_rows):
    """P14 analog: structurally-malformed refs (3 fields, empty type) get a
    field-level error; valid refs expose type+id (attributes.go:410-438)."""
    saw_invalid = saw_valid = False
    for i in range(N):
        r = parsed_rows[i]
        if r["parse_error"] is not None:
            continue
        if i % 19 == 0:
            assert r["ref_type"] is None and r["ref_error"] is None, i
        elif i % 41 == 0 or i % 43 == 0:
            assert r["ref_error"] == "invalid_ref" and r["ref_type"] is None, i
            saw_invalid = True
        else:
            assert r["ref_type"] == f"cat{i % 13}" and r["ref_id"] == f"id{i % 29}", i
            assert r["ref_error"] is None, i
            saw_valid = True
    assert saw_invalid and saw_valid


def test_extracted_text_byte_identical_per_url(parsed_rows):
    """input_hint invariant: byte-identical extracted text per url."""
    checked = 0
    for i in range(N):
        r = parsed_rows[i]
        if r["parse_error"] is not None or r["text"] is None:
            continue
        assert r["extracted_text"].encode("utf-8") == r["text"].encode("utf-8"), i
        checked += 1
    assert checked > N // 2


def test_absent_vs_empty_distinguished(parsed_rows):
    saw_null = saw_empty = False
    for i in range(N):
        r = parsed_rows[i]
        if r["parse_error"] is not None:
            continue
        if i % 13 == 0:
            assert r["severity_text"] is None, i  # absent
            saw_null = True
        elif i % 17 == 0:
            assert r["severity_text"] == "", i  # present-but-empty
            saw_empty = True
    assert saw_null and saw_empty


def test_last_value_wins_severity(parsed_rows):
    hit = False
    for i in range(N):
        if i % 11 == 0 or i % 5 != 0 or i % 101 == 0:
            continue
        assert parsed_rows[i]["severity"] == (i * 13) % 25, i  # second marker
        hit = True
    assert hit


def test_attr_resolution_semantics(spark):
    """first-wins lookup / last-wins / merged enumeration, position-keyed."""
    df = parse_pages(generate_pages(spark, 300)).filter(
        F.col("parsed.parse_error").isNull()
    )
    rows = df.select(
        "page_id",
        attr_first_value(F.col("parsed.attrs"), "k1").alias("first_k1"),
        attr_last_value(F.col("parsed.attrs"), "k1").alias("last_k1"),
        attr_first_value(F.col("parsed.attrs"), "missing").alias("absent"),
        attrs_merged(F.col("parsed.attrs")).alias("merged"),
    ).collect()
    for r in rows:
        i = r["page_id"]
        e = oracle.extract(oracle.html(i))
        assert r["first_k1"] == oracle.attr_lookup(e.attrs, "k1"), i
        want_last = [v for k, v in e.attrs if k == "k1"][-1]
        assert r["last_k1"] == want_last, i
        assert r["absent"] is None, i
        assert r["merged"] == ";".join(f"{k}={v}" for k, v in e.attrs), i
        if i % 3 == 0:
            assert r["first_k1"] == f"v{i % 7}" and r["last_k1"] == "dup", i


def test_expr_and_arrow_paths_identical(spark):
    """Two independent extractors over the same bytes must agree on every
    output AND on accept/reject — the wire-vs-pdata parity gate
    (reference benchmark_comparison_test.go:297-301, operations.md:25)."""
    pages = generate_pages(spark, 800)
    cols = [
        "page_id", "parsed.severity", "parsed.severity_text", "parsed.attrs",
        "parsed.record_count", "parsed.extracted_text",
        "parsed.trace_id", "parsed.trace_error",
        "parsed.ref_type", "parsed.ref_id", "parsed.ref_error",
        "parsed.nest_depth", "parsed.nest_error",
        "parsed.parse_error",
    ]
    a = {r["page_id"]: r for r in parse_pages(pages, impl="expr").select(cols).collect()}
    b = {r["page_id"]: r for r in parse_pages(pages, impl="arrow").select(cols).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert tuple(a[k]) == tuple(b[k]), k


def test_expr_path_is_pure_jvm(spark):
    """The default (expr) parse path must contain NO Python evaluation at
    all — whole-stage codegen end to end."""
    df = parse_pages(generate_pages(spark, 10)).select("parsed.severity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # neither Batch- nor Arrow-


def test_fields_subset_prunes_unused_scans(spark):
    """fields=[...] must drop unlisted extractors from the optimized plan —
    Catalyst won't prune a multi-referenced struct itself, so the routed
    pipeline relies on this to avoid paying for attrs/text/trace/ref regex
    scans it never reads. Values must equal the full parse."""
    df0 = spark.createDataFrame(
        [(i, oracle.html(i)) for i in range(200)], "page_id long, html binary"
    )
    sub = parse_pages(df0, fields=["severity", "severity_text", "record_count"])
    out = sub.select("page_id", "parsed.*")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for gone in (r"kv:([^=;]*)", r"(?s)<p>(.*?)</p>", r"trace_id=([^;]*)",
                 r"ref:([^;]*)"):
        assert gone not in plan, gone
    assert r"severity=(\d{1,9})" in plan
    # schema is exactly the subset (+ parse_error), values match full parse
    assert out.columns == ["page_id", "severity", "severity_text",
                           "record_count", "parse_error"]
    full = {r["page_id"]: r for r in parse_pages(df0).select(
        "page_id", "parsed.severity", "parsed.severity_text",
        "parsed.record_count", "parsed.parse_error").collect()}
    for r in out.collect():
        assert tuple(r) == tuple(full[r["page_id"]]), r["page_id"]
    # arrow impl honors the same subset contract
    arrow = parse_pages(df0, impl="arrow",
                        fields=["severity", "severity_text", "record_count"])
    got = {r["page_id"]: r for r in arrow.select("page_id", "parsed.*").collect()}
    for pid, r in got.items():
        assert tuple(r) == tuple(full[pid]), pid


def test_decode_fallback_is_per_failing_row_only():
    """A 10k-row batch with 1 malformed row must NOT re-decode the whole
    batch in Python — only the failing row (plus any legitimately-U+FFFD
    rows) takes the per-element retry (VERDICT r1 item 6)."""
    import pandas as pd

    from otlp_wire_spark.operators import parse as parse_mod

    rows = [f"<html><body>severity={i % 25};</body></html>".encode() for i in range(10_000)]
    rows[1234] = b"\xff\xfe broken"
    rows[77] = "ok � native replacement char".encode()  # valid, has U+FFFD
    s = pd.Series(rows)
    parse_mod.DECODE_STATS["slow_rows"] = 0
    dec, err = parse_mod._decode_batch(s)
    # exactness: the one bad row quarantined, everything else decoded
    assert err[1234] == "utf8_decode_error" and dec[1234] is None
    assert err.notna().sum() == 1
    assert dec[77] == "ok � native replacement char"
    assert dec[0] == "<html><body>severity=0;</body></html>"
    # efficiency: per-row retry touched only the suspicious rows (2), not 10k
    assert parse_mod.DECODE_STATS["slow_rows"] <= 2


def test_plan_is_arrow_only(spark):
    """Allocation-gate analog (SURVEY.md §5): when Python IS used (arrow
    impl), the plan must use ArrowEvalPython (vectorized), never
    BatchEvalPython (per-row)."""
    df = parse_pages(generate_pages(spark, 10), impl="arrow").select("parsed.severity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_helper_column_collision_rejected(spark):
    """parse_pages_expr stages helper columns under fixed names; an input
    that already carries one must fail loudly instead of silently
    destroying the column."""
    import pytest

    df = generate_pages(spark, 5).withColumn("_ps", F.lit("user data"))
    with pytest.raises(ValueError, match="_ps"):
        parse_pages(df)


def test_exploded_nonempty_drops_null_elements_and_empty_arrays(spark):
    """exploded_nonempty's documented row rule: NULL elements are dropped,
    and an empty or NULL array yields no rows (explode_outer's placeholder
    row is filtered) — unlike plain explode, which keeps NULL elements."""
    df = spark.createDataFrame(
        [(1, ["a", None, "b"]), (2, []), (3, None), (4, [None]), (5, ["c"])],
        "id INT, arr ARRAY<STRING>",
    )
    got = sorted(
        tuple(r) for r in exploded_nonempty(df, F.col("arr"), "el", "id").collect()
    )
    assert got == [(1, "a"), (1, "b"), (5, "c")]
    plain = df.select("id", F.explode("arr").alias("el")).collect()
    assert sorted(r["id"] for r in plain if r["el"] is None) == [1, 4]
