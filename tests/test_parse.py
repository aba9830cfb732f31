"""Parse-stage differential tests vs the pure-Python oracle — the pdata-
parity analog (reference AGENTS.md:127-144, log_iteration_test.go:106).

Pins: byte-identical extracted text per url (BASELINE input_hint), last-
value-wins severity (wire.go:296-321), NULL-vs-'' severity_text
(logs.go:121-132), duplicate-key attrs in wire order with first-wins lookup
(attributes.go:336-404, resource_test.go:287-333), per-row parse_error
quarantine, and the pure-JVM plan gate (no EvalPython at all).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from otlp_wire_spark.fixtures import oracle
from otlp_wire_spark.fixtures.pages import generate_pages
from otlp_wire_spark.operators.parse import (
    ALL_PARSE_FIELDS,
    attr_first_value,
    attr_last_value,
    attrs_merged,
    exploded_nonempty,
    parse_pages,
)
from otlp_wire_spark.plans.asserts import (
    assert_no_python,
    executed_plan,
    optimized_plan,
)
from otlp_wire_spark.queries import QUERIES
from otlp_wire_spark.queries_wire import QUERIES_WIRE

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
        got = tuple(r[f] for f in oracle.PARSED_FIELDS)
        assert got == oracle.parsed(oracle.html(i)), i


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
    """Every field, parsed ALONE (``fields=[f]``, the pruned plan a hot
    path runs), must equal the independent pure-Python oracle on the same
    bytes — value AND accept/reject — the wire-vs-pdata parity gate
    (reference benchmark_comparison_test.go:297-301, operations.md:25).
    The oracle's field list is the parser's struct, in order."""
    assert oracle.PARSED_FIELDS == (*ALL_PARSE_FIELDS, "parse_error")
    df = generate_pages(spark, 800)
    for f in ALL_PARSE_FIELDS:
        df = parse_pages(df, fields=[f]).withColumnRenamed("parsed", f"p_{f}")
    rows = df.select(
        "page_id", "html", *[f"p_{f}" for f in ALL_PARSE_FIELDS]
    ).collect()
    assert len(rows) == 800
    for r in rows:
        want = dict(zip(oracle.PARSED_FIELDS, oracle.parsed(r["html"])))
        for f in ALL_PARSE_FIELDS:
            got = r[f"p_{f}"]
            assert got["parse_error"] == want["parse_error"], (r["page_id"], f)
            assert got[f] == want[f], (r["page_id"], f)


def test_expr_path_is_pure_jvm(spark):
    """The default (expr) parse path must contain NO Python evaluation at
    all — whole-stage codegen end to end."""
    df = parse_pages(generate_pages(spark, 10)).select("parsed.severity")
    plan = executed_plan(df)
    assert "EvalPython" not in plan  # neither Batch- nor Arrow-


@pytest.fixture(scope="module")
def documents_dir(spark, tmp_path_factory):
    """A 64-row ``documents`` table — the columns the wire queries read."""
    d = tmp_path_factory.mktemp("docs")
    spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["wire_band_histogram", "wire_attr_resolution", "wire_field_validation"],
)
def test_wire_query_plan_is_pure_jvm(spark, documents_dir, name):
    """The graded parse queries run the JVM parser end to end — no Python
    evaluation anywhere in the executed plan; wire_attr_resolution's parse
    is field-pruned, so the trace/ref/depth scans are absent too."""
    df = {**QUERIES, **QUERIES_WIRE}[name](spark, documents_dir)
    assert_no_python(df)
    assert df.count() > 0
    if name == "wire_attr_resolution":
        plan = optimized_plan(df)
        for gone in ("trace_id=", "ref:", "depth:"):
            assert gone not in plan, gone


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
    plan = optimized_plan(out)
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


def test_helper_column_collision_rejected(spark):
    """parse_pages stages helper columns under fixed names; an input
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
