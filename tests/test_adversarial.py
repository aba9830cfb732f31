"""Adversarial/malformed-payload corpus — mirrors the reference's
hand-built malformed-wire tests (AGENTS.md:134-141, resource_test.go:366-500,
otlpwire_test.go:932-947): wrong types, truncation, duplicates, unknown
fields, out-of-order fields, pathological sizes. The parser must agree with
the independent pure-Python oracle byte-for-byte on accept/reject AND on
every extracted value (accessor-parity rule, operations.md:25)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from otlp_wire_spark.fixtures import oracle
from otlp_wire_spark.operators.parse import parse_pages, parse_typed_records

PARSED_COLS = [f"parsed.{f}" for f in oracle.PARSED_FIELDS]

CORPUS: list[tuple[str, bytes | None]] = [
    ("empty_page", b""),
    ("null_payload", None),
    ("only_html_shell", b"<html><body></body></html>"),
    ("truncated_mid_marker", b"<html><body>severity=1"),
    ("truncated_mid_value", b"<html><body>kv:k1=v"),
    ("wrong_type_severity", b"<html><body>severity=notanint;</body></html>"),
    ("negative_severity", b"<html><body>severity=-3;</body></html>"),
    ("huge_severity", b"<html><body>severity=99999999999999;</body></html>"),
    ("unknown_marker_skipped", b"<html><body>zzz:whatever;severity=7;</body></html>"),
    ("out_of_order_fields", b"<html><body><rec>r</rec>kv:k=v;severity=3;severity_text=T;</body></html>"),
    ("dup_singular_severity", b"<html><body>severity=2;severity=20;</body></html>"),
    ("triple_dup_key", b"<html><body>kv:a=1;kv:a=2;kv:a=3;</body></html>"),
    ("empty_key", b"<html><body>kv:=v;</body></html>"),
    ("empty_value", b"<html><body>kv:k=;</body></html>"),
    ("unclosed_rec", b"<html><body><rec>r0</rec><rec>unclosed</body></html>"),
    ("nested_rec", b"<html><body><rec>a<rec>b</rec>c</rec></body></html>"),
    ("empty_text_block", b"<html><body><p></p></body></html>"),
    ("two_text_blocks_first_wins", b"<html><body><p>first</p><p>second</p></body></html>"),
    ("multiline_text", b"<html><body><p>line1\nline2</p></body></html>"),
    ("invalid_utf8", b"\xff\xfe\x00broken"),
    ("utf8_cut_multibyte", "<html><body><p>caf".encode() + b"\xc3"),
    ("valid_multibyte", "<html><body>severity=5;<p>café 中文</p></body></html>".encode()),
    ("severity_text_like_prefix", b"<html><body>severity_text=abc;</body></html>"),
    ("giant_flat_page", b"<html><body>" + b"kv:k=v;" * 5000 + b"</body></html>"),
    ("marker_inside_text", b"<html><body><p>severity=9;</p></body></html>"),
    # fixed-width validated ID (P5 analog, traces.go:90-124)
    ("trace_valid", b"<html><body>trace_id=0123456789abcdef0123456789abcdef;</body></html>"),
    ("trace_too_short", b"<html><body>trace_id=0123456789abcdef;</body></html>"),
    ("trace_too_long", b"<html><body>trace_id=0123456789abcdef0123456789abcdef00;</body></html>"),
    ("trace_uppercase_rejected", b"<html><body>trace_id=0123456789ABCDEF0123456789ABCDEF;</body></html>"),
    ("trace_empty_is_absent", b"<html><body>trace_id=;</body></html>"),
    ("trace_dup_last_wins", b"<html><body>trace_id=bad;trace_id=0123456789abcdef0123456789abcdef;</body></html>"),
    ("trace_newline_tail_rejected", b"<html><body>trace_id=0123456789abcdef0123456789abcdef\n;</body></html>"),
    ("trace_unterminated", b"<html><body>trace_id=0123456789abcdef0123456789abcdef</body></html>"),
    # EntityRef structural validation (P14 analog, attributes.go:410-438)
    ("ref_valid", b"<html><body>ref:svc,inst-1,schema,desc;</body></html>"),
    ("ref_valid_empty_tail_fields", b"<html><body>ref:svc,inst-1,,;</body></html>"),
    ("ref_three_fields", b"<html><body>ref:svc,inst-1,schema;</body></html>"),
    ("ref_five_fields", b"<html><body>ref:a,b,c,d,e;</body></html>"),
    ("ref_empty_type", b"<html><body>ref:,inst-1,schema,desc;</body></html>"),
    ("ref_empty_id", b"<html><body>ref:svc,,schema,desc;</body></html>"),
    ("ref_first_match_wins", b"<html><body>ref:first,id1,s,d;ref:second,id2,s,d;</body></html>"),
    ("ref_empty_body", b"<html><body>ref:;</body></html>"),
    # depth guard (P15 analog, attributes.go:95-97 recursion bound)
    ("depth_simple", b"<html><body>depth:((x));</body></html>"),
    ("depth_zero", b"<html><body>depth:;</body></html>"),
    ("depth_flat_noise_ignored", b"<html><body>depth:a(b)c(d(e));</body></html>"),
    ("depth_exactly_64", b"<html><body>depth:" + b"(" * 64 + b"x" + b")" * 64 + b";</body></html>"),
    ("depth_65_exceeded", b"<html><body>depth:" + b"(" * 65 + b"x" + b")" * 65 + b";</body></html>"),
    ("depth_unbalanced_open", b"<html><body>depth:((x);</body></html>"),
    ("depth_unbalanced_close", b"<html><body>depth:(x));</body></html>"),
    ("depth_close_before_open", b"<html><body>depth:)x(;</body></html>"),
    # combined markers in ONE page (the merged wire_field_validation shape)
    # — cross-extractor interactions must stay pinned
    ("combined_all_valid",
     b"<html><body>trace_id=0123456789abcdef0123456789abcdef;"
     b"ref:svc,inst-1,schema,desc;depth:((x));</body></html>"),
    ("combined_reordered",
     b"<html><body>depth:(x);ref:svc,i,s,d;"
     b"trace_id=0123456789abcdef0123456789abcdef;</body></html>"),
    # the trace VALUE is itself a ref-marker lookalike: ref's first-match
    # fires inside the trace value; the trace value is non-hex → error
    ("combined_trace_value_is_ref_marker",
     b"<html><body>trace_id=ref:a,b,c,d;depth:((x));</body></html>"),
    # ref field content contains parens — the depth scan reads ONLY the
    # depth marker's body, never ref's
    ("combined_ref_fields_with_parens",
     b"<html><body>ref:s(v,i)n,s,d;depth:((x));</body></html>"),
    # the depth body is cut at the FIRST ';' — which belongs to a trace
    # marker embedded inside the parens, leaving depth unbalanced AND
    # making that embedded trace marker the (invalid) last-wins trace
    ("combined_depth_body_embeds_trace",
     b"<html><body>depth:(trace_id=00;(x));</body></html>"),
]


@pytest.fixture(scope="module")
def corpus_results(spark):
    rows = [(i, name, payload) for i, (name, payload) in enumerate(CORPUS)]
    df = spark.createDataFrame(rows, "id long, name string, html binary")
    parsed = parse_pages(df).select("id", "name", *PARSED_COLS)
    return {r["name"]: r for r in parsed.collect()}


def test_corpus_matches_python_oracle(corpus_results):
    for name, payload in CORPUS:
        assert tuple(corpus_results[name])[2:] == oracle.parsed(payload), name


def test_specific_semantics(corpus_results):
    r = corpus_results
    # wrong-typed value is an unknown field → skipped, absent → 0
    assert r["wrong_type_severity"]["severity"] == 0
    # last-value-wins on duplicated singular field
    assert r["dup_singular_severity"]["severity"] == 20
    # enumeration preserves ALL duplicate keys in order
    assert [a["value"] for a in r["triple_dup_key"]["attrs"]] == ["1", "2", "3"]
    # first-match for text blocks (extractBytesField semantics)
    assert r["two_text_blocks_first_wins"]["extracted_text"] == "first"
    # present-but-empty text ≠ absent
    assert r["empty_text_block"]["extracted_text"] == ""
    assert r["only_html_shell"]["extracted_text"] is None
    # unclosed trailing rec is not counted
    assert r["unclosed_rec"]["record_count"] == 1
    # invalid utf8 → quarantined, all fields NULL
    assert r["invalid_utf8"]["parse_error"] == "utf8_decode_error"
    assert r["invalid_utf8"]["severity"] is None
    assert r["null_payload"]["parse_error"] == "null_payload"
    # unknown markers skipped (forward compat), known ones still parsed
    assert r["unknown_marker_skipped"]["severity"] == 7
    # DOTALL: text spans newlines
    assert r["multiline_text"]["extracted_text"] == "line1\nline2"
    assert r["giant_flat_page"]["attrs"] is not None
    assert len(r["giant_flat_page"]["attrs"]) == 5000
    # P5: exactly-32-lowercase-hex or bust; empty → absent; last wins
    assert r["trace_valid"]["trace_id"] == "0123456789abcdef0123456789abcdef"
    assert r["trace_valid"]["trace_error"] is None
    for bad in ("trace_too_short", "trace_too_long",
                "trace_uppercase_rejected", "trace_newline_tail_rejected"):
        assert r[bad]["trace_id"] is None and r[bad]["trace_error"] == "invalid_trace_id", bad
    assert r["trace_empty_is_absent"]["trace_id"] is None
    assert r["trace_empty_is_absent"]["trace_error"] is None
    assert r["trace_dup_last_wins"]["trace_id"] == "0123456789abcdef0123456789abcdef"
    assert r["trace_unterminated"]["trace_id"] is None  # no ';' → no field
    assert r["trace_unterminated"]["trace_error"] is None
    # P14: 4 fields with non-empty type+id; field-level error otherwise
    assert r["ref_valid"]["ref_type"] == "svc" and r["ref_valid"]["ref_id"] == "inst-1"
    assert r["ref_valid_empty_tail_fields"]["ref_type"] == "svc"  # s,d may be ''
    for bad in ("ref_three_fields", "ref_five_fields", "ref_empty_type",
                "ref_empty_id", "ref_empty_body"):
        assert r[bad]["ref_error"] == "invalid_ref" and r[bad]["ref_type"] is None, bad
    assert r["ref_first_match_wins"]["ref_type"] == "first"
    # structural field errors do NOT quarantine the row
    assert r["ref_three_fields"]["parse_error"] is None
    assert r["trace_too_short"]["parse_error"] is None
    # P15: depth bound at exactly 64; unbalanced always a field error
    assert r["depth_simple"]["nest_depth"] == 2
    assert r["depth_zero"]["nest_depth"] == 0
    assert r["depth_flat_noise_ignored"]["nest_depth"] == 2
    assert r["depth_exactly_64"]["nest_depth"] == 64
    assert r["depth_exactly_64"]["nest_error"] is None
    assert r["depth_65_exceeded"]["nest_depth"] is None
    assert r["depth_65_exceeded"]["nest_error"] == "depth_exceeded"
    for bad in ("depth_unbalanced_open", "depth_unbalanced_close",
                "depth_close_before_open"):
        assert r[bad]["nest_error"] == "unbalanced", bad
    assert r["depth_65_exceeded"]["parse_error"] is None  # field-level only


# ---------------------------------------------------------------------------
# I8 — typed records: attr field location depends on the type tag
# (metrics.go:17-53 analog); the parser must normalize like the oracle
# ---------------------------------------------------------------------------

TYPED_CORPUS: list[tuple[str, bytes | None]] = [
    ("t0_default_f7", b"<rec t=0>f1=a;f7=b;f9=c;</rec>"),
    ("t2_uses_f9", b"<rec t=2>f1=a;f7=b;f9=c;</rec>"),
    ("t3_uses_f1", b"<rec t=3>f1=a;f7=b;f9=c;</rec>"),
    ("t7_unknown_type_default_f7", b"<rec t=7>f1=a;f7=b;f9=c;</rec>"),
    ("out_of_order_fields", b"<rec t=2>f9=z;f1=a;f7=b;</rec>"),
    ("missing_selected_field", b"<rec t=2>f1=a;f7=b;</rec>"),
    ("missing_all_fields", b"<rec t=0></rec>"),
    ("empty_value", b"<rec t=3>f1=;f7=b;</rec>"),
    ("multiple_recs_mixed", b"<rec t=2>f9=x;</rec><rec t=3>f1=y;</rec><rec t=0>f7=z;</rec>"),
    ("untyped_rec_ignored", b"<rec>r0</rec><rec t=2>f9=q;</rec>"),
    ("unterminated_rec", b"<rec t=2>f9=x;"),
    ("newline_in_body_breaks_rec", b"<rec t=2>f9=x;\n</rec>"),
    ("invalid_utf8_null_out", b"\xff\xfe"),
    ("null_payload_typed", None),
]


@pytest.fixture(scope="module")
def typed_results(spark):
    rows = [(i, name, payload) for i, (name, payload) in enumerate(TYPED_CORPUS)]
    df = spark.createDataFrame(rows, "id long, name string, html binary")
    got = parse_typed_records(df).select("name", "typed_recs")
    return {r["name"]: r["typed_recs"] for r in got.collect()}


def test_typed_recs_match_python_mirror(typed_results):
    for name, payload in TYPED_CORPUS:
        got = typed_results[name]
        if payload is None:
            assert got is None, name
            continue
        try:
            s = payload.decode("utf-8")
        except UnicodeDecodeError:
            assert got is None, name
            continue
        want = [(r["rec_type"], r["attr"]) for r in oracle.typed_recs(s)]
        assert [(r["rec_type"], r["attr"]) for r in got] == want, name


def test_typed_recs_field_selection(typed_results):
    r = typed_results
    one = lambda name: (r[name][0]["rec_type"], r[name][0]["attr"])  # noqa: E731
    assert one("t0_default_f7") == (0, "b")
    assert one("t2_uses_f9") == (2, "c")
    assert one("t3_uses_f1") == (3, "a")
    assert one("t7_unknown_type_default_f7") == (7, "b")
    assert one("out_of_order_fields") == (2, "z")  # position-independent
    assert one("missing_selected_field") == (2, "")  # absent → ''
    assert one("missing_all_fields") == (0, "")
    assert one("empty_value") == (3, "")
    assert [(x["rec_type"], x["attr"]) for x in r["multiple_recs_mixed"]] == [
        (2, "x"), (3, "y"), (0, "z"),
    ]
    assert [(x["rec_type"], x["attr"]) for x in r["untyped_rec_ignored"]] == [(2, "q")]
    assert r["unterminated_rec"] == []
    assert r["newline_in_body_breaks_rec"] == []  # non-DOTALL


# ---------------------------------------------------------------------------
# property-based: random payloads can NEVER make the parser disagree with
# the oracle or throw — only accept (values) or reject (error)
# ---------------------------------------------------------------------------

# alphabet includes the marker prefixes/punctuation of EVERY grammar —
# severity/kv/trace_id/ref/depth markers can all form at random, so the
# property pins parity across the full extraction surface (every field in
# PARSED_COLS)
ascii_junk = st.text(
    alphabet=st.sampled_from(
        list("abcdefghij <>=;:,/kv&%$#@!()[]{}\n\tseverity_trcpdf0123456789")
    ),
    max_size=200,
)


@settings(max_examples=30, deadline=None)
@given(st.lists(ascii_junk, min_size=1, max_size=40))
def test_property_impl_parity_on_random_ascii(spark, payloads):
    """Parser vs oracle on every field of random marker-rich payloads."""
    rows = [(i, p.encode()) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "id long, html binary")
    out = parse_pages(df).select("id", *PARSED_COLS).collect()
    assert len(out) == len(payloads)
    for row in out:
        payload = rows[row["id"]][1]
        assert tuple(row)[1:] == oracle.parsed(payload), payload


@settings(max_examples=20, deadline=None)
@given(st.lists(st.binary(max_size=120), min_size=1, max_size=30))
def test_property_random_bytes_never_crash(spark, payloads):
    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "id long, html binary")
    out = parse_pages(df).select("id", *PARSED_COLS).collect()
    assert len(out) == len(payloads)
    for row in out:
        e = oracle.extract(rows[row["id"]][1])
        assert row["parse_error"] == e.parse_error, rows[row["id"]][1]
