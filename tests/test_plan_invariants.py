"""Plan invariants: the optimizer traps fixed in round 6, pinned as tests.

Each test builds one plan (on the sf0.001 driver tables or on generated
pages) and asserts the shape its fix produces, so a revert fails here
instead of only showing in a benchmark:

- PushDownPredicate substitutes aliases into pushed filters with no cost
  check — the parse input, the curate() scorers and the similarity
  ratios are staged behind ``parse._pushdown_barrier``;
- the exact-cosine norms are computed once per row, below the self-join;
- InferFiltersFromGenerate re-derives an exploded array inside the
  inferred ``size(...) > 0`` filter — ``parse.exploded_nonempty``;
- page generation and parse fused into one whole-stage-codegen method too
  large to JIT — ``parse._stage_split_barrier``;
- single-row-group parquet scans run as one task — ``queries._fanout``;
- Catalyst does not CSE into CASE branches — the language-ID marker
  counts are staged as one alias;
- a lazy relation consumed twice is computed twice — the curation
  pipeline's near-dup branch has one consumer;

plus the scan shapes: a zero-column count scan and a pushed shipdate
filter. Counts are occurrences in the optimized plan (Catalyst does not
CSE across operators, so every substituted copy shows up).
"""

from __future__ import annotations

import re

import pytest

from otlp_wire_spark.plans.asserts import (
    assert_pushed_filter,
    count_in_plan,
    executed_plan,
    optimized_plan,
)
from otlp_wire_spark.queries import QUERIES
from otlp_wire_spark.queries_ext import QUERIES_EXT

SF = "/root/testdata/sf0.001"
_ALL = {**QUERIES, **QUERIES_EXT}


def _query(spark, name):
    return _ALL[name](spark, SF)


def _filter_conditions(plan: str) -> list[str]:
    return [ln.split("Filter ", 1)[1] for ln in plan.splitlines() if "Filter " in ln]


# what is left of a filter condition once attribute null checks and boolean
# glue are removed — empty when the filter reads only attributes
_ATTR_ONLY_GLUE = re.compile(
    r"is(?:not)?null\(\w+#\d+L?\)"
    r"|\b(?:CASE|WHEN|THEN|ELSE|END|AND|OR|NOT|true|false)\b|[()\s]"
)


def _node_start(line: str) -> int:
    m = re.search(r"[\w*]", line)
    return m.start() if m else len(line)


def _parent(lines: list[str], i: int) -> int:
    """Index of the tree-string parent of node ``lines[i]``."""
    start = _node_start(lines[i])
    j = i - 1
    while _node_start(lines[j]) >= start:
        j -= 1
    return j


@pytest.fixture(scope="module")
def flagship(spark):
    """The routed pipeline plan: generate → parse → quarantine split →
    broadcast enrich → route (the bench.py pipeline_route shape)."""
    from otlp_wire_spark.fixtures.pages import generate_lookup, generate_pages
    from otlp_wire_spark.operators.counting import quarantine_split
    from otlp_wire_spark.operators.enrich import enrich, with_url_host
    from otlp_wire_spark.operators.parse import parse_pages
    from otlp_wire_spark.operators.route import route

    parsed = parse_pages(
        generate_pages(spark, 1000),
        fields=["severity", "severity_text", "record_count"],
    )
    clean, _ = quarantine_split(parsed)
    return route(
        enrich(with_url_host(clean), generate_lookup(spark)),
        route_key_col="url",
        num_shards=8,
    )


def test_flagship_validates_utf8_once(flagship):
    """The quarantine filter pushed below the parse must not re-derive the
    parse input: the substituted filter carried a second UTF-8
    validation of the payload."""
    assert count_in_plan(flagship, "tryValidateUTF8String") == 1


def test_flagship_filters_read_only_attributes(flagship):
    conds = _filter_conditions(optimized_plan(flagship))
    assert conds
    for cond in conds:
        assert not _ATTR_ONLY_GLUE.sub("", cond), cond


def test_parse_and_page_generation_in_separate_codegen_stages(flagship):
    """Fused, generation + parse make one generated method over HotSpot's
    8000-bytecode JIT limit; the stage split keeps the Range and the parse
    regexes in different WholeStageCodegen stages (final plan)."""
    flagship.collect()
    final = executed_plan(flagship).split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]

    def stage_ids(marker: str) -> set[str]:
        return {
            m.group(1)
            for ln in final.splitlines()
            if marker in ln
            for m in [re.search(r"\*\((\d+)\)", ln)]
            if m
        }

    gen, parse = stage_ids("Range ("), stage_ids("regexp_extract_all(_ps#")
    assert gen and parse, final
    assert gen.isdisjoint(parse), (gen, parse)


def test_curate_keep_filter_reads_staged_scores(spark):
    """curate()'s keep filter must compare the staged score attributes —
    no scorer expression and no tokenizer inside the pushed filter. The
    whole plan has the tokenizer's two lambdas (lowercasing, stop-word
    filter) once each."""
    df = _query(spark, "curate_corpus")
    for cond in _filter_conditions(optimized_plan(df)):
        for frag in ("lambdafunction", "split(", "array_intersect"):
            assert frag not in cond, cond
    assert count_in_plan(df, "lambdafunction") == 2
    assert count_in_plan(df, "size(CASE WHEN") == 0


def test_language_markers_intersect_once(spark):
    """The four marker counts are staged as one alias: the argmax CASE
    chain reads them as attributes instead of re-running an
    ``array_intersect`` per branch reference (24 inline)."""
    assert count_in_plan(_query(spark, "quality_scores"), "array_intersect(") == 4


def test_curation_pipeline_runs_near_dup_once(spark):
    """Decontamination reads ``kept``, so the near-dup survivors ``kept2``
    have one consumer and the MinHash Arrow UDF runs in one place of the
    AQE final plan that materialized ``counted`` (a second consumer of
    kept2 re-runs the whole near-dup branch)."""
    from otlp_wire_spark import queries_ext

    _query(spark, "curation_pipeline")
    counted = next(
        h for h in reversed(queries_ext._PIPE_CACHES[-1])
        if h.columns == ["doc_id", "n_tokens"]
    )
    cached = (
        spark._jsparkSession.sharedState()
        .cacheManager()
        .lookupCachedData(counted._jdf)
        .get()
        .cachedRepresentation()
        .cacheBuilder()
        .cachedPlan()
        .toString()
    )
    # the top-level final plan ends where its own initial plan starts;
    # nested cached relations print their own Final/Initial sections
    assert cached.startswith("AdaptiveSparkPlan isFinalPlan=true"), cached[:2000]
    final = cached.split("\n+- == Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final


@pytest.mark.parametrize("name", ["near_dup_pairs", "ngram_jaccard_pairs"])
def test_verify_ratio_computed_once(spark, name):
    """The Jaccard ratio feeds the threshold filter and the quantized
    output; staged, the intersect runs once per candidate pair."""
    assert count_in_plan(_query(spark, name), "array_intersect") == 1


def test_embedding_norms_staged_per_row(spark):
    """Above the self-join only the dot-product fold runs per pair; the two
    norm folds run once per row below it (not per pair, and not again in a
    substituted filter)."""
    df = _query(spark, "embedding_near_dup")
    plan = optimized_plan(df)
    per_pair = plan[: plan.index("Join ")]
    assert per_pair.count("aggregate(") == 1, per_pair
    assert count_in_plan(df, "aggregate(") == 3


@pytest.mark.parametrize(
    "name", ["decontaminate", "contamination_report", "ngram_jaccard_pairs"]
)
def test_no_inferred_filter_rederives_exploded_array(spark, name):
    """No ``size(<shingle derivation>) > 0`` filter below a Generate: the
    exploded shingle arrays are read as staged attributes."""
    assert count_in_plan(_query(spark, name), "size(CASE WHEN") == 0


def test_single_row_group_scan_fans_out(spark):
    """Every scan of the single-row-group documents file feeding the
    near-dup shingling is followed by a round-robin exchange; without it
    the whole per-row stage runs as one task."""
    lines = executed_plan(_query(spark, "near_dup_pairs")).splitlines()
    scans = [
        i for i, ln in enumerate(lines)
        if "FileScan parquet" in ln and "documents.parquet" in ln
    ]
    assert scans
    for i in scans:
        p = _parent(lines, i)
        if "ColumnarToRow" in lines[p]:
            p = _parent(lines, p)
        assert "Exchange RoundRobinPartitioning" in lines[p], lines[p]


def test_early_stop_count_scan_reads_no_columns(spark):
    """The COUNT(*) subplan over lineitem is answered from parquet
    metadata: its scan reads zero columns."""
    plan = executed_plan(_query(spark, "early_stop"))
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "lineitem" in ln
    ]
    assert scans and all("ReadSchema: struct<>" in ln for ln in scans), scans


def test_pricing_summary_pushes_shipdate_filter(spark):
    assert_pushed_filter(_query(spark, "pricing_summary"), "l_shipdate")
