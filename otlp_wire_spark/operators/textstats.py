"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure JVM expressions with DuckDB-SQL oracles.

These are the training-data-pipeline companions to the parse stage: cheap,
codegen'd per-row scores a 100 TB curation run computes on every document
(no shuffle at all — embarrassingly parallel scans).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from otlp_wire_spark.functions.fnv import fnv64a_expr
from otlp_wire_spark.operators.dedup import WS_CLASS, WS_EDGE

# Fixed stopword sets for the n-gram/stopword language heuristic — tiny on
# purpose (they're literals in both engines). Order = tiebreak priority.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

# ASCII-only case folding for membership tests against the ASCII word
# lists above. NEVER lower()/F.lower() in a cross-engine expression:
# unicode lowercasing is engine-defined — Spark (JDK rules) lowers final
# sigma contextually (ΑΣ→ας) where DuckDB (utf8proc) does not (→ασ), and
# DuckDB folds İ (U+0130) to plain ASCII 'i' where Spark emits i+U+0307 —
# so "İN" would count as the stopword "in" in exactly one engine.
# translate() is per-codepoint and identical in Java, DuckDB and Python.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column) -> Column:
    return F.translate(col, ASCII_UPPER, ASCII_LOWER)


# BPE-ish token regex: lowercase runs, uppercase-led runs, digit runs,
# single punctuation — a deterministic approximation of byte-pair chunking.
# The whitespace exclusion interpolates dedup.WS_CLASS, never \s: this
# string runs under BOTH Java regex (Spark) and RE2 (the DuckDB mirror in
# queries_ext), whose \s definitions differ on \x0B.
TOKEN_REGEX = rf"[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9{WS_CLASS[1:-1]}]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count; NULL/whitespace-only → 0. Delegates to the
    ONE tokenizer (dedup.tokens_col — regexp-strips boundary whitespace so
    newline-terminated text doesn't count a phantom '' token)."""
    return F.size(tokens_norm_col(text)).cast("int")


def regex_token_count(text: Column) -> Column:
    """BPE-ish regex token count; NULL → 0 — via an explicit NULL guard,
    not coalesce(size(...)): size(NULL) is -1 under legacy sizeOfNull
    (session-config-dependent), and -1 is non-NULL so the coalesce never
    fires and the count silently goes negative for NULL text."""
    return F.when(text.isNull(), F.lit(0)).otherwise(
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))
    ).cast("int")


def lang_id_col(text: Column) -> Column:
    """Argmax of marker-word overlap; ties → earlier key in LANG_MARKERS,
    all-zero → 'unknown'. Thin wrapper over ``lang_marker_counts`` and
    ``lang_from_marker_counts`` — ONE argmax chain, nothing to drift
    (folding before tokenizing equals folding each token: case never
    touches whitespace). Single-column convenience form: every count
    reference re-derives the tokens; hot paths stage them (see
    ``lang_marker_counts``)."""
    return lang_from_marker_counts(
        lang_marker_counts(tokens_norm_col(ascii_lower(text)))
    )


def tokens_norm_col(text: Column) -> Column:
    """Whitespace tokens; NULL/blank → empty array. Materialize this ONCE
    per row (projection alias) and feed the *_from_tokens scorers below —
    the single-column convenience forms re-run the regex split per
    reference (~10× per row in a full scoring pass).

    Single definition shared with the dedup pipeline — one tokenizer, one
    SQL mirror (_SQL_TOKS), nothing to drift."""
    from otlp_wire_spark.operators.dedup import tokens_col

    return tokens_col(text)


def lang_marker_counts(toks_lower: Column) -> Column:
    """Per-language marker-word overlap counts over a MATERIALIZED
    lowercased-token column, as one array in LANG_MARKERS key order. Stage
    it as a projection alias and feed ``lang_from_marker_counts``: the
    argmax reads each count up to six times, and Catalyst does not CSE
    into CASE branches, so inline counts re-run their ``array_intersect``
    per reference (24 per row instead of 4)."""
    return F.array(
        *[
            F.size(F.array_intersect(toks_lower, F.array(*[F.lit(w) for w in v])))
            for v in LANG_MARKERS.values()
        ]
    )


def lang_from_marker_counts(counts: Column) -> Column:
    """Argmax over a staged ``lang_marker_counts`` column: ties → earlier
    key in LANG_MARKERS, all-zero → 'unknown'."""
    keys = list(LANG_MARKERS)
    scores = [counts[i] for i in range(len(keys))]
    mx = F.greatest(*scores)
    out = F.when(mx == 0, F.lit("unknown"))
    for k, s in zip(keys, scores):
        out = out.when(s == mx, F.lit(k))
    return out.otherwise(F.lit("unknown"))


def quality_from_tokens(
    text: Column, toks: Column, toks_lower: Column
) -> Column:
    """quality_score over materialized token columns — same formula, same
    doubles (IEEE arithmetic order unchanged)."""
    n = F.size(toks)
    hits = F.size(F.filter(toks_lower, lambda t: t.isin(*STOPWORDS_EN)))
    ratio = F.when(n == 0, F.lit(0.0)).otherwise(hits / n).cast("double")
    # regexp strip, not trim(): a trailing newline must not inflate the
    # numerator (trim is space-only in both engines; oracle mirrors this)
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(text, WS_EDGE, "")) / n
    )
    score = (
        F.lit(0.5) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - ratio)
        + F.lit(0.2) * F.least(avg_len / F.lit(10.0), F.lit(1.0))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(score).cast("double")


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are EN stopwords; 0 for empty.
    Unrounded: rounding of ratio-of-small-ints values (e.g. 3/32) is
    engine-dependent at the half boundary — quantize only at the edge with
    ``quantize4``."""
    toks_lower = tokens_norm_col(ascii_lower(text))
    n = F.size(tokens_norm_col(text))
    hits = F.size(F.filter(toks_lower, lambda t: t.isin(*STOPWORDS_EN)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n).cast("double")


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1] (unrounded double):
    0.5·min(tokens/100,1) + 0.3·(1−stopword_ratio) + 0.2·min(avg_len/10,1).
    Thin wrapper over ``quality_from_tokens`` — the formula exists ONCE;
    this convenience form re-tokenizes per reference (see tokens_norm_col
    for the materialize-once discipline on hot paths)."""
    return quality_from_tokens(
        text, tokens_norm_col(text), tokens_norm_col(ascii_lower(text))
    )


def quantize4(col: Column) -> Column:
    """floor(x·10⁴) as LongType — cross-engine-deterministic quantization.

    Spark's round() HALF_UPs the shortest decimal repr while DuckDB rounds
    the binary double, so exact-decimal ratios (0.78775) disagree at the
    half boundary; floor of identical double arithmetic cannot."""
    return F.floor(col * F.lit(10000.0)).cast("long")


def rolling_fingerprint_col(text: Column, k: int = 8) -> Column:
    """Rolling-window content fingerprint (winnowing-style): FNV-64a over
    every k-char window, fingerprint = MIN hash (signed int64 compare,
    mirrored exactly by the SQL oracle). Robust to content reordering at
    window granularity, unlike the whole-text hash. NULL/short text → the
    whole-text hash (degenerate window)."""
    from otlp_wire_spark.functions.fnv import fnv64a_expr as _fnv

    t = F.coalesce(text, F.lit(""))
    n_windows = F.length(t) - (k - 1)
    windows_min = F.array_min(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: _fnv(F.substring(t, i, F.lit(k))),
        )
    )
    return F.when(n_windows < 1, _fnv(t)).otherwise(windows_min)


def rolling_fingerprint_arrow_col(text: Column, k: int = 8) -> Column:
    """Vectorized rolling fingerprint — the scale path: per Arrow batch,
    ALL k-char windows of all rows are hashed in one numpy FNV call and
    segment-min'd per row (signed int64 min, same as array_min). The JVM
    expression path folds one interpreted FNV per window (O(len) folds per
    row — the dominant per-row cost on long documents); this kernel is the
    same math at matrix speed, parity-pinned by tests/test_ops.py."""
    import numpy as np
    from pyspark.sql.types import LongType

    from otlp_wire_spark.functions.fnv import fnv64a_numpy

    @F.pandas_udf(LongType())
    def _rfp(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            window_lists = []
            for t in s:
                t = t if isinstance(t, str) else ""
                if len(t) < k:
                    window_lists.append([t.encode("utf-8")])  # degenerate
                else:
                    window_lists.append(
                        [t[i : i + k].encode("utf-8") for i in range(len(t) - k + 1)]
                    )
            counts = np.fromiter(
                (len(x) for x in window_lists), dtype=np.int64, count=len(s)
            )
            flat = [w for row in window_lists for w in row]
            h = fnv64a_numpy(flat).view(np.int64)
            offsets = np.zeros(len(s), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            mins = np.minimum.reduceat(h, offsets)
            yield pd.Series(mins, index=s.index)

    return _rfp(text)


def vocab_counts(df, text_col: str = "text"):
    """Corpus-wide token frequencies — vocabulary building. explode →
    groupBy(token): hash aggregation does map-side partial combine, so hot
    tokens ('the') arrive at reducers as ONE partial row per map task, not
    10^9 raw rows — the skew-safe shape by construction (no salting
    needed for counts)."""
    toks = tokens_norm_col(F.col(text_col))
    # explode over the EXPRESSION deliberately: InferFiltersFromGenerate
    # only infers its size()>0 pre-filter for attribute inputs (the
    # substitution trap exploded_nonempty exists for), so this evaluates
    # the tokenization exactly once per row inside the Generate — staged
    # or outer-explode variants measured slower here (r6 A/B).
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fingerprint_col(text: Column) -> Column:
    """64-bit content fingerprint: FNV-64a of the raw text (bit pattern as
    LongType). NULL text hashes as empty (reference absent→basis analog)."""
    return fnv64a_expr(F.coalesce(text, F.lit("")))


def repetition_stats(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Gopher-style repetition signals per document — the standard
    "repetitious boilerplate" filters a web-scale curation run applies
    alongside quality/lang scores (Rae et al. 2021, §A1.1 heuristics;
    public-domain thresholds, re-derived here):

    - ``n_lines``: newline-split line count (empty/NULL text → 0). One
      trailing empty element is dropped — conventional newline-TERMINATED
      text ("a\\nb\\n") has 2 lines (the ``wc -l`` convention), not a
      phantom third; without this, documents that merely end in blank
      lines register duplicate-''-line repetition and boilerplate filters
      fire on formatting instead of content. Interior blank lines still
      count (they are real lines).
    - ``dup_line_q4``: fraction of lines that are duplicates of an earlier
      line, floor-quantized ×10⁴ (cross-engine float discipline)
    - ``top_2gram_q4``: occurrences of the MOST frequent token 2-gram over
      all 2-gram occurrences, floor-quantized ×10⁴

    Shape at scale: the line stats are a narrow codegen'd projection (zero
    shuffle); the 2-gram mode needs per-(doc, gram) counts — explode →
    two hash aggregations keyed by doc_id (map-side partials; the doc_id
    key is high-cardinality and unskewed) → broadcast-safe join back.
    Never a driver collect; never a global gram table.
    """
    t = F.col(text_col)
    raw = F.split(t, "\n", -1)
    # drop exactly ONE trailing '' (newline-terminated convention); raw is
    # never empty inside the otherwise() branch, so element_at is safe
    dropped = F.when(
        F.element_at(raw, F.size(raw)) == "", F.slice(raw, 1, F.size(raw) - 1)
    ).otherwise(raw)
    lines = F.when(
        t.isNull() | (F.length(t) == 0), F.array().cast("array<string>")
    ).otherwise(dropped)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        lines.alias("_lines"),
        tokens_norm_col(t).alias("_toks"),
    )
    line_stats = base.select(
        "doc_id",
        F.size("_lines").cast("int").alias("n_lines"),
        (F.size("_lines") - F.size(F.array_distinct("_lines")))
        .cast("long")
        .alias("_dups"),
    )
    # explode over the EXPRESSION deliberately — see vocab_counts: the
    # inference rule skips non-attribute generator inputs, so the 2-gram
    # array is built exactly once per row inside the Generate
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") < 2, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - 2),
                    lambda i: F.array_join(F.slice("_toks", i + 1, 2), " "),
                )
            )
        ).alias("_g"),
    )
    gram_stats = (
        grams.groupBy("doc_id", "_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("doc_id")
        .agg(F.max("_n").alias("_mx"), F.sum("_n").alias("_tot"))
    )
    joined = line_stats.join(gram_stats, "doc_id", "left")
    dup_frac = F.when(
        F.col("n_lines") == 0, F.lit(0.0)
    ).otherwise(F.col("_dups") / F.col("n_lines"))
    top_frac = F.when(
        F.coalesce(F.col("_tot"), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(F.col("_mx") / F.col("_tot"))
    return joined.select(
        "doc_id",
        "n_lines",
        quantize4(dup_frac).alias("dup_line_q4"),
        quantize4(top_frac).alias("top_2gram_q4"),
    )
