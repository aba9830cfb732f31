"""Pure-Python oracle — the differential-testing second implementation.

Plays the role pdata plays in the reference's test strategy (reference
AGENTS.md:127-144, benchmark_comparison_test.go:394-417): an independent,
obviously-correct implementation of generation + extraction + band
classification + FNV sharding, compared row-for-row and aggregate-for-
aggregate against the Spark pipeline. ~O(100) lines, no Spark imports.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from otlp_wire_spark.functions.fnv import fnv64a
from otlp_wire_spark.fixtures.pages import (
    LANG_DISTINCT,
    LANG_POOL,
    NUM_HOSTS,
    WORDS,
)

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
MALFORMED = b"\xff\xfe<broken"

_SEV_RE = re.compile(r"severity=(\d{1,9});")
_SEVTEXT_RE = re.compile(r"severity_text=([^;]*);")
_KV_RE = re.compile(r"kv:([^=;]*)=([^;]*);")
_REC_RE = re.compile(r"<rec>.*?</rec>")
_TEXT_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_TRACE_RE = re.compile(r"trace_id=([^;]*);")
_TRACE_OK_RE = re.compile(r"[0-9a-f]{32}\Z")
_REF_RE = re.compile(r"ref:([^;]*);")
_DEPTH_RE = re.compile(r"depth:([^;]*);")

# typed records (I8): the attr field number depends on the record type tag
ATTR_FIELD_BY_TYPE = {2: 9, 3: 1}  # default 7 — mirrors metrics.go:17-53
_TREC_FULL_RE = re.compile(r"<rec t=\d>.*?</rec>")
_TREC_T_RE = re.compile(r"<rec t=(\d)>")
_TREC_F_RES = {
    1: re.compile(r"f1=([^;]*);"),
    7: re.compile(r"f7=([^;]*);"),
    9: re.compile(r"f9=([^;]*);"),
}


# ---------------------------------------------------------------- generation

def host_idx(i: int) -> int:
    m = i % 10
    if m < 4:
        return 0
    if m < 6:
        return 1
    return (i % (NUM_HOSTS - 2)) + 2


def host(i: int) -> str:
    return f"host{host_idx(i)}.example.com"


def url(i: int) -> str:
    return f"https://{host(i)}/p{i}"


def lang(i: int) -> str:
    return LANG_POOL[i % 10]


def warc_ts(i: int) -> datetime:
    return BASE_TS + timedelta(seconds=i)


def text(i: int) -> str | None:
    if i % 199 == 0:
        return None
    if i % 211 == 0:
        return ""
    return " ".join(WORDS[(i + k) % 16] for k in range((i % 12) + 1))


def html(i: int) -> bytes:
    if i % 101 == 0:
        return MALFORMED
    parts = ["<html><body>"]
    if i % 11 != 0:
        parts.append(f"severity={(i * 7) % 25};")
        if i % 5 == 0:
            parts.append(f"severity={(i * 13) % 25};")
    if i % 13 == 0:
        pass  # severity_text absent
    elif i % 17 == 0:
        parts.append("severity_text=;")
    else:
        parts.append(f"severity_text=T{(i * 3) % 25};")
    parts.append(f"kv:k1=v{i % 7};")
    if i % 3 == 0:
        parts.append("kv:k1=dup;")
    parts.append(f"kv:k2=w{i % 5};")
    tval = format(i * 9973 + 7, "x")
    if i % 7 == 3:
        pass  # trace_id absent
    elif i % 23 == 0:
        parts.append("trace_id=;")  # empty → absent
    elif i % 31 == 0:
        parts.append(f"trace_id={tval.zfill(31)};")  # wrong length
    elif i % 37 == 0:
        parts.append(f"trace_id=zz{tval.zfill(30)};")  # non-hex
    else:
        parts.append(f"trace_id={tval.zfill(32)};")  # valid
    if i % 19 == 0:
        pass  # ref absent
    elif i % 41 == 0:
        parts.append(f"ref:cat{i % 13},id{i % 29},s{i % 3};")  # 3 fields
    elif i % 43 == 0:
        parts.append(f"ref:,id{i % 29},s{i % 3},d{i % 5};")  # empty type
    else:
        parts.append(f"ref:cat{i % 13},id{i % 29},s{i % 3},d{i % 5};")
    if i % 61 == 0:
        pass  # depth marker absent
    elif i % 53 == 0:
        parts.append("depth:" + "(" * 70 + "x" + ")" * 70 + ";")  # exceeded
    elif i % 59 == 0:
        parts.append("depth:((x);")  # unbalanced
    else:
        d = i % 5 + 1
        parts.append("depth:" + "(" * d + "x" + ")" * d + ";")
    for j in range((i % 10) + 1):
        parts.append(f"<rec>r{j}</rec>")
    t = text(i)
    if t is not None:
        parts.append(f"<p>{t}</p>")
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


# ---------------------------------------------------------------- extraction

@dataclass
class Extracted:
    severity: int  # 0 when absent (reference logs.go:116)
    severity_text: str | None  # None=absent, ''=present-empty
    attrs: list[tuple[str, str]]  # wire order, duplicates preserved
    record_count: int
    extracted_text: str | None
    parse_error: str | None
    trace_id: str | None = None  # 32-hex valid id; None=absent/invalid
    trace_error: str | None = None  # 'invalid_trace_id' on wrong shape
    ref_type: str | None = None  # EntityRef-analog: valid 4-field ref only
    ref_id: str | None = None
    ref_error: str | None = None  # 'invalid_ref' on structural failure
    nest_depth: int | None = None  # paren nesting depth, ≤64 (P15 guard)
    nest_error: str | None = None  # 'unbalanced' | 'depth_exceeded'


def extract(html_bytes: bytes | None) -> Extracted:
    """Single-walk extraction — same contract as parse.parse_pages."""
    if html_bytes is None:
        return Extracted(0, None, [], 0, None, "null_payload")
    try:
        s = html_bytes.decode("utf-8")
    except UnicodeDecodeError:
        return Extracted(0, None, [], 0, None, "utf8_decode_error")
    sevs = _SEV_RE.findall(s)
    severity = int(sevs[-1]) if sevs else 0  # last-value-wins
    texts = _SEVTEXT_RE.findall(s)
    severity_text = texts[-1] if texts else None  # last-wins; None=absent
    attrs = _KV_RE.findall(s)
    record_count = len(_REC_RE.findall(s))
    m = _TEXT_RE.search(s)  # first match (extractBytesField semantics)
    extracted_text = m.group(1) if m else None
    # fixed-width validated ID (traces.go:90-124): last-wins, ''→absent,
    # wrong shape→field error
    traces = _TRACE_RE.findall(s)
    traw = traces[-1] if traces else None
    trace_id = traw if traw is not None and _TRACE_OK_RE.match(traw) else None
    trace_error = (
        "invalid_trace_id"
        if traw is not None and traw != "" and not _TRACE_OK_RE.match(traw)
        else None
    )
    # EntityRef structural validation (attributes.go:410-438): first match,
    # exactly 4 comma-fields, non-empty type+id
    rm = _REF_RE.search(s)
    ref_type = ref_id = ref_error = None
    if rm is not None:
        parts = rm.group(1).split(",")
        if len(parts) == 4 and parts[0] and parts[1]:
            ref_type, ref_id = parts[0], parts[1]
        else:
            ref_error = "invalid_ref"
    # depth guard (P15, attributes.go:95-97): bound 64, first match.
    # Independent re-implementation (not shared with parse.py) — the oracle
    # stays a genuine second opinion.
    dm = _DEPTH_RE.search(s)
    nest_depth = nest_error = None
    if dm is not None:
        cur = mx = 0
        bad = False
        for ch in dm.group(1):
            if ch == "(":
                cur += 1
                mx = max(mx, cur)
            elif ch == ")":
                cur -= 1
                bad = bad or cur < 0
        if bad or cur != 0:
            nest_error = "unbalanced"
        elif mx > 64:
            nest_error = "depth_exceeded"
        else:
            nest_depth = mx
    return Extracted(
        severity, severity_text, attrs, record_count, extracted_text, None,
        trace_id, trace_error, ref_type, ref_id, ref_error,
        nest_depth, nest_error,
    )


# parse_pages' struct fields, in struct order
PARSED_FIELDS = (
    "severity", "severity_text", "attrs", "record_count", "extracted_text",
    "trace_id", "trace_error", "ref_type", "ref_id", "ref_error",
    "nest_depth", "nest_error", "parse_error",
)


def parsed(html_bytes: bytes | None) -> tuple:
    """extract() as the row of parse_pages' struct (PARSED_FIELDS order,
    attrs as (key, value) tuples): every field but parse_error is NULL on
    a quarantined payload."""
    e = extract(html_bytes)
    if e.parse_error is not None:
        return (None,) * (len(PARSED_FIELDS) - 1) + (e.parse_error,)
    return tuple(getattr(e, f) for f in PARSED_FIELDS)


def typed_recs(s: str) -> list[dict]:
    """Uniform (rec_type, attr) view of a decoded page — same contract as
    parse.parse_typed_records for one valid-utf8 payload."""
    out = []
    for rec in _TREC_FULL_RE.findall(s):
        t = int(_TREC_T_RE.match(rec).group(1))
        m = _TREC_F_RES[ATTR_FIELD_BY_TYPE.get(t, 7)].search(rec)
        # missing selected field → '' (mirror of regexp_extract's no-match)
        out.append({"rec_type": t, "attr": m.group(1) if m else ""})
    return out


def attr_lookup(attrs: list[tuple[str, str]], key: str) -> str | None:
    """FIRST matching key wins (reference attributes.go:336-404,
    `!state.matched` guard at :365). None = absent, '' = present-empty."""
    for k, v in attrs:
        if k == key:
            return v
    return None


def severity_band(severity: int) -> int:
    """Six-band classification (benchmark_comparison_test.go:419-434)."""
    if severity < 1:
        return 0
    if severity <= 4:
        return 1
    if severity <= 8:
        return 2
    if severity <= 12:
        return 3
    if severity <= 16:
        return 4
    return 5


def shard(i: int, num_shards: int) -> int:
    """FNV-64a(url bytes) % N — reference example_test.go:46-48 semantics."""
    return fnv64a(url(i).encode("utf-8")) % num_shards


# ---------------------------------------------------------------- enrichment

def lookup_context(lang_s: str, host_s: str) -> tuple[str, str] | None:
    """Mirror of fixtures.pages.generate_lookup → (site_category, context)."""
    if lang_s not in LANG_DISTINCT:
        return None
    li = LANG_DISTINCT.index(lang_s)
    hi = int(host_s.split(".")[0][4:])
    if (hi + li) % 7 == 0:
        return None
    ctx = "" if (hi + li) % 5 == 0 else f"ctx-{lang_s}-{hi}"
    return (f"cat{(hi * 31 + li) % 13}", ctx)


# ------------------------------------------------------- expected aggregates

def expected_pipeline(n: int, num_shards: int) -> dict:
    """Golden end-to-end answer for generate_pages(n) (A5/A6/A7 analogs)."""
    band_counts = [0] * 6
    per_shard: dict[int, dict[str, int]] = {
        k: {"record_count": 0, "page_count": 0, "byte_count": 0}
        for k in range(num_shards)
    }
    ctx_count = 0
    ctx_bytes = 0
    quarantined = 0
    for i in range(n):
        e = extract(html(i))
        if e.parse_error is not None:
            quarantined += 1
            continue
        band_counts[severity_band(e.severity)] += 1
        k = shard(i, num_shards)
        per_shard[k]["page_count"] += 1
        per_shard[k]["record_count"] += e.record_count
        per_shard[k]["byte_count"] += len(html(i))
        lc = lookup_context(lang(i), host(i))
        if lc is not None:
            ctx_count += 1
            ctx_bytes += len(lc[1])
    return {
        "band_counts": band_counts,
        "per_shard": per_shard,
        "context_count": ctx_count,
        "context_bytes": ctx_bytes,
        "quarantined": quarantined,
        "total_pages": n,
    }
