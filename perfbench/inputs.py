"""Seeded benchmark inputs: a window of synthetic pages and a curation corpus.

Both are pure functions of ``seed``; the program under test receives only
the generated data.

Pages come from the repository's own fixture (``generate_pages``), shifted to
a seed-chosen id window. The fixture's content is periodic in the page id, so
the seed moves URLs (hence FNV shards) without changing the mix of severity
bands, quarantined rows or record counts.

The corpus is built here, with fixed shares of each document class, so the
curation stages each have something to remove: see ``CORPUS_SHARES``.
"""

from __future__ import annotations

import random

# Share of the corpus in each planted class. "base" documents are clean
# English prose; every other class is aimed at one curation stage.
CORPUS_SHARES = {
    "exact_dup": 0.10,  # byte copy of an earlier base doc -> exact dedup
    "near_dup": 0.10,  # earlier base doc with one word changed -> LSH + verify
    "weak_dup": 0.05,  # 40 % of an earlier base doc rewritten: some LSH
    #                    candidates, all rejected by the Jaccard verify
    "non_en": 0.10,  # German/French marker words -> language filter
    "low_quality": 0.10,  # 2-token or stopword-only fragments -> quality filter
    "contaminated": 0.03,  # quotes a benchmark-slice doc -> decontamination
}
PII_SHARE = 0.10  # of base docs, carry an email / phone / IPv4 -> redaction

_EN = ["the", "a", "of", "and", "to", "in", "is"]
_DE = ["der", "die", "das", "und", "ist", "nicht", "ein"]
_FR = ["le", "les", "et", "est", "une"]
_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def page_window(seed: int, n_pages: int) -> int:
    """First page id of the seed's window (windows of different seeds
    overlap only partially; ids stay far below any overflow)."""
    return random.Random(seed).randrange(0, 50) * 7919 + n_pages


class _ShiftedRange:
    """Session proxy whose ``range(a, b, ...)`` yields ids ``a+base..b+base``.

    ``generate_pages`` derives every column from ``spark.range`` ids, so
    passing this proxy generates exactly the pages of the id window
    ``[base, base + n)`` without computing the ids below it. Everything else
    is the real session."""

    def __init__(self, spark, base: int):
        self._spark = spark
        self._base = base

    def range(self, start, end=None, step=1, numPartitions=None):
        if end is None:
            start, end = 0, start
        return self._spark.range(
            start + self._base, end + self._base, step, numPartitions
        )

    def __getattr__(self, name):
        return getattr(self._spark, name)


def write_pages(spark, path: str, base: int, n_pages: int, partitions: int) -> None:
    """Write pages ``[base, base + n_pages)`` to a parquet source."""
    from otlp_wire_spark.fixtures.pages import generate_pages

    generate_pages(_ShiftedRange(spark, base), n_pages, partitions).write.mode(
        "overwrite"
    ).parquet(path)


# ------------------------------------------------------------------ corpus

def _vocabulary(size: int = 6000) -> list[str]:
    """Pseudo-words of 2-4 consonant-vowel syllables. None can equal a
    language-marker or stop word (all of those start with a vowel, have a
    consonant cluster, or are shorter than 4 letters), so language id and
    quality depend only on the planted markers. Fixed across seeds."""
    rng = random.Random(1234567)
    words: set[str] = set()
    while len(words) < size:
        words.add(
            "".join(
                rng.choice(_CONS) + rng.choice(_VOWELS)
                for _ in range(rng.randint(2, 4))
            )
        )
    return sorted(words)


def _prose(rng: random.Random, vocab: list[str], markers: list[str], n: int) -> list[str]:
    """``n`` tokens: runs of 1-3 content words, each run followed by one
    marker word. Markers are never adjacent, so every word 3-gram holds a
    content word and unrelated documents almost never share a 3-gram."""
    toks: list[str] = []
    while len(toks) < n:
        toks.extend(rng.choice(vocab) for _ in range(rng.randint(1, 3)))
        toks.append(rng.choice(markers))
    return toks[:n]


def _pii(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"user{rng.randrange(10**6)}@mail{rng.randrange(100)}.example.org"
    if kind == 1:
        return f"+1 ({rng.randrange(200, 999)}) {rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}"
    return ".".join(str(rng.randrange(1, 255)) for _ in range(4))


def make_corpus(seed: int, n_docs: int) -> tuple[list[int], list[str], dict[str, int]]:
    """(doc_ids, texts, class counts) for a corpus of ``n_docs`` documents.

    Classes are drawn per document with ``CORPUS_SHARES``; copies and quotes
    always point at an EARLIER base document, so the min-id representative
    that exact and near-dup removal keep is the original."""
    rng = random.Random(seed)
    vocab = _vocabulary()
    classes = list(CORPUS_SHARES)
    weights = list(CORPUS_SHARES.values())
    base_w = 1.0 - sum(weights)
    texts: list[str] = []
    base_ids: list[int] = []  # ids of clean English docs, in id order
    bench_base_ids: list[int] = []  # ... that fall in the doc_id % 101 == 0 slice
    counts = {c: 0 for c in ["base", *classes]}
    for i in range(n_docs):
        kind = rng.choices(["base", *classes], [base_w, *weights])[0]
        if kind != "base" and not base_ids:
            kind = "base"
        if kind == "contaminated" and not bench_base_ids:
            kind = "base"
        if kind == "base":
            toks = _prose(rng, vocab, _EN, rng.randint(20, 90))
            if rng.random() < PII_SHARE:
                toks.insert(rng.randrange(len(toks)), _pii(rng))
            text = " ".join(toks)
            base_ids.append(i)
            if i % 101 == 0:
                bench_base_ids.append(i)
        elif kind == "exact_dup":
            text = texts[rng.choice(base_ids)]
        elif kind == "near_dup":
            toks = texts[rng.choice(base_ids)].split(" ")
            j = rng.randrange(len(toks) // 2, len(toks))
            toks[j] = rng.choice(vocab) + "x"  # new word, same length class
            text = " ".join(toks)
        elif kind == "weak_dup":
            toks = texts[rng.choice(base_ids)].split(" ")
            b = max(1, len(toks) * 2 // 5)
            j = rng.randrange(0, len(toks) - b + 1)
            toks[j:j + b] = _prose(rng, vocab, _EN, b)
            text = " ".join(toks)
        elif kind == "non_en":
            markers = _DE if rng.random() < 0.5 else _FR
            text = " ".join(_prose(rng, vocab, markers, rng.randint(20, 80)))
        elif kind == "low_quality":
            if rng.random() < 0.5:
                text = " ".join(rng.choice(vocab) for _ in range(2))
            else:
                text = " ".join(rng.choice(_EN) for _ in range(rng.randint(3, 8)))
        else:  # contaminated: quote 6 tokens of a benchmark-slice doc
            src = texts[rng.choice(bench_base_ids)].split(" ")
            k = rng.randrange(0, max(1, len(src) - 6))
            toks = _prose(rng, vocab, _EN, rng.randint(20, 80))
            at = rng.randrange(len(toks))
            text = " ".join(toks[:at] + src[k:k + 6] + toks[at:])
        counts[kind] += 1
        texts.append(text)
    return list(range(n_docs)), texts, counts


def write_corpus(path: str, seed: int, n_docs: int, files: int = 8) -> dict[str, int]:
    """Write the seeded corpus as ``<path>/documents.parquet`` (the table
    layout the curation query reads), split by id range into ``files``
    parquet files so the scan is parallel, and return its class counts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts, counts = make_corpus(seed, n_docs)
    out = os.path.join(path, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    step = -(-n_docs // files)
    for j in range(files):
        pq.write_table(
            table.slice(j * step, step), os.path.join(out, f"part-{j:03d}.parquet")
        )
    return counts
