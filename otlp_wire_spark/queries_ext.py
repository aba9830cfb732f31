"""Batch-2 driver-contract queries: dedup / similarity / text analysis /
multimodal — the training-data-pipeline operator suite, each with a DuckDB
oracle where SQL-expressible (multimodal is rows-only: the decode stub is
Python-side by design).

Shared constants (MinHash permutations, marker word lists, token regex) are
single-sourced from the operator modules and injected into the SQL strings,
so the two implementations cannot drift silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_wire_spark.operators import dedup, similarity, textstats
from otlp_wire_spark.operators.multimodal import extract_media_features, generate_media
from otlp_wire_spark.queries import FNV_SQL, _fanout, _sorted_fanout, _t

P = dedup.MERSENNE_P
PERMS = dedup.minhash_perms(16)

# DuckDB mirrors of the token/shingle pipeline ------------------------------

# RE2-side whitespace = the SAME explicit class the Spark tokenizer uses
# (dedup.WS_CLASS — see its comment: \s is engine-defined, and RE2 omits
# \x0B where Java regex includes it). Interpolated into every SQL mirror
# below; never write \s in these strings.
_WS = dedup.WS_CLASS
_SQL_STRIPPED = f"regexp_replace(text, '^{_WS}+|{_WS}+$', '', 'g')"

_SQL_TOKS = (
    # boundary whitespace is stripped with a REGEXP (trim() is space-only
    # in both engines): without it "hello\n" tokenizes to 2 tokens — the
    # same bug the Spark side (dedup.tokens_col) fixes, mirrored here so
    # the engines keep agreeing on the CORRECT semantics
    f"CASE WHEN text IS NULL "
    f"OR length({_SQL_STRIPPED}) = 0 "
    f"THEN []::VARCHAR[] "
    f"ELSE string_split_regex({_SQL_STRIPPED}, '{_WS}+') END"
)
_SQL_FNV_TOKEN = FNV_SQL.format(col="t")


def _sql_shingle_hashes() -> str:
    """list of pmod(FNV(shingle), 2^31-1) for distinct 3-gram shingles."""
    return f"""
      list_transform(
        list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
          ELSE list_transform(range(1, len(toks)-1),
                              i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) END),
        s -> ({FNV_SQL.format(col="s")} % {P})::BIGINT)
    """


# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------

def q_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the SURVIVING rows of exact_dedup_rows — pins that the
    keep-rows variant returns exactly the min-id representative row (with
    all its columns intact) per byte-identical text."""
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.exact_dedup_rows(docs, "text", "doc_id")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


SQL_DEDUP_ROWS = """
SELECT count(*) AS n_kept, sum(doc_id)::BIGINT AS id_sum,
       sum(n_chars)::BIGINT AS chars_sum
FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sorted fan-out replaces the trailing orderBy (tokenizers run once,
    # in parallel — not re-run by the sort's range sampler)
    docs = _sorted_fanout(_t(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        textstats.ws_token_count(t).alias("n_ws"),
        textstats.regex_token_count(t).alias("n_re"),
    )


SQL_TOKEN_STATS = rf"""
SELECT doc_id,
  CASE WHEN text IS NULL OR length({_SQL_STRIPPED}) = 0 THEN 0
       ELSE len(string_split_regex({_SQL_STRIPPED}, '{_WS}+')) END::INT AS n_ws,
  coalesce(len(regexp_extract_all(text, '{textstats.TOKEN_REGEX}')), 0)::INT AS n_re
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# corpus length-distribution stats: exact interpolated percentiles of the
# token-count distribution (Spark `percentile` == DuckDB `quantile_cont`,
# both (n-1)·q linear interpolation over the sorted values)
# --------------------------------------------------------------------------

def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interpolated percentiles of integer counts are ratio-of-small-ints
    # values → floor-quantized like every other non-irrational float output
    # (a last-ulp Spark-vs-DuckDB interpolation difference must not flip
    # the hash gate)
    # token count staged as a projection alias: five aggregate expressions
    # reference it, and Catalyst re-evaluates a non-attribute expression
    # per reference (5 tokenizations/row otherwise — the CLAUDE.md
    # materialize-once discipline); fan-out parallelizes the one scan
    docs = _fanout(_t(spark, sf_dir, "documents"))
    staged = docs.select(textstats.ws_token_count(F.col("text")).alias("_n"))
    n = F.col("_n")
    return staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).cast("long").alias("total_tokens"),
        textstats.quantize4(F.percentile(n, F.lit(0.5))).alias("p50_tokens_q4"),
        textstats.quantize4(F.percentile(n, F.lit(0.9))).alias("p90_tokens_q4"),
        F.max(n).cast("int").alias("max_tokens"),
    )


SQL_CORPUS_STATS = rf"""
WITH c AS (
  SELECT CASE WHEN text IS NULL OR length({_SQL_STRIPPED}) = 0 THEN 0
              ELSE len(string_split_regex({_SQL_STRIPPED}, '{_WS}+')) END AS n
  FROM documents
)
SELECT count(*) AS n_docs, sum(n)::BIGINT AS total_tokens,
       floor(quantile_cont(n, 0.5) * 10000.0)::BIGINT AS p50_tokens_q4,
       floor(quantile_cont(n, 0.9) * 10000.0)::BIGINT AS p90_tokens_q4,
       max(n)::INT AS max_tokens
FROM c
"""


# --------------------------------------------------------------------------
# vocabulary building: corpus-wide token top-k (deterministic tiebreak)
# --------------------------------------------------------------------------

def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return (
        textstats.vocab_counts(docs, "text")
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


SQL_VOCAB_TOPK = f"""
SELECT t.t AS token, count(*) AS n
FROM (SELECT {_SQL_TOKS} AS toks FROM documents), unnest(toks) AS t(t)
GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 50
"""


# --------------------------------------------------------------------------
# quality scoring
# --------------------------------------------------------------------------

def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring MERGED with language-ID (marker-word overlap argmax)
    — the same single scoring scan computes both (registry consolidated to
    fit the driver's 50-query grading window); tokenization runs once per
    row via the staged-token discipline in score_documents."""
    from otlp_wire_spark.operators.curate import score_documents

    # sorted fan-out replaces the trailing orderBy: the scoring projection
    # runs once (not re-run by the sort's range sampler) and in parallel
    docs = _sorted_fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return score_documents(docs).select(
        "doc_id",
        "pred_lang",
        textstats.quantize4(F.col("quality")).alias("quality_q4"),
    )


_STOPS = ", ".join(f"'{w}'" for w in textstats.STOPWORDS_EN)


# ASCII-only case folding, mirroring textstats.ascii_lower — never SQL
# lower(): utf8proc and the JDK disagree on İ and final sigma (see the
# textstats comment), and membership against ASCII word lists must fold
# identically in both engines.
_SQL_ALOWER = (
    f"translate(t, '{textstats.ASCII_UPPER}', '{textstats.ASCII_LOWER}')"
)


def _sql_lang_score_expr(words: list[str], toks_expr: str) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_intersect(list_distinct(list_transform("
        f"{toks_expr}, t -> {_SQL_ALOWER})), [{lst}]))"
    )


def _sql_lang_score(words: list[str]) -> str:
    return _sql_lang_score_expr(words, _SQL_TOKS)


_LANG_SCORES = {k: _sql_lang_score(v) for k, v in textstats.LANG_MARKERS.items()}
_LANG_SCORES_TOKS = {
    k: _sql_lang_score_expr(v, "toks") for k, v in textstats.LANG_MARKERS.items()
}
SQL_QUALITY_SCORES = rf"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), stats AS (
  SELECT doc_id, len(toks) AS n,
    {_LANG_SCORES_TOKS["en"]} AS s_en, {_LANG_SCORES_TOKS["de"]} AS s_de,
    {_LANG_SCORES_TOKS["fr"]} AS s_fr, {_LANG_SCORES_TOKS["es"]} AS s_es,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(list_transform(toks, t -> {_SQL_ALOWER}),
                              t -> t IN ({_STOPS})))::DOUBLE / len(toks)
    END AS stop_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE length({_SQL_STRIPPED})::DOUBLE / len(toks) END AS avg_len
  FROM base
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
       ELSE 'unknown' END AS pred_lang,
  CASE WHEN n = 0 THEN 0
       ELSE floor((0.5*least(n/100.0, 1.0) + 0.3*(1.0-stop_ratio)
                   + 0.2*least(avg_len/10.0, 1.0)) * 10000.0) END::BIGINT
       AS quality_q4
FROM stats ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# composed corpus curation: lang + quality + length filters → exact dedup
# of the survivors (keep-rows) — the end-to-end training-data filter,
# oracled as one composition
# --------------------------------------------------------------------------

def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import curate
    from otlp_wire_spark.operators.textstats import quantize4

    docs = _fanout(_t(spark, sf_dir, "documents"))
    kept = curate(docs, langs=("en",), min_quality=0.3, min_tokens=3)
    return kept.select(
        "doc_id",
        "pred_lang",
        quantize4(F.col("quality")).alias("quality_q4"),
        "n_tokens",
    ).orderBy("doc_id")


_CURATE_LANGS = {
    k: _sql_lang_score_expr(v, "toks") for k, v in textstats.LANG_MARKERS.items()
}
SQL_CURATE_CORPUS = rf"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), stats AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(list_transform(toks, t -> {_SQL_ALOWER}),
                              t -> t IN ({_STOPS})))::DOUBLE / len(toks)
    END AS stop_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE length({_SQL_STRIPPED})::DOUBLE / len(toks) END AS avg_len,
    {_CURATE_LANGS["en"]} AS s_en, {_CURATE_LANGS["de"]} AS s_de,
    {_CURATE_LANGS["fr"]} AS s_fr, {_CURATE_LANGS["es"]} AS s_es
  FROM base
), scored AS (
  SELECT doc_id, text, n_tokens,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         ELSE 'unknown' END AS pred_lang,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE 0.5*least(n_tokens/100.0, 1.0) + 0.3*(1.0-stop_ratio)
              + 0.2*least(avg_len/10.0, 1.0) END AS quality
  FROM stats
), kept AS (
  SELECT * FROM scored
  WHERE pred_lang = 'en' AND quality >= 0.3 AND n_tokens >= 3
)
SELECT doc_id, pred_lang, floor(quality * 10000.0)::BIGINT AS quality_q4,
       n_tokens::INT AS n_tokens
FROM kept
WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5(text))
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# benchmark decontamination: corpus docs sharing any 3-gram with the
# benchmark slice (doc_id % 101 == 0), via distributed shingle semi-join
# --------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import contaminated_ids

    docs = _fanout(_t(spark, sf_dir, "documents"))
    benchmark = docs.where(F.col("doc_id") % 101 == 0)
    return contaminated_ids(docs, benchmark, "doc_id", "text", n=3).orderBy(
        "doc_id"
    )


SQL_DECONTAMINATE = rf"""
WITH sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t)-1),
                                 i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex({_SQL_STRIPPED}, '{_WS}+') AS t
        FROM documents WHERE text IS NOT NULL AND length({_SQL_STRIPPED}) > 0)
  WHERE len(t) >= 3
), b AS (
  SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id % 101 = 0)
)
SELECT DISTINCT doc_id
FROM (SELECT doc_id, unnest(s) AS g FROM sh) x
WHERE g IN (SELECT g FROM b)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# PII-style redaction: email/phone/IPv4 shapes → typed placeholders; the
# oracle applies the LITERALLY identical regexes (lookaround-free → same
# semantics in Java regex and DuckDB RE2)
# --------------------------------------------------------------------------

def q_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import redact_text

    # sorted fan-out replaces the trailing orderBy (the redaction regex
    # chain runs once, in parallel)
    docs = _sorted_fanout(_t(spark, sf_dir, "documents"), "doc_id")
    d = F.col("doc_id")
    # plant PII shapes deterministically so redaction has real work
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"),
                     F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(F.lit(" call +1 (555) 010-"),
                     F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0,
            F.concat(F.lit(" from 10.0."), (d % 256).cast("string"),
                     F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", redact_text(planted).alias("clean_text"))


def _sql_redact_chain(expr: str) -> str:
    """The redaction regexp_replace chain over an arbitrary SQL expr —
    DuckDB string literals are RAW (no backslash processing), so each regex
    goes in verbatim; only quotes need doubling."""
    from otlp_wire_spark.operators.curate import REDACTION_PATTERNS

    for _, pat, repl in REDACTION_PATTERNS:
        pat_sql = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl}', 'g')"
    return expr


def _sql_redact() -> str:
    expr = _sql_redact_chain("planted")
    return f"""
WITH p AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || doc_id::STRING || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call +1 (555) 010-' || lpad((doc_id % 10000)::STRING, 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || (doc_id % 256)::STRING || '.7'
            ELSE '' END AS planted
  FROM documents
)
SELECT doc_id, {expr} AS clean_text FROM p ORDER BY doc_id
"""


SQL_REDACT_TEXT = _sql_redact()


# --------------------------------------------------------------------------
# sequence packing (LLM-training "pack and split"): distributed two-pass
# prefix sum vs the oracle's single global window — same packing exactly
# --------------------------------------------------------------------------

def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.pack import pack_sequences
    from otlp_wire_spark.operators.textstats import tokens_norm_col

    docs = _fanout(_t(spark, sf_dir, "documents"))
    counted = docs.select(
        "doc_id", F.size(tokens_norm_col(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(counted, seq_len=256).orderBy("seq_id", "doc_id")


SQL_PACK_SEQUENCES = rf"""
WITH counted AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents
), off AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id, n_tokens
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS tok_before
  FROM counted WHERE n_tokens > 0
)
SELECT s.seq_id, o.doc_id,
  greatest(0, s.seq_id * 256 - o.tok_before)::BIGINT AS doc_tok_start,
  least(o.n_tokens, (s.seq_id + 1) * 256 - o.tok_before)::BIGINT AS doc_tok_end,
  (least(o.n_tokens, (s.seq_id + 1) * 256 - o.tok_before)
   - greatest(0, s.seq_id * 256 - o.tok_before))::BIGINT AS n_toks
FROM off o, LATERAL unnest(range(o.tok_before // 256,
                                 (o.tok_before + o.n_tokens - 1) // 256 + 1))
     AS s(seq_id)
ORDER BY s.seq_id, o.doc_id
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact — the oracle for LSH)
# --------------------------------------------------------------------------

def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


SQL_NGRAM_JACCARD_PAIRS = rf"""
WITH sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t)-1),
                                 i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex({_SQL_STRIPPED}, '{_WS}+') AS t
        FROM documents WHERE text IS NOT NULL AND length({_SQL_STRIPPED}) > 0)
  WHERE len(t) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       floor((len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(a.s || b.s))) * 10000.0)::BIGINT AS jaccard_q4
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
      / len(list_distinct(a.s || b.s)) >= 0.5
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# MinHash + LSH candidate pairs (the scale path, oracled end-to-end)
# --------------------------------------------------------------------------

def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket_cap far above any sf bucket: the DuckDB oracle is UNCAPPED, so
    # the gate comparison must not silently depend on the scale factor
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", k=16, bands=4, n=3, bucket_cap=10_000_000
    ).orderBy("id_a", "id_b")


_SQL_SIG_PARTS = ",\n    ".join(
    f"coalesce(list_min(list_transform(hs, x -> ({a}*x + {b}) % {P})), {P}) AS sig{j}"
    for j, (a, b) in enumerate(PERMS)
)
_SQL_BAND_KEYS = ", ".join(
    "concat_ws('_', sig{}, sig{}, sig{}, sig{}) AS band{}".format(
        4 * i, 4 * i + 1, 4 * i + 2, 4 * i + 3, i
    )
    for i in range(4)
)
def _sql_lsh_ctes(src: str = "documents", cap: int | None = None) -> str:
    """The full MinHash→bands→candidate-pairs CTE chain over any relation
    with (doc_id, text) columns. ``cap`` mirrors the Spark bucket cap
    EXACTLY: keep only the ``cap`` lowest doc_ids per (band, key) bucket
    before pair generation — the branch that actually runs at 100 TB."""
    pair_src = "long_bands"
    capped = ""
    if cap is not None:
        capped = f""", capped AS (
  SELECT doc_id, band, key FROM (
    SELECT doc_id, band, key,
           row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
    FROM long_bands)
  WHERE rn <= {cap}
)"""
        pair_src = "capped"
    return f"""base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}
), hashes AS (
  SELECT doc_id, {_sql_shingle_hashes()} AS hs FROM base
), sigs AS (
  SELECT doc_id, {_SQL_SIG_PARTS} FROM hashes
), bands AS (
  SELECT doc_id, {_SQL_BAND_KEYS} FROM sigs
), long_bands AS (
  SELECT doc_id, 0 AS band, band0 AS key FROM bands UNION ALL
  SELECT doc_id, 1, band1 FROM bands UNION ALL
  SELECT doc_id, 2, band2 FROM bands UNION ALL
  SELECT doc_id, 3, band3 FROM bands
){capped}, lsh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {pair_src} a JOIN {pair_src} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


_SQL_LSH_CTES = _sql_lsh_ctes()

SQL_MINHASH_LSH_PAIRS = f"""
WITH {_SQL_LSH_CTES}
SELECT id_a, id_b FROM lsh_cand ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# capped LSH — the truncation branch that actually runs at 100 TB, value-
# graded with truncation OCCURRING (sf0.01 has buckets of 3 > cap of 2);
# the oracle mirrors the cap exactly (lowest-id survivors per bucket)
# --------------------------------------------------------------------------

_LSH_GATE_CAP = 2


def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", k=16, bands=4, n=3,
        bucket_cap=_LSH_GATE_CAP, impl="arrow",
    ).orderBy("id_a", "id_b")


SQL_MINHASH_LSH_CAPPED = f"""
WITH {_sql_lsh_ctes(cap=_LSH_GATE_CAP)}
SELECT id_a, id_b FROM lsh_cand ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# end-to-end near-dup: LSH candidates verified by exact Jaccard on the
# candidate set only — the composed 100 TB dedup shape, oracled end-to-end
# --------------------------------------------------------------------------

def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the single-scan scale path: one persisted shingle side-table
    feeds both the Arrow/numpy signature pass and the exact-Jaccard verify
    pass — the SQL oracle and the expr-impl parity test both pin it."""
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.near_dup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5,
        bucket_cap=10_000_000, impl="arrow",  # oracle is uncapped — see above
        persist=True,
    ).orderBy("id_a", "id_b")


_SQL_JAC = (
    "len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s))"
)
SQL_NEAR_DUP_PAIRS = rf"""
WITH {_SQL_LSH_CTES},
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t)-1),
                                 i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex({_SQL_STRIPPED}, '{_WS}+') AS t
        FROM documents WHERE text IS NOT NULL AND length({_SQL_STRIPPED}) > 0)
  WHERE len(t) >= 3
)
SELECT c.id_a, c.id_b,
       floor(({_SQL_JAC}) * 10000.0)::BIGINT AS jaccard_q4
FROM lsh_cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
WHERE {_SQL_JAC} >= 0.5
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Cross-corpus segment-level exact dedup (RefinedWeb-style repeated-span
# removal): global first-occurrence-wins over consecutive 3-token segments,
# documents rebuilt from their surviving segments
# --------------------------------------------------------------------------

_SEG_TOKENS = 3


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.segment_dedup(
        docs, "doc_id", "text", seg_tokens=_SEG_TOKENS
    ).orderBy("doc_id")


_S = _SEG_TOKENS
SQL_SEGMENT_DEDUP = rf"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         ((len({_SQL_TOKS}) + {_S - 1}) // {_S})::INT AS n_segs
  FROM documents
), segd AS (
  SELECT doc_id,
    CASE WHEN n_segs = 0 THEN []::STRUCT(pos INT, seg VARCHAR)[]
         ELSE list_transform(range(1, n_segs + 1),
              i -> {{'pos': (i-1)::INT,
                     'seg': array_to_string(toks[(i-1)*{_S}+1:(i-1)*{_S}+{_S}], ' ')}})
    END AS segl
  FROM base
), segs AS (
  SELECT doc_id, u.pos AS pos, u.seg AS seg
  FROM (SELECT doc_id, unnest(segl) AS u FROM segd)
), firsts AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs
), kept AS (
  SELECT doc_id, count(*)::INT AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS clean_text
  FROM firsts WHERE rn = 1 GROUP BY doc_id
)
SELECT b.doc_id, b.n_segs,
       coalesce(k.n_kept, 0)::INT AS n_kept,
       (b.n_segs - coalesce(k.n_kept, 0))::INT AS n_dropped,
       coalesce(k.clean_text, '') AS clean_text
FROM base b LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def q_segment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return dedup.segment_topk(docs, "doc_id", "text", seg_tokens=_SEG_TOKENS, k=20)


SQL_SEGMENT_TOPK = rf"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks,
         ((len({_SQL_TOKS}) + {_S - 1}) // {_S})::INT AS n_segs
  FROM documents
), segd AS (
  SELECT doc_id,
    CASE WHEN n_segs = 0 THEN []::VARCHAR[]
         ELSE list_transform(range(1, n_segs + 1),
              i -> array_to_string(toks[(i-1)*{_S}+1:(i-1)*{_S}+{_S}], ' '))
    END AS segl
  FROM base
), segs AS (
  SELECT doc_id, unnest(segl) AS seg FROM segd
)
SELECT seg AS segment, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM segs GROUP BY seg
ORDER BY n_occurrences DESC, segment
LIMIT 20
"""


# --------------------------------------------------------------------------
# Gopher-style repetition filters: duplicate-line fraction + most-frequent
# token-2-gram fraction — the boilerplate-repetition signals a web curation
# run applies alongside lang/quality scores
# --------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    return textstats.repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


SQL_REPETITION_STATS = rf"""
WITH l AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) = 0 THEN []::VARCHAR[]
         WHEN text[-1] = chr(10)
           THEN list_slice(string_split(text, chr(10)), 1,
                           len(string_split(text, chr(10))) - 1)
         ELSE string_split(text, chr(10)) END AS lines,
    {_SQL_TOKS} AS toks
  FROM documents
), ls AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(lines) - len(list_distinct(lines)) AS dups, toks
  FROM l
), g AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
         ELSE list_transform(range(1, len(toks)),
                             i -> toks[i] || ' ' || toks[i+1]) END AS grams
  FROM l
), gc AS (
  SELECT doc_id, g2, count(*) AS n
  FROM (SELECT doc_id, unnest(grams) AS g2 FROM g) GROUP BY 1, 2
), gs AS (
  SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM gc GROUP BY 1
)
SELECT ls.doc_id, n_lines::INT AS n_lines,
  CASE WHEN n_lines = 0 THEN 0
       ELSE floor(dups::DOUBLE / n_lines * 10000.0) END::BIGINT AS dup_line_q4,
  CASE WHEN coalesce(tot, 0) = 0 THEN 0
       ELSE floor(mx::DOUBLE / tot * 10000.0) END::BIGINT AS top_2gram_q4
FROM ls LEFT JOIN gs ON ls.doc_id = gs.doc_id
ORDER BY ls.doc_id
"""


# --------------------------------------------------------------------------
# composed end-to-end LLM curation pipeline — the shape a real 100 TB
# training-data run executes, oracled as ONE composition:
#   curate (lang/quality/length + exact dedup)
#   → near-dup removal (drop id_b of every LSH→exact-verified pair)
#   → benchmark decontamination (drop docs sharing any 3-gram with the
#     benchmark slice doc_id % 101 == 0)
#   → PII redaction
#   → sequence packing (seq_len=128) of the cleaned corpus
# Every stage's oracle already exists individually; here the CTEs compose.
# --------------------------------------------------------------------------

_PIPE_SEQ_LEN = 128

# internal caches of the pipeline-family queries, one generation (list of
# handles) per call. The previous call's generation survives the next
# call's construction — build-all-then-execute builds curation_pipeline
# and incremental_curate before running either — and is retired by the
# call after it (bounded at two generations; a long-lived gate/bench
# session would otherwise accumulate unreachable MEMORY_AND_DISK entries)
_PIPE_CACHES: list = []


def _pipe_generation() -> list:
    from otlp_wire_spark.cacheutil import new_generation

    return new_generation(_PIPE_CACHES, keep=1)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import (
        contaminated_ids,
        curate,
        redact_text,
    )
    from otlp_wire_spark.operators.pack import pack_sequences
    from otlp_wire_spark.operators.textstats import tokens_norm_col

    from otlp_wire_spark.cacheutil import persist_into

    docs = _fanout(_t(spark, sf_dir, "documents"))
    # 1. curate: score (narrow scan) → filter → exact dedup keep-rows.
    #    PERSISTED: the survivors feed the near-dup shingle table, the
    #    anti-join left side, and (transitively) every pack driver action —
    #    without a cache each action re-runs the full scoring+dedup chain
    #    (measured 2.5× end-to-end cost at sf0.1).
    gen = _pipe_generation()
    kept = persist_into(
        curate(docs, langs=("en",), min_quality=0.3, min_tokens=3), gen
    )
    # ONE shingle table over the survivors feeds the near-dup candidate
    # pass, the near-dup verify pass AND the decontamination corpus side
    # (r6) — previously decontamination re-tokenized+re-shingled kept2
    # from text, a third full pass over ~the whole surviving corpus.
    # Eager for the same reason near_dup_pairs' internal persist is: its
    # downstream consumers are submitted as independent job stages that
    # would race a cold cache and re-run the scan.
    sh_kept = persist_into(
        dedup.shingle_table(kept, "doc_id", "text", n=3),
        gen,
        eager=True,
    )
    # 2. near-dup removal on the survivors — single-scan LSH→verify, then
    #    drop the HIGHER id of every verified pair (min-id representative
    #    survives, consistent with the exact-dedup convention)
    pairs = dedup.near_dup_pairs(
        kept, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5,
        bucket_cap=10_000_000, impl="arrow", shingles=sh_kept,
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept2 = kept.join(drop, "doc_id", "left_anti")
    # 3. decontaminate vs the benchmark slice of the FULL corpus — the
    #    corpus side reads the shared shingle table (kept2 ⊂ kept)
    benchmark = docs.where(F.col("doc_id") % 101 == 0)
    contam = contaminated_ids(
        kept2, benchmark, "doc_id", "text", n=3, corpus_shingles=sh_kept
    )
    kept3 = kept2.join(contam, "doc_id", "left_anti")
    # 4. PII redaction (codegen'd regexp chain, zero shuffle)
    clean = kept3.select(
        "doc_id", redact_text(F.col("text")).alias("clean_text")
    )
    # 5. pack the cleaned corpus into training sequences. `counted` is
    #    PERSISTED + materialized: global_token_offsets runs three driver
    #    actions (bucket-boundary quantiles, per-bucket sums, the window
    #    pass) — each would otherwise recompute stages 1-4 from scratch.
    counted = persist_into(
        clean.select(
            "doc_id",
            F.size(tokens_norm_col(F.col("clean_text"))).alias("n_tokens"),
        ),
        gen,
        eager=True,
    )
    return pack_sequences(counted, seq_len=_PIPE_SEQ_LEN).orderBy(
        "seq_id", "doc_id"
    )


def _sql_sh(src: str) -> str:
    """(doc_id, s) distinct 3-gram shingle sets over any (doc_id, text)
    relation — the DuckDB mirror of operators.dedup._shingled + explode
    semantics (empty/short docs produce no shingle rows)."""
    return rf"""
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t)-1),
                                 i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex({_SQL_STRIPPED}, '{_WS}+') AS t
        FROM {src} WHERE text IS NOT NULL AND length({_SQL_STRIPPED}) > 0)
  WHERE len(t) >= 3
"""


def _sql_curate_neardup_ctes() -> str:
    """The shared curate → near-dup CTE chain (cbase … kept2) over ALL
    documents — reused by the full pipeline oracle and by the incremental
    oracle (whose spec is 'full batch restricted to new ids')."""
    return rf"""cbase AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), cstats AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(list_transform(toks, t -> {_SQL_ALOWER}),
                              t -> t IN ({_STOPS})))::DOUBLE / len(toks)
    END AS stop_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE length({_SQL_STRIPPED})::DOUBLE / len(toks) END AS avg_len,
    {_CURATE_LANGS["en"]} AS s_en, {_CURATE_LANGS["de"]} AS s_de,
    {_CURATE_LANGS["fr"]} AS s_fr, {_CURATE_LANGS["es"]} AS s_es
  FROM cbase
), cscored AS (
  SELECT doc_id, text, n_tokens,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         ELSE 'unknown' END AS pred_lang,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE 0.5*least(n_tokens/100.0, 1.0) + 0.3*(1.0-stop_ratio)
              + 0.2*least(avg_len/10.0, 1.0) END AS quality
  FROM cstats
), ckept AS (
  SELECT * FROM cscored
  WHERE pred_lang = 'en' AND quality >= 0.3 AND n_tokens >= 3
), curated AS (
  SELECT doc_id, text FROM ckept
  WHERE doc_id IN (SELECT min(doc_id) FROM ckept GROUP BY md5(text))
), {_sql_lsh_ctes(src="curated")},
ndsh AS ({_sql_sh("curated")}),
verified AS (
  SELECT c.id_a, c.id_b
  FROM lsh_cand c JOIN ndsh a ON c.id_a = a.doc_id
                  JOIN ndsh b ON c.id_b = b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / len(list_distinct(a.s || b.s)) >= 0.5
), kept2 AS (
  SELECT doc_id, text FROM curated
  WHERE doc_id NOT IN (SELECT id_b FROM verified)
)"""


def _sql_curation_pipeline() -> str:
    toks_clean = _SQL_TOKS.replace("text", "clean_text")
    return f"""
WITH {_sql_curate_neardup_ctes()}, bench_sh AS ({_sql_sh("(SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0)")}),
bgrams AS (
  SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM bench_sh)
), k2sh AS ({_sql_sh("kept2")}),
contam AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(s) AS g FROM k2sh) x
  WHERE g IN (SELECT g FROM bgrams)
), kept3 AS (
  SELECT doc_id, text FROM kept2
  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
), clean AS (
  SELECT doc_id, {_sql_redact_chain("text")} AS clean_text FROM kept3
), counted AS (
  SELECT doc_id, len({toks_clean}) AS n_tokens FROM clean
), off AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id, n_tokens
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS tok_before
  FROM counted WHERE n_tokens > 0
)
SELECT s.seq_id, o.doc_id,
  greatest(0, s.seq_id * {_PIPE_SEQ_LEN} - o.tok_before)::BIGINT AS doc_tok_start,
  least(o.n_tokens, (s.seq_id + 1) * {_PIPE_SEQ_LEN} - o.tok_before)::BIGINT AS doc_tok_end,
  (least(o.n_tokens, (s.seq_id + 1) * {_PIPE_SEQ_LEN} - o.tok_before)
   - greatest(0, s.seq_id * {_PIPE_SEQ_LEN} - o.tok_before))::BIGINT AS n_toks
FROM off o, LATERAL unnest(range(o.tok_before // {_PIPE_SEQ_LEN},
                                 (o.tok_before + o.n_tokens - 1) // {_PIPE_SEQ_LEN} + 1))
     AS s(seq_id)
ORDER BY s.seq_id, o.doc_id
"""


SQL_CURATION_PIPELINE = _sql_curation_pipeline()


# --------------------------------------------------------------------------
# incremental curation: admit a new batch (the last ~10% of doc ids)
# against the already-curated corpus (the first ~90%), touching the corpus
# only via its (fingerprints, shingles, bands) index — the realistic
# design shape: big indexed corpus, small batch. The split is derived from
# the DATA (max doc_id — ids are dense 0..N-1 in the fixture tables), not
# hard-coded, so every SF grades the same 90/10 shape; the oracle computes
# the identical split with a scalar subquery. Oracle = the
# batch-equivalence spec: full curate→near-dup chain over ALL docs,
# restricted to the new ids.
# --------------------------------------------------------------------------


def q_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.cacheutil import persist_into

    from otlp_wire_spark.operators.curate import (
        curate,
        curation_index,
        incremental_curate,
    )
    from otlp_wire_spark.operators.textstats import quantize4

    docs = _fanout(_t(spark, sf_dir, "documents"))
    # one scalar aggregate collect — data-derived (two-job-consistency
    # rule: a driver-collected literal must be a pure function of the
    # rows, which max(doc_id) is), O(1) driver traffic
    max_id = docs.agg(F.max("doc_id")).first()[0]
    # empty table → max is NULL; split 0 keeps both sides empty instead
    # of a TypeError at query-construction time
    split_id = 0 if max_id is None else (int(max_id) + 1) * 9 // 10
    old = docs.where(F.col("doc_id") < split_id)
    new = docs.where(F.col("doc_id") >= split_id)
    # batch-time artifacts of the existing corpus: the exact-curated set
    # (near-dup stage INPUT — tombstone contract) persisted once, because
    # fingerprints and shingles both read it
    gen = _pipe_generation()
    existing = persist_into(
        curate(old, langs=("en",), min_quality=0.3, min_tokens=3), gen
    )
    # impl='arrow' end to end: the banded MinHash over the corpus index is
    # the dominant compute, and the numpy kernel over the PRE-built shingle
    # arrays beats the interpreted JVM HOF fold (HOFs are CodegenFallback);
    # expr and arrow are parity-pinned bit-identical (tests/test_ops.py),
    # so the graded values are unchanged
    fps, ex_sh, ex_bands = curation_index(existing, impl="arrow")
    # the index contract is "keep these as parquet/bucketed tables" — a
    # deployment reads them back as narrow scans. In-query, persist the
    # two corpus-side tables so the admission's several consumers (band
    # join, Jaccard-verify semi-join, append-only validation) read the
    # materialized index instead of re-tokenizing the corpus per consumer.
    ex_sh = persist_into(ex_sh, gen)
    ex_bands = persist_into(ex_bands, gen)
    out = incremental_curate(
        new, fps, ex_sh,
        langs=("en",), min_quality=0.3, min_tokens=3,
        k=16, bands=4, n=3, threshold=0.5, bucket_cap=10_000_000,
        existing_bands=ex_bands, impl="arrow",
        # the append-only contract holds by construction HERE: old/new
        # partition `docs` on the split literal (old ids < split_id ≤ new
        # ids), so the operator's id-range check can never fire — skip its
        # per-batch action (r6). Real deployments, where the batch's ids
        # are caller-supplied, keep the default validation.
        validate_ids=False,
    )
    return out.select(
        "doc_id",
        "pred_lang",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        quantize4(F.col("quality")).alias("quality_q4"),
    ).orderBy("doc_id")


SQL_INCREMENTAL_CURATE = f"""
WITH {_sql_curate_neardup_ctes()}
SELECT s.doc_id, s.pred_lang, s.n_tokens::INT AS n_tokens,
       floor(s.quality * 10000.0)::BIGINT AS quality_q4
FROM cscored s JOIN kept2 USING (doc_id)
WHERE s.doc_id >= (SELECT (max(doc_id) + 1) * 9 // 10 FROM documents)
ORDER BY s.doc_id
"""


# --------------------------------------------------------------------------
# near-dup CLUSTERS: connected components over verified pairs (min-id
# representative per component) — the transitive dedup semantics; oracle is
# a recursive min-label CTE over the same verified-pair chain
# --------------------------------------------------------------------------

def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fanout(_t(spark, sf_dir, "documents"))
    # impl='arrow' like q_near_dup_pairs: same parity-pinned values, the
    # numpy MinHash kernel over the persisted shingle table is the faster
    # signature path (HOFs are CodegenFallback)
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5,
        bucket_cap=10_000_000, impl="arrow", persist=True,
    )
    return (
        dedup.dedup_clusters(pairs)
        .select(F.col("id").alias("doc_id"), F.col("rep").alias("cluster_rep"))
        .orderBy("doc_id")
    )


SQL_NEAR_DUP_CLUSTERS = rf"""
WITH RECURSIVE {_SQL_LSH_CTES},
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t)-1),
                                 i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex({_SQL_STRIPPED}, '{_WS}+') AS t
        FROM documents WHERE text IS NOT NULL AND length({_SQL_STRIPPED}) > 0)
  WHERE len(t) >= 3
),
vpairs AS (
  SELECT c.id_a, c.id_b
  FROM lsh_cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
  WHERE {_SQL_JAC} >= 0.5
),
vedges AS (
  SELECT id_a AS a, id_b AS b FROM vpairs
  UNION
  SELECT id_b, id_a FROM vpairs
),
reach(id, rep) AS (
  SELECT a, a FROM vedges
  UNION
  SELECT e.a, r.rep FROM vedges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, min(rep)::BIGINT AS cluster_rep
FROM reach GROUP BY id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# contamination report: WHICH benchmark doc a corpus doc collides with and
# how many distinct 3-grams they share — the audit row behind decontaminate
# --------------------------------------------------------------------------

def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import contamination_report

    docs = _fanout(_t(spark, sf_dir, "documents"))
    benchmark = docs.where(F.col("doc_id") % 101 == 0)
    corpus = docs.where(F.col("doc_id") % 101 != 0)
    return contamination_report(corpus, benchmark, "doc_id", "text", n=3).orderBy(
        "doc_id", "bench_id"
    )


SQL_CONTAMINATION_REPORT = f"""
WITH csh AS ({_sql_sh("(SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 0)")}),
bsh AS ({_sql_sh("(SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0)")}),
ce AS (SELECT doc_id, unnest(s) AS g FROM csh),
be AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM bsh)
SELECT ce.doc_id, be.bench_id, count(DISTINCT ce.g)::BIGINT AS n_shared
FROM ce JOIN be ON ce.g = be.g
GROUP BY ce.doc_id, be.bench_id
ORDER BY ce.doc_id, be.bench_id
"""


# --------------------------------------------------------------------------
# deterministic stratified sampling (training-mix construction): per-lang
# quota by content-hash order — a pure function of the data
# --------------------------------------------------------------------------

_STRAT_QUOTA = 25


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import stratified_sample

    docs = _fanout(_t(spark, sf_dir, "documents"))
    strat = docs.select(
        "doc_id", "text", textstats.lang_id_col(F.col("text")).alias("stratum")
    )
    return (
        stratified_sample(strat, "stratum", quota=_STRAT_QUOTA)
        .select("doc_id", "stratum")
        .orderBy("stratum", "doc_id")
    )


_TOKEN_BUDGET = 400


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.operators.curate import sample_by_token_budget

    docs = _fanout(_t(spark, sf_dir, "documents"))
    strat = docs.select(
        "doc_id", "text", textstats.lang_id_col(F.col("text")).alias("stratum")
    )
    return (
        sample_by_token_budget(strat, "stratum", budget=_TOKEN_BUDGET)
        .select("doc_id", "stratum", "n_tokens", "tok_before")
        .orderBy("stratum", "doc_id")
    )


_FNV_TEXT_SIGNED = (
    "CASE WHEN h >= 9223372036854775808::HUGEINT "
    "THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE h::BIGINT END"
)
SQL_STRATIFIED_SAMPLE = f"""
WITH s AS (
  SELECT doc_id,
    {_LANG_SCORES["en"]} AS s_en, {_LANG_SCORES["de"]} AS s_de,
    {_LANG_SCORES["fr"]} AS s_fr, {_LANG_SCORES["es"]} AS s_es,
    {FNV_SQL.format(col="coalesce(text, '')")} AS h
  FROM documents
), strat AS (
  SELECT doc_id, {_FNV_TEXT_SIGNED} AS hkey,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         ELSE 'unknown' END AS stratum
  FROM s
), ranked AS (
  SELECT doc_id, stratum,
         row_number() OVER (PARTITION BY stratum ORDER BY hkey, doc_id) AS rn
  FROM strat
)
SELECT doc_id, stratum FROM ranked WHERE rn <= {_STRAT_QUOTA}
ORDER BY stratum, doc_id
"""

SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH s AS (
  SELECT doc_id,
    {_LANG_SCORES["en"]} AS s_en, {_LANG_SCORES["de"]} AS s_de,
    {_LANG_SCORES["fr"]} AS s_fr, {_LANG_SCORES["es"]} AS s_es,
    {FNV_SQL.format(col="coalesce(text, '')")} AS h,
    len({_SQL_TOKS}) AS n_tokens
  FROM documents
), strat AS (
  SELECT doc_id, n_tokens, {_FNV_TEXT_SIGNED} AS hkey,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         ELSE 'unknown' END AS stratum
  FROM s
), cum AS (
  SELECT doc_id, stratum, n_tokens,
    coalesce(sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hkey, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_before
  FROM strat
)
SELECT doc_id, stratum, n_tokens::BIGINT AS n_tokens, tok_before
FROM cum WHERE tok_before < {_TOKEN_BUDGET}
ORDER BY stratum, doc_id
"""


# --------------------------------------------------------------------------
# SimHash (16-bit, FNV token hashes)
# --------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash via the Arrow/numpy scale path — the SQL oracle recomputes
    it bit-for-bit, and tests pin arrow == expr impl parity."""
    # sorted fan-out replaces the trailing orderBy: the Arrow kernel runs
    # once (not re-run by the sort's range sampler) and in parallel
    docs = _sorted_fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", dedup.simhash16_arrow_col(F.col("text")).alias("simhash")
    )


_SQL_SIMHASH_BITS = " + ".join(
    f"""CASE WHEN list_sum(list_transform(hs,
      h -> CASE WHEN ((h::UBIGINT >> {i}) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
      THEN {1 << i} ELSE 0 END"""
    for i in range(16)
)
SQL_SIMHASH = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), hashes AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks, t -> {_SQL_FNV_TOKEN}) AS hs
  FROM base
)
SELECT doc_id,
  CASE WHEN n = 0 THEN 0 ELSE {_SQL_SIMHASH_BITS} END::INT AS simhash
FROM hashes ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# embedding similarity: exact top-k + near-dup pairs
# --------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k via the BLAS block-matmul path (scale form) — the DuckDB
    oracle and the expr-kernel parity test both pin it."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_arrow(emb, emb.where(F.col("vec_id") < 5), k=3)


SQL_COSINE_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         round(list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(c.e, c.e))), 4)::DOUBLE AS cosine
  FROM q JOIN v c ON c.vec_id != q.vec_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY q_id, rank
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantizer buckets, n_probe cells per query) — fully
    oracled: the deterministic centroids are embedded as literals in the
    DuckDB SQL, which re-derives cell assignment, probe list, and in-cell
    exact cosine ranking independently."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_ann_topk(
        emb, emb.where(F.col("vec_id") < 5), dim=64, k=3,
        n_centroids=8, n_probe=2,
    )


def _sql_ivf() -> str:
    cents = similarity.ivf_centroids(64, 8)
    rows = ", ".join(
        f"({j}, {list(c)!r}::DOUBLE[])" for j, c in enumerate(cents)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents(cid, c) AS (VALUES {rows}),
corpus AS (
  SELECT vec_id AS c_id, e AS ce,
    (SELECT cid FROM cents
     ORDER BY list_dot_product(v.e, cents.c) DESC, cid ASC LIMIT 1) AS cell
  FROM v
),
probes AS (
  SELECT q.vec_id AS q_id, q.e AS qe, p.cid AS cell
  FROM v q, LATERAL (SELECT cid FROM cents
                     ORDER BY list_dot_product(q.e, cents.c) DESC, cid ASC
                     LIMIT 2) p
  WHERE q.vec_id < 5
),
scored AS (
  SELECT p.q_id, c.c_id,
    round(list_dot_product(p.qe, c.ce)
          / (sqrt(list_dot_product(p.qe, p.qe))
             * sqrt(list_dot_product(c.ce, c.ce))), 4)::DOUBLE AS cosine
  FROM probes p JOIN corpus c ON p.cell = c.cell AND c.c_id != p.q_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY q_id, rank
"""


SQL_IVF_ANN_TOPK = _sql_ivf()


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, threshold=0.45).orderBy("id_a", "id_b")


SQL_EMBEDDING_NEAR_DUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))), 4)::DOUBLE AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.45
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# salted two-phase aggregation == plain GROUP BY (skew-handling parity)
# --------------------------------------------------------------------------

def q_salted_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_v")
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("_n").cast("long").alias("n"),
            F.round(F.sum("_v"), 2).cast("double").alias("value_sum"),
        )
        .orderBy("user_id")
    )


SQL_SALTED_GROUP_COUNTS = """
SELECT user_id, count(*) AS n, round(sum(value), 2)::DOUBLE AS value_sum
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# multimodal plumbing — FULLY oracled (VERDICT r1 item 1): payload bytes are
# a pure function of media_id (multimodal.generate_media), so DuckDB
# reconstructs the payload as a hex string from range(0,2000) and recomputes
# byte_count / FNV-64a payload_fingerprint / decode_error in pure SQL. Only
# the `feature` vector (the decode stub's output) is excluded from the
# compare — it is Python-side by design.
# --------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_wire_spark.shipping import ensure_session_ready

    ensure_session_ready(spark)
    media = generate_media(spark, 2000)
    return extract_media_features(media).select(
        "media_id", "kind", "byte_count", "payload_fingerprint", "decode_error"
    ).orderBy("media_id")


from otlp_wire_spark.queries import FNV_BYTES_SQL

# payload hex mirror of multimodal.generate_media: 'IMG'||id ASCII prefix +
# 8 big-endian bytes of id*2654435761; empty payload every 47th id.
_MEDIA_HX = (
    "CASE WHEN media_id % 47 = 0 THEN '' "
    "ELSE upper(hex(encode('IMG' || media_id::VARCHAR))) "
    "|| lpad(hex(media_id * 2654435761), 16, '0') END"
)
SQL_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT range AS media_id, {_MEDIA_HX.replace("media_id", "range")} AS hx
  FROM range(0, 2000)
), h AS (
  SELECT media_id, hx, {FNV_BYTES_SQL.format(hx="hx")} AS fp_u64 FROM m
)
SELECT media_id,
  CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  (length(hx) // 2)::BIGINT AS byte_count,
  CASE WHEN fp_u64 >= 9223372036854775808::HUGEINT
       THEN (fp_u64 - 18446744073709551616::HUGEINT)::BIGINT
       ELSE fp_u64::BIGINT END AS payload_fingerprint,
  CASE WHEN media_id % 47 = 0 THEN 'decode_error:empty payload' END
    AS decode_error
FROM h ORDER BY media_id
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing under the oracle: video payloads are a pure
    function of media_id, so DuckDB reconstructs every sampled frame (i-th
    4-byte slice) and its FNV fingerprint from the payload hex."""
    from otlp_wire_spark.operators.multimodal import generate_media, sample_frames
    from otlp_wire_spark.shipping import ensure_session_ready

    ensure_session_ready(spark)
    media = generate_media(spark, 2000)
    return sample_frames(media, n_frames=4, frame_size=4).select(
        "media_id", "frame_idx",
        F.length("frame_bytes").cast("int").alias("frame_len"),
        "frame_fingerprint",
    ).orderBy("media_id", "frame_idx")


SQL_MULTIMODAL_FRAMES = f"""
WITH m AS (
  SELECT range AS media_id, {_MEDIA_HX.replace("media_id", "range")} AS hx
  FROM range(0, 2000) WHERE range % 3 = 2
), fr AS (
  SELECT media_id, f.frame_idx::INT AS frame_idx,
         substr(hx, f.frame_idx * 8 + 1, 8) AS fhx
  FROM m, LATERAL unnest(range(0, least(4, (length(hx) // 2) // 4)))
       AS f(frame_idx)
), h AS (
  SELECT media_id, frame_idx, (length(fhx) // 2)::INT AS frame_len,
         {FNV_BYTES_SQL.format(hx="fhx")} AS fp FROM fr
)
SELECT media_id, frame_idx, frame_len,
  CASE WHEN fp >= 9223372036854775808::HUGEINT
       THEN (fp - 18446744073709551616::HUGEINT)::BIGINT
       ELSE fp::BIGINT END AS frame_fingerprint
FROM h ORDER BY media_id, frame_idx
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling fingerprint via the Arrow/numpy scale path — the SQL oracle
    and the expr-kernel parity test both pin it."""
    # sorted fan-out replaces the trailing orderBy (Arrow kernel runs once)
    docs = _sorted_fanout(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200), "doc_id"
    )
    return docs.select(
        "doc_id",
        textstats.rolling_fingerprint_arrow_col(F.col("text"), k=8).alias("rfp"),
    )


_FNV_WIN = FNV_SQL.format(col="(text[i:i+7])")
_FNV_WHOLE = FNV_SQL.format(col="coalesce(text, '')")
_TO_SIGNED = (
    "CASE WHEN {h} >= 9223372036854775808::HUGEINT "
    "THEN ({h} - 18446744073709551616::HUGEINT)::BIGINT ELSE ({h})::BIGINT END"
)
SQL_ROLLING_FINGERPRINT = f"""
SELECT doc_id,
  CASE WHEN length(coalesce(text,'')) < 8
       THEN {_TO_SIGNED.format(h=_FNV_WHOLE)}
       ELSE list_min(list_transform(range(1, length(text)-6),
                     i -> {_TO_SIGNED.format(h=_FNV_WIN)}))
  END AS rfp
FROM documents WHERE doc_id < 200 ORDER BY doc_id
"""


QUERIES_EXT = {
    "corpus_stats": q_corpus_stats,
    "curate_corpus": q_curate_corpus,
    "curation_pipeline": q_curation_pipeline,
    "incremental_curate": q_incremental_curate,
    "contamination_report": q_contamination_report,
    "near_dup_clusters": q_near_dup_clusters,
    "stratified_sample": q_stratified_sample,
    "token_budget_sample": q_token_budget_sample,
    "decontaminate": q_decontaminate,
    "dedup_rows": q_dedup_rows,
    "pack_sequences": q_pack_sequences,
    "redact_text": q_redact_text,
    "rolling_fingerprint": q_rolling_fingerprint,
    "token_stats": q_token_stats,
    "vocab_topk": q_vocab_topk,
    "quality_scores": q_quality_scores,
    "repetition_stats": q_repetition_stats,
    "segment_dedup": q_segment_dedup,
    "segment_topk": q_segment_topk,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "minhash_lsh_capped": q_minhash_lsh_capped,
    "multimodal_frames": q_multimodal_frames,
    "near_dup_pairs": q_near_dup_pairs,
    "simhash": q_simhash,
    "cosine_topk": q_cosine_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "salted_group_counts": q_salted_group_counts,
    "multimodal_features": q_multimodal_features,
}

ORACLES_EXT = {
    "corpus_stats": SQL_CORPUS_STATS,
    "curate_corpus": SQL_CURATE_CORPUS,
    "curation_pipeline": SQL_CURATION_PIPELINE,
    "incremental_curate": SQL_INCREMENTAL_CURATE,
    "contamination_report": SQL_CONTAMINATION_REPORT,
    "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_rows": SQL_DEDUP_ROWS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "redact_text": SQL_REDACT_TEXT,
    "rolling_fingerprint": SQL_ROLLING_FINGERPRINT,
    "token_stats": SQL_TOKEN_STATS,
    "vocab_topk": SQL_VOCAB_TOPK,
    "quality_scores": SQL_QUALITY_SCORES,
    "repetition_stats": SQL_REPETITION_STATS,
    "segment_dedup": SQL_SEGMENT_DEDUP,
    "segment_topk": SQL_SEGMENT_TOPK,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "minhash_lsh_capped": SQL_MINHASH_LSH_CAPPED,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "near_dup_pairs": SQL_NEAR_DUP_PAIRS,
    "simhash": SQL_SIMHASH,
    "cosine_topk": SQL_COSINE_TOPK,
    "ivf_ann_topk": SQL_IVF_ANN_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "salted_group_counts": SQL_SALTED_GROUP_COUNTS,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
}
