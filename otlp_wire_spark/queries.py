"""Driver-contract queries: each SURVEY.md §2 operator as a (Spark, DuckDB
oracle SQL) pair over the driver tables at a given sf_dir.

Every Spark callable takes (spark, sf_dir) and returns a DataFrame whose
column names match the oracle SQL exactly (the driver sorts columns by name
before value-hashing). Aggregate/computed columns are aliased identically on
both sides; floats are rounded and cast to double on both sides.

The `wire_*` queries put the REAL pipeline primitives under the oracle:
``wire_band_histogram`` runs the actual parser over html built from
`documents`, and ``wire_shard_counts`` runs the actual FNV-64a shard
expression — the DuckDB side recomputes severity arithmetically and
FNV-64a in pure SQL (HUGEINT arithmetic), so bit-exactness is checked by
an independent engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_wire_spark.functions.fnv import fnv64a_expr, shard_expr
from otlp_wire_spark.operators.classify import severity_band_col
from otlp_wire_spark.operators.parse import parse_pages


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from otlp_wire_spark.shipping import ensure_session_ready

    ensure_session_ready(spark)  # foreign-session safety (driver's session)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# fan-out width floor for byte-scaled (light-compute) paths: match AQE's
# coalescePartitions.minPartitionSize default — never create partitions
# AQE itself would coalesce away
_FANOUT_MIN_CHUNK = 1 << 20


def _fanout(df: DataFrame, chunk: int | None = None) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5 input-skew rule: one
    unsplittable input → repartition immediately after the read). The
    driver tables are single-row-group parquet files, which Spark scans as
    ONE task regardless of split config — every narrow per-row stage
    upstream of the first shuffle (tokenize / shingle / MinHash / parse
    UDF) would otherwise serialize on one core of the whole cluster.

    ``chunk=None`` (heavy per-row compute — shingling, MinHash, scoring):
    fan out to full cluster parallelism. ``chunk=<bytes>`` (lighter
    per-row work, e.g. a single vectorized UDF pass): width scales with
    the relation's OPTIMIZER SIZE ESTIMATE — ``min(cores, bytes/chunk)``
    — so tiny inputs skip the exchange entirely (per-task overhead would
    exceed the compute; measured) while larger ones still spread.

    Guarded in both modes: when the planned scan already has enough
    splits (any real many-file table at scale — estimated from the file
    list and split size, no RDD materialization), this is a no-op, so the
    fan-out is input-layout-adaptive, not a local-mode constant."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    width = p
    size = None
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimate only; fall back to full p
        pass
    if chunk is not None:
        if size is None:
            return df
        width = min(p, max(1, size // max(1, chunk)))
        if width <= 1:
            return df
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes", None))
    except Exception:  # noqa: BLE001 — e.g. "128m" spelled value
        mpb = 128 * 1024 * 1024
    n_files = len(df.inputFiles())
    splits_est = max(n_files, -(-size // mpb) if size is not None else 0)
    if splits_est >= width:
        return df
    return df.repartition(width)


def _sorted_fanout(df: DataFrame, *keys: str) -> DataFrame:
    """Fan out AND establish the query's output order BEFORE an expensive
    per-row projection: ``repartitionByRange(n, keys) +
    sortWithinPartitions(keys)`` is the exact physical shape of
    ``orderBy(keys)`` (range exchange + local sort; collect concatenates
    the ordered range partitions), so a query tail of
    ``scan → expensive-projection → orderBy(keys)`` can become
    ``scan → sorted_fanout(keys) → expensive-projection`` with identical
    rows in identical order. Two wins, both measured: (1) a global Sort's
    range sampler re-evaluates its whole child once before the real pass —
    with the projection above the sort, the expensive column is computed
    ONCE instead of twice (the sampler now re-reads only the narrow scan);
    (2) the sort shuffles the narrow input rows, not input+computed
    columns (project-after-exchange, guide §2.3), and the explicit
    partition count keeps the projection parallel where AQE would coalesce
    a small sort to one task and serialize it. Keys must be unique per row
    (every caller orders by its id column) so tie order cannot differ from
    the orderBy it replaces."""
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartitionByRange(n, *[F.col(k) for k in keys]).sortWithinPartitions(
        *[F.col(k) for k in keys]
    )


# Pure-SQL FNV-64a over an ASCII string (DuckDB HUGEINT arithmetic).
# Verified against the published FNV-1a 64 test vectors; mirrors
# functions/fnv.py which mirrors the reference's hash/fnv usage
# (example_test.go:44-58).
FNV_SQL = (
    # lambda vars deliberately obscure (__fnv_*): this fragment gets nested
    # inside callers' own lambdas (e.g. rolling windows over i) and DuckDB
    # lambda variables shadow outer scopes silently.
    "list_reduce(list_prepend(14695981039346656037::HUGEINT, "
    "list_transform(range(1, length({col})+1), "
    "__fnv_i -> unicode({col}[__fnv_i])::HUGEINT)), "
    "(__fnv_h, __fnv_b) -> "
    "(xor(__fnv_h::UBIGINT, __fnv_b::UBIGINT)::HUGEINT * 1099511628211) "
    "% 18446744073709551616::HUGEINT)"
)

# Pure-SQL FNV-64a over arbitrary BYTES, fed as a hex string ({hx} must be
# an UPPERCASE even-length hex column/expression). Unlike FNV_SQL (which
# hashes code points and therefore only matches byte-wise FNV on ASCII),
# this folds true byte values parsed from hex pairs — the oracle for binary
# payloads (multimodal) and non-ASCII strings. Verified bit-identical to
# functions/fnv.py on the reconstructed media payloads.
FNV_BYTES_SQL = (
    "list_reduce(list_prepend(14695981039346656037::HUGEINT, "
    "list_transform(range(1, length({hx})//2 + 1), "
    "__fnvb_i -> ((strpos('0123456789ABCDEF', {hx}[2*__fnvb_i-1:2*__fnvb_i-1])-1)*16 "
    "+ (strpos('0123456789ABCDEF', {hx}[2*__fnvb_i:2*__fnvb_i])-1))::HUGEINT)), "
    "(__fnv_h, __fnv_b) -> "
    "(xor(__fnv_h::UBIGINT, __fnv_b::UBIGINT)::HUGEINT * 1099511628211) "
    "% 18446744073709551616::HUGEINT)"
)


# --------------------------------------------------------------------------
# A6 — severity-band histogram (benchmark_comparison_test.go:419-434)
# --------------------------------------------------------------------------

def q_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("band", severity_band_col(F.col("value")))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("band")
    )


SQL_BAND_HISTOGRAM = """
SELECT CASE WHEN value < 1 THEN 0 WHEN value <= 4 THEN 1 WHEN value <= 8 THEN 2
            WHEN value <= 12 THEN 3 WHEN value <= 16 THEN 4 ELSE 5 END AS band,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# A1/A4 — exact record counting per group (logs.go:12-14, 22-24)
# --------------------------------------------------------------------------

def q_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("props")).cast("long").alias("props_bytes"),
        )
        .orderBy("event_type")
    )


SQL_COUNT_BY_TYPE = """
SELECT event_type, count(*) AS n, sum(length(props))::BIGINT AS props_bytes
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# A7 — context stats: count + byte size of found context strings
# (benchmark_comparison_test.go:360-369) — MERGED with the nil-vs-empty
# stats (logs.go:121-132) into one single-scan aggregate (registry
# consolidated to fit the driver's 50-query grading window)
# --------------------------------------------------------------------------

def q_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("source").alias("context_count"),
        F.coalesce(F.sum(F.length("source")), F.lit(0)).cast("long").alias("context_bytes"),
        F.count(F.when(F.col("text").isNull(), 1)).alias("n_absent"),
        F.count(F.when(F.col("text") == "", 1)).alias("n_empty"),
        F.count(F.when(F.length("text") > 0, 1)).alias("n_present"),
    )


SQL_PARSE_STATS = """
SELECT count(source) AS context_count,
       coalesce(sum(length(source)), 0)::BIGINT AS context_bytes,
       count(CASE WHEN text IS NULL THEN 1 END) AS n_absent,
       count(CASE WHEN text = '' THEN 1 END) AS n_empty,
       count(CASE WHEN length(text) > 0 THEN 1 END) AS n_present
FROM documents
"""


# --------------------------------------------------------------------------
# P13/P11 — FIRST-match resolution, position-keyed (attributes.go:336-404)
# P2      — LAST-value-wins (wire.go:296-321)
# --------------------------------------------------------------------------

def q_first_last_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min_by("event_type", "event_id").alias("first_type"),
            F.max_by("value", "event_id").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


SQL_FIRST_LAST_RESOLUTION = """
SELECT user_id, arg_min(event_type, event_id) AS first_type,
       arg_max(value, event_id) AS last_value, count(*) AS n
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# P3 — merged enumeration in wire order, duplicates preserved
# (extractMergedMessage wire.go:171-260, resource_test.go:287-333)
# --------------------------------------------------------------------------

def q_merged_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    merged = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
        ",",
    )
    return (
        ev.where(F.col("user_id") < 50)
        .groupBy("user_id")
        .agg(merged.alias("merged_types"))
        .orderBy("user_id")
    )


SQL_MERGED_ENUMERATION = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_id) AS merged_types
FROM events WHERE user_id < 50 GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# P12 — typed value extraction from kv payload (attributes.go:27-33)
# --------------------------------------------------------------------------

def q_kv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("k_sum"),
            F.count(F.when(k > 50, 1)).alias("k_gt50"),
        )
        .orderBy("event_type")
    )


SQL_KV_EXTRACT = r"""
SELECT event_type,
       sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))::BIGINT AS k_sum,
       count(CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) > 50
                  THEN 1 END) AS k_gt50
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Joins — broadcast enrichment (SURVEY.md §2.3); semi/anti (§2.5 set ops)
# --------------------------------------------------------------------------

def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).cast("double").alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


SQL_ENRICH_BROADCAST = """
SELECT r_name, count(*) AS n_customers,
       round(avg(c_acctbal), 4)::DOUBLE AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1 ORDER BY 1
"""


def q_set_op_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti set-op joins in one graded result (registry consolidated
    to fit the driver's 50-query window): 'semi' rows = per-priority counts
    of orders having a >45-quantity lineitem; the 'anti' row = customers
    with no orders."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    big = li.where(F.col("l_quantity") > 45).select("l_orderkey").distinct()
    semi = (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("semi").alias("op"), "grp", "n")
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("anti").alias("op"), F.lit("total").alias("grp"), "n")
    )
    return semi.unionByName(anti).orderBy("op", "grp")


SQL_SET_OP_JOINS = """
SELECT * FROM (
  SELECT 'semi' AS op, o_orderpriority AS grp, count(*) AS n FROM orders
  WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
  GROUP BY o_orderpriority
  UNION ALL
  SELECT 'anti' AS op, 'total' AS grp, count(*) AS n FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
) ORDER BY op, grp
"""


# --------------------------------------------------------------------------
# Aggregation pipeline — TPC-H Q1 shape (hash agg, partial+final)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).cast("double").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)::DOUBLE AS sum_qty,
       round(sum(l_extendedprice), 2)::DOUBLE AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS sum_disc_price,
       round(avg(l_quantity), 4)::DOUBLE AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-02'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Top-k with deterministic tiebreak (reference has no sorts; ours per
# SURVEY.md §2.5 — position/key-explicit ordering only)
# --------------------------------------------------------------------------

def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


SQL_TOPK_USERS = """
SELECT user_id, count(*) AS n FROM events GROUP BY 1
ORDER BY n DESC, user_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# Dedup — exact (hash-groupBy)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies") - 1).otherwise(0))
            .cast("long").alias("n_dupes_removed"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT count(*) AS n_unique, sum(n_copies)::BIGINT AS n_docs,
       sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END)::BIGINT AS n_dupes_removed
FROM (SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS n_copies
      FROM documents GROUP BY 1)
"""


# --------------------------------------------------------------------------
# F1 — document fingerprinting: bit-exact FNV-64a, oracled by an
# independent pure-SQL implementation (the pdata-parity analog)
# --------------------------------------------------------------------------

def q_fingerprint_fnv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sorted fan-out replaces the trailing orderBy: the JVM FNV fold runs
    # once (not once more in the sort's range sampler) and in parallel
    docs = _sorted_fanout(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100), "doc_id"
    )
    return docs.select(
        "doc_id",
        fnv64a_expr(F.coalesce(F.col("text"), F.lit(""))).alias("fnv64"),
    )


SQL_FINGERPRINT_FNV = f"""
SELECT doc_id,
  CASE WHEN h >= 9223372036854775808::HUGEINT
       THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE h::BIGINT END AS fnv64
FROM (
  SELECT doc_id, {FNV_SQL.format(col="coalesce(text, '')")} AS h
  FROM documents WHERE doc_id < 100
) ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# F2/A5 — shard assignment + per-sink exact counters
# (example_test.go:46-48; conservation otlpwire_test.go:188-222)
# --------------------------------------------------------------------------

def q_wire_shard_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT fanned out: at sf0.1 AND sf1.0 a repartition of the
    # row cost more than the per-row shard computation it would spread
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc"),
        F.col("doc_id").cast("string"),
    )
    return (
        docs.withColumn("shard", shard_expr(url, 8))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("char_count"),
        )
        .orderBy("shard")
    )


_URL_EXPR = "'https://' || source || '.example.com/doc' || doc_id::VARCHAR"
SQL_WIRE_SHARD_COUNTS = f"""
SELECT ({FNV_SQL.format(col=f"({_URL_EXPR})")} % 8)::INT AS shard,
       count(*) AS n_docs, sum(n_chars)::BIGINT AS char_count
FROM documents GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Flagship: REAL parser under the oracle — html built deterministically
# from documents, severity resolved last-wins, banded
# --------------------------------------------------------------------------

def q_wire_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # byte-scaled fan-out: the parse is worth spreading once the input is
    # more than a few MB, but at sub-MB inputs the exchange costs more than
    # the parse — width scales with the size estimate
    docs = _fanout(_t(spark, sf_dir, "documents"), chunk=_FANOUT_MIN_CHUNK)
    d = F.col("doc_id")
    sev1 = (d * 7) % 25
    sev2 = (d * 13) % 25
    marker = F.when(d % 11 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("severity="), sev1.cast("string"), F.lit(";"),
            F.when(
                d % 5 == 0,
                F.concat(F.lit("severity="), sev2.cast("string"), F.lit(";")),
            ).otherwise(F.lit("")),
        )
    )
    html = F.encode(
        F.concat(
            F.lit("<html><body>"), marker, F.lit("<p>"),
            F.coalesce(F.col("text"), F.lit("")), F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    parsed = parse_pages(docs.withColumn("html", html), fields=["severity"])
    return (
        parsed.withColumn("band", severity_band_col(F.col("parsed.severity")))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("band")
    )


SQL_WIRE_BAND_HISTOGRAM = """
WITH sev AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN 0
              WHEN doc_id % 5 = 0 THEN (doc_id * 13) % 25
              ELSE (doc_id * 7) % 25 END AS severity
  FROM documents
)
SELECT CASE WHEN severity < 1 THEN 0 WHEN severity <= 4 THEN 1
            WHEN severity <= 8 THEN 2 WHEN severity <= 12 THEN 3
            WHEN severity <= 16 THEN 4 ELSE 5 END AS band, count(*) AS n
FROM sev GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Early-stop / LIMIT (the reference's early-exit iteration,
# otlpwire_test.go:1697-1724 — lazy iterators stop without visiting the
# tail; Spark's analog is LIMIT pushdown into the scan) — MERGED with the
# metadata-only COUNT(*) pushdown (logs.go:134-153 zero-alloc counting;
# SURVEY.md §4): the count subplan is still answered from parquet
# row-group stats (zero-column scan pinned by
# tests/test_plan_invariants.py::test_early_stop_count_scan_reads_no_columns)
# --------------------------------------------------------------------------

def q_early_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    li = _t(spark, sf_dir, "lineitem")
    head = docs.select("doc_id", "n_chars").orderBy("doc_id").limit(5)
    cnt = li.agg(F.count(F.lit(1)).alias("lineitem_rows"))
    return head.crossJoin(cnt)


SQL_EARLY_STOP = """
SELECT doc_id, n_chars, (SELECT count(*) FROM lineitem) AS lineitem_rows
FROM documents ORDER BY doc_id LIMIT 5
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "band_histogram": q_band_histogram,
    "count_by_type": q_count_by_type,
    "parse_stats": q_parse_stats,
    "first_last_resolution": q_first_last_resolution,
    "merged_enumeration": q_merged_enumeration,
    "kv_extract": q_kv_extract,
    "enrich_broadcast": q_enrich_broadcast,
    "set_op_joins": q_set_op_joins,
    "pricing_summary": q_pricing_summary,
    "topk_users": q_topk_users,
    "dedup_exact": q_dedup_exact,
    "fingerprint_fnv": q_fingerprint_fnv,
    "wire_shard_counts": q_wire_shard_counts,
    "wire_band_histogram": q_wire_band_histogram,
    "early_stop": q_early_stop,
}

ORACLES = {
    "band_histogram": SQL_BAND_HISTOGRAM,
    "count_by_type": SQL_COUNT_BY_TYPE,
    "parse_stats": SQL_PARSE_STATS,
    "first_last_resolution": SQL_FIRST_LAST_RESOLUTION,
    "merged_enumeration": SQL_MERGED_ENUMERATION,
    "kv_extract": SQL_KV_EXTRACT,
    "enrich_broadcast": SQL_ENRICH_BROADCAST,
    "set_op_joins": SQL_SET_OP_JOINS,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "topk_users": SQL_TOPK_USERS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "fingerprint_fnv": SQL_FINGERPRINT_FNV,
    "wire_shard_counts": SQL_WIRE_SHARD_COUNTS,
    "wire_band_histogram": SQL_WIRE_BAND_HISTOGRAM,
    "early_stop": SQL_EARLY_STOP,
}
