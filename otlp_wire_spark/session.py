"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by env for the
local sandbox:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4,
  reference README.md:58-73 caller-side sharding analog).
- Arrow on (zero-copy into pandas UDFs — the reference's zero-copy
  ``[]byte`` views, docs/DESIGN.md:334-341).
- shuffle partitions sized from parallelism, not the 200 default.
- generated-class cache sized to the largest call, not the 100 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# the largest call (curation_pipeline) uses ~150 distinct generated
# classes; the rest is headroom
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "otlp-wire-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with spark-submit providing the
    master and leave sizing to ``spark.sql.adaptive``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    # Local mode: executor Python workers inherit the driver env, so export
    # the package's parent dir — otherwise UDFs that reference this package
    # fail with ModuleNotFoundError on the workers. On a real cluster the
    # equivalent is `spark-submit --py-files otlp_wire_spark.zip`.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pypath if pypath else "")
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Wrapping 64-bit arithmetic (classic pipeline posture): required
        # for the pure-JVM FNV-64a (functions/fnv.py fnv64a_expr) whose
        # multiply must wrap mod 2^64 instead of raising ARITHMETIC_OVERFLOW.
        .config("spark.sql.ansi.enabled", "false")
        # AQE: runtime partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF; fail loud, never silently fall
        # back to per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Nested-schema pruning: only read the struct fields a query selects
        # (the lazy-parse analog, SURVEY.md §4).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Generated-class cache. With fewer entries than the distinct classes
        # of one call, the LRU evicts every class before the next call needs
        # it again: each call re-runs Janino on all of them and HotSpot
        # re-JITs the fresh classes anew (curation_pipeline: ~140
        # recompiles per call at the default 100, ~0 at this size). A STATIC
        # conf: it only takes effect when the session (JVM) is first built;
        # foreign sessions get a warning from shipping.ensure_session_ready.
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        # NOTE on spark.sql.codegen.hugeMethodLimit: lowering it to the
        # JIT's 8000-bytecode DontCompileHugeMethods limit was measured
        # 3× FASTER on the fused generate→parse mega-stage (whose single
        # generated method the JIT refuses to compile) but 2-5× SLOWER on
        # the HOF-heavy dedup/verify stages (the whole-stage fallback
        # loses operator fusion there). Net loss — left at default; the
        # mega-stage is split surgically instead (parse._pushdown_barrier
        # breaks gen and parse into two JIT-compilable codegen stages).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Commit the whole heap at startup: growing it lazily under a
        # 32-thread allocation storm serializes in the kernel (95% sys time
        # zeroing pages) and wrecks the first heavy job.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def iceberg_conf(
    warehouse: str, catalog: str = "wire", jar_package: str | None = None
) -> dict[str, str]:
    """The exact session conf for the Iceberg sink path (`fmt='iceberg'` in
    route.write_sharded / cli --sink-format): a hadoop-type catalog over the
    given warehouse path. Pass the result as ``extra_conf`` to get_spark.

    This sandbox ships no Iceberg runtime jar, so tests skip unless one is
    present (tests/test_iceberg.py probes via ``has_iceberg``); on a real
    cluster add e.g.
    ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>``
    (or set ``jar_package`` here) and the same conf gives per-shard sinks
    with atomic snapshot commits — exactly-once under task retries, the
    stronger version of the parquet committer's job-level atomicity.
    """
    conf = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    if jar_package:
        conf["spark.jars.packages"] = jar_package
    return conf


def has_iceberg() -> bool:
    """True iff an Iceberg Spark runtime jar is on the local classpath."""
    import glob

    import pyspark

    jar_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    extra = os.environ.get("SPARK_GRAFT_ICEBERG_JARS", "")
    return bool(
        glob.glob(os.path.join(jar_dir, "*iceberg-spark-runtime*"))
        or (extra and glob.glob(extra))
    )
