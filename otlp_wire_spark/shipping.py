"""Session portability: make queries run correctly on a SparkSession we
did NOT create (the driver's own session).

Two session-level requirements are established at query time, not session
time:
- ``spark.sql.ansi.enabled=false`` — runtime conf; the JVM FNV fold
  multiplies with intentional mod-2^64 wraparound (functions/fnv.py),
  which ANSI mode would reject as overflow.
- workers must be able to import this package for Arrow UDFs. In sessions
  built by session.get_spark, PYTHONPATH handles it; on foreign sessions
  we zip the package once and ``sc.addPyFile`` it (exactly what
  ``spark-submit --py-files`` does on a cluster).

One session-level setting cannot be established here:
``spark.sql.codegen.cache.maxEntries`` is a static conf, fixed when the
session is built. A foreign session below session.CODEGEN_CACHE_ENTRIES
gets one warning, because there the largest queries recompile and re-JIT
their generated classes on every call.
"""

from __future__ import annotations

import os
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

from otlp_wire_spark.session import CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES

_FLAG = "_otlp_wire_spark_shipped"


def ensure_session_ready(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if getattr(spark, _FLAG, False):
        return spark
    entries = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"{CODEGEN_CACHE_CONF}={entries} is below the "
            f"{CODEGEN_CACHE_ENTRIES} that session.get_spark sets: the "
            "curation queries will recompile their generated classes on "
            "every call. It is a static conf; set it when building the "
            "session.",
            stacklevel=2,
        )
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"otlp_wire_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "otlp_wire_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already registered on this context
        pass
    setattr(spark, _FLAG, True)
    return spark
