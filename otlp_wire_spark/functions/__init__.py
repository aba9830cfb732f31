from otlp_wire_spark.functions.fnv import (  # noqa: F401
    FNV64_OFFSET_BASIS,
    FNV64_PRIME,
    fnv64a,
    fnv64a_numpy,
    fnv64a_expr,
    shard_expr,
)
