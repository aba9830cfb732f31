"""Bounded-generation registries for internal ``persist()`` handles.

Several operators persist intermediates that have no caller-visible
lifetime (near_dup_pairs' shingle side-table, the curation pipeline's
scored survivors, the samplers' per-stratum stats, pack's prefix-sum
input). In a long-lived session (the grading gate / bench loops) those
caches would accumulate unreachable MEMORY_AND_DISK entries forever, so
each module keeps a registry list and retires old generations at the
next call. This module is the ONE implementation of that pattern — the
retirement policy (``keep``) and the session-gone error handling live
here instead of in five divergent copies.

``keep`` > 0 exists for build-all-then-execute flows: the grading driver
constructs every query DataFrame before collecting any, so a keep-0
registry would let one query's construction retire a sibling's
still-lazy cache — correctness survives (lineage recompute) but the
persist pays its materialization cost without ever amortizing. ``keep``
counts registry entries, so a query that registers several handles per
call opens one generation per call (``new_generation``) and retires whole
generations: a handle count would split a call's handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["retire_oldest", "new_generation", "persist_into"]


def retire_oldest(registry: list, keep: int = 0) -> None:
    """Unpersist and drop all but the newest ``keep`` entries (a handle or
    a generation list of handles)."""
    while len(registry) > keep:
        entry = registry.pop(0)
        for df in entry if isinstance(entry, list) else [entry]:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may be gone
                pass


def new_generation(registry: list, keep: int) -> list:
    """Retire all but the newest ``keep`` generations and open a new one;
    ``persist_into(df, <returned list>)`` registers a call's handles."""
    retire_oldest(registry, keep)
    gen: list = []
    registry.append(gen)
    return gen


def persist_into(df: DataFrame, registry: list, eager: bool = False) -> DataFrame:
    """``persist()`` MEMORY_AND_DISK and register the handle.

    ``eager=True`` materializes with one up-front ``count()`` — required
    whenever downstream stages with no mutual dependency are submitted
    concurrently: racing tasks would each compute the uncached
    partitions, silently re-running the scan the persist exists to avoid
    (tests/test_near_dup_scan.py counts evaluations).
    """
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.append(out)
    if eager:
        # stash the materialization count on the handle: callers that need
        # a row-count UPPER BOUND (e.g. broadcast-hint gates) read it back
        # instead of paying a second count() job (ADVICE r5)
        out._spark_graft_rows = out.count()
    return out
