"""The benchmark's workloads: what one call is, how its output is checked,
and which layer calls the traced run times.

Every workload calls only the program's public entry points. A ``Layer`` is
one step of the traced run: ``fn`` materializes the layer's output (a
``noop`` write unless the layer commits data itself) and returns
``(rows_out, extras)``. ``whole`` layers recompute every earlier layer from
the input; the others start from the last ``barrier`` layer, whose output
was committed or persisted, exactly as the pipeline itself does. The
``public`` layers make the workload's own call and leave its output summary
in ``state["summary"]``, where it is checked like an untimed call's.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import inputs
import oracles

NUM_SHARDS = 8
# the fields the fused pipeline parses (pipeline._run_pipeline_fused)
FUSED_FIELDS = ["severity", "severity_text", "record_count"]


@dataclass
class Layer:
    name: str
    fn: Callable[[], tuple[int, dict]]
    whole: bool = False
    barrier: bool = False
    public: bool = False  # part of the workload's own (untraced) call


@dataclass
class CallResult:
    docs: int  # input docs this call processed
    summary: dict = field(default_factory=dict)


def noop_rows(df: DataFrame) -> int:
    """Materialize ``df`` without writing it; returns its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024 * 1024)


# ------------------------------------------------------------------ routing

class RouteWorkload:
    """Seeded page window -> ``run_pipeline`` (fused or staged)."""

    def __init__(self, spark, work: str, seed: int, n_pages: int, staged: bool):
        self.spark = spark
        self.work = work
        self.n = n_pages
        self.base = inputs.page_window(seed, n_pages)
        self.staged = staged
        self.src = os.path.join(work, "pages")
        self.lookup_src = os.path.join(work, "lookup")
        self._runs = 0
        self.input_meta = {"first_page_id": self.base, "pages": n_pages}

    def write_input(self) -> None:
        from otlp_wire_spark.fixtures.pages import generate_lookup

        inputs.write_pages(
            self.spark, self.src, self.base, self.n,
            self.spark.sparkContext.defaultParallelism * 2,
        )
        # the dimension table is read from storage like the pages: built from
        # a Python list, every call would re-ship it through Python workers
        generate_lookup(self.spark).write.mode("overwrite").parquet(self.lookup_src)
        self.lookup = self.spark.read.parquet(self.lookup_src)

    def pages(self) -> DataFrame:
        return self.spark.read.parquet(self.src)

    def prewarm(self) -> None:
        """Nothing: a cold call on a smaller window did not shorten warm-up."""

    def _run_dir(self) -> str:
        self._runs += 1
        return os.path.join(self.work, "runs", f"r{self._runs}")

    def _pipeline(self):
        from otlp_wire_spark.pipeline import run_pipeline

        run_dir = self._run_dir()  # fresh per call: nothing may resume
        res = run_pipeline(
            self.spark, self.pages(), self.lookup, run_dir,
            num_shards=NUM_SHARDS, fingerprint=os.path.basename(run_dir),
            persist_stages=self.staged,
        )
        return run_dir, res

    def _readback(self, run_dir: str) -> dict:
        from otlp_wire_spark.operators.classify import band_histogram, context_stats

        sink = self.spark.read.parquet(os.path.join(run_dir, "routed", "data"))
        bands = [0] * 6
        for r in band_histogram(sink, severity_col="parsed.severity").collect():
            bands[int(r["band"])] = int(r["n"])
        ctx = context_stats(sink).collect()[0]
        return {"band_counts": bands, "context_count": int(ctx["context_count"]),
                "context_bytes": int(ctx["context_bytes"])}

    @staticmethod
    def _summary(run_dir: str, res) -> dict:
        return {
            "per_shard": res.per_shard, "quarantined": res.quarantined,
            "band_counts": res.band_counts, "context_count": res.context_count,
            "context_bytes": res.context_bytes, "total_pages": res.total_pages,
            "stages_skipped": res.stages_skipped, "run_dir": run_dir,
        }

    def call(self) -> CallResult:
        summary = self._summary(*self._pipeline())
        if self.staged:
            summary["readback"] = self._readback(summary["run_dir"])
        return CallResult(self.n, summary)

    def after_call(self, result: CallResult) -> None:
        shutil.rmtree(result.summary["run_dir"], ignore_errors=True)

    # -- checks ------------------------------------------------------------

    def expected(self) -> dict:
        return oracles.route_oracle(self.base, self.n, NUM_SHARDS)

    def check(self, s: dict, want: dict, first: dict) -> str | None:
        """None when the call's output equals the oracle, else why not."""
        if s["stages_skipped"]:
            return f"resumed stages {s['stages_skipped']}: nothing was measured"
        got_shards = {int(k): v for k, v in s["per_shard"].items()}
        if got_shards != want["per_shard"]:
            return "per-shard counters differ from the oracle"
        for key in ("quarantined", "band_counts", "context_count",
                    "context_bytes", "total_pages"):
            if s[key] != want[key]:
                return f"{key}: got {s[key]}, oracle {want[key]}"
        if self.staged:
            rb = s["readback"]
            for key in ("band_counts", "context_count", "context_bytes"):
                if rb[key] != want[key]:
                    return f"sink read-back {key}: got {rb[key]}, oracle {want[key]}"
        return None

    # -- traced layers -----------------------------------------------------

    def layers(self, state: dict) -> list[Layer]:
        from otlp_wire_spark.operators.counting import quarantine_split
        from otlp_wire_spark.operators.enrich import enrich, with_url_host
        from otlp_wire_spark.operators.parse import parse_pages
        from otlp_wire_spark.operators.route import route

        fields = None if self.staged else FUSED_FIELDS

        def parsed() -> DataFrame:
            return parse_pages(self.pages(), fields=fields)

        def counting():
            # the quarantine count rides the materialization of the clean
            # side, so this prefix is the parse prefix plus the split
            obs = Observation()
            err = F.col("parsed.parse_error")
            clean, _ = quarantine_split(parsed().observe(
                obs, F.sum(err.isNotNull().cast("int")).alias("q")))
            rows = noop_rows(clean)
            return rows, {"quarantine_frac": int(obs.get["q"] or 0) / self.n}

        def routed(df: DataFrame) -> DataFrame:
            return route(df, route_key_col="url", num_shards=NUM_SHARDS)

        def public_call():
            run_dir, res = self._pipeline()
            state["summary"] = self._summary(run_dir, res)
            rows = [v["page_count"] for v in res.per_shard.values()]
            return sum(rows) + res.quarantined, {
                "shard_rows_max_over_mean": max(rows) / (sum(rows) / len(rows)),
                "sink_mb": _dir_mb(os.path.join(run_dir, "routed", "data")),
            }

        scan = Layer("pages.scan", lambda: (noop_rows(self.pages()), {}), whole=True)
        parse = Layer("parse", lambda: (noop_rows(parsed()), {}), whole=True)
        count = Layer("counting", counting, whole=True)
        sink = Layer("route.sink", public_call, whole=True, public=True)
        if not self.staged:
            return [
                scan, parse, count,
                Layer("enrich", lambda: (noop_rows(
                    enrich(with_url_host(parsed()), self.lookup)), {}), whole=True),
                Layer("route", lambda: (noop_rows(routed(
                    enrich(with_url_host(parsed()), self.lookup))), {}), whole=True),
                sink,
            ]

        stage_dir = os.path.join(self.work, "stage")

        def stage_write():
            # the staged pipeline's parse stage: both sides committed
            clean, quarantined = quarantine_split(parsed())
            quarantined.write.mode("overwrite").parquet(os.path.join(stage_dir, "q"))
            obs = Observation()
            clean.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite").parquet(os.path.join(stage_dir, "clean"))
            return int(obs.get["n"]), {}

        def clean_read() -> DataFrame:
            return self.spark.read.parquet(os.path.join(stage_dir, "clean"))

        def slim_enriched() -> DataFrame:
            # the staged pipeline slims the payload before the route shuffle
            e = enrich(with_url_host(clean_read()), self.lookup)
            return e.withColumn("parsed", F.struct(*[
                F.col(f"parsed.{c}").alias(c)
                for c in ("severity", "severity_text", "record_count", "parse_error")
            ]))

        def readback():
            rb = self._readback(state["summary"]["run_dir"])
            state["summary"]["readback"] = rb
            return sum(rb["band_counts"]), {}

        return [
            scan, parse, count,
            Layer("pipeline.stage_write", stage_write, whole=True, barrier=True),
            Layer("pipeline.stage_read", lambda: (noop_rows(clean_read()), {})),
            Layer("enrich", lambda: (noop_rows(
                enrich(with_url_host(clean_read()), self.lookup)), {})),
            Layer("route", lambda: (noop_rows(routed(slim_enriched())), {})),
            Layer("route.sink", public_call, whole=True, barrier=True, public=True),
            Layer("classify.readback", readback, public=True),
        ]

    def after_pass(self, state: dict) -> None:
        shutil.rmtree(os.path.join(self.work, "stage"), ignore_errors=True)
        if "summary" in state:
            shutil.rmtree(state["summary"]["run_dir"], ignore_errors=True)


# ----------------------------------------------------------------- curation

CURATE_QUERY = "curation_pipeline"


def _output_summary(df: DataFrame) -> dict:
    """Materialize the (ordered) curation output once and fold it into an
    order-independent fingerprint plus the counts the sanity checks use."""
    obs = Observation()
    cols = [F.col(c) for c in df.columns]
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*cols)), F.lit(0)).alias("hash"),
        F.coalesce(F.max("seq_id") + 1, F.lit(0)).alias("seqs"),
        F.sum(F.when(F.col("doc_tok_start") == 0, 1).otherwise(0)).alias("docs"),
        F.coalesce(F.sum("n_toks"), F.lit(0)).alias("toks"),
    ).write.format("noop").mode("overwrite").save()
    return {k: int(v or 0) for k, v in obs.get.items()}


class CurateWorkload:
    """Seeded corpus -> ``QUERIES_EXT['curation_pipeline']``."""

    # output docs / input docs outside this range means the corpus is
    # degenerate (a pure-copy corpus collapses to a handful of docs)
    KEPT_RANGE = (0.3, 0.8)

    def __init__(self, spark, work: str, seed: int, n_docs: int, check_docs: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = n_docs
        self.check_docs = check_docs
        self.dir = os.path.join(work, "corpus")
        self.check_dir = os.path.join(work, "check_corpus")
        self.check_rows: list[tuple] = []
        self.input_meta: dict = {"docs": n_docs}

    def write_input(self) -> None:
        self.input_meta["classes"] = inputs.write_corpus(self.dir, self.seed, self.n)

    def _query(self, corpus_dir: str) -> DataFrame:
        from otlp_wire_spark.queries_ext import QUERIES_EXT

        return QUERIES_EXT[CURATE_QUERY](self.spark, corpus_dir)

    def call(self) -> CallResult:
        return CallResult(self.n, _output_summary(self._query(self.dir)))

    def after_call(self, result: CallResult) -> None:
        pass

    def prewarm(self) -> None:
        """The cold first call runs on the small check corpus (same generator
        and seed); its rows are compared with the DuckDB oracle later. The
        oracle costs ~50 ms per document on 4 cores, so it cannot run on the
        timed corpus inside one run: timed calls are instead checked for
        output identical to the first full-size call."""
        inputs.write_corpus(self.check_dir, self.seed, self.check_docs, files=2)
        self.check_rows = [tuple(r) for r in self._query(self.check_dir).collect()]

    def expected(self) -> dict:
        want = oracles.curation_oracle(self.check_dir)
        return {"oracle_ok": self.check_rows == want, "oracle_rows": len(want)}

    def check(self, s: dict, want: dict, first: dict) -> str | None:
        if not want["oracle_ok"]:
            return "check corpus differs from the DuckDB oracle"
        if s != first:
            return f"output {s} differs from the first call's {first}"
        lo, hi = self.KEPT_RANGE
        if not lo <= s["docs"] / self.n <= hi:
            return f"degenerate corpus: {s['docs']} of {self.n} docs kept"
        return None

    def layers(self, state: dict) -> list[Layer]:
        from pyspark import StorageLevel

        from otlp_wire_spark.operators import dedup
        from otlp_wire_spark.operators.curate import (
            contaminated_ids, curate, redact_text,
        )

        docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))

        def kept_df() -> DataFrame:
            return curate(docs, langs=("en",), min_quality=0.3, min_tokens=3)

        def shingle():
            # persisted like the query persists them: later layers start here
            kept = kept_df().persist(StorageLevel.MEMORY_AND_DISK)
            sh = dedup.shingle_table(kept, "doc_id", "text", n=3).persist(
                StorageLevel.MEMORY_AND_DISK)
            state["cached"] = [kept, sh]
            return sh.count(), {}

        def kept2() -> DataFrame:
            kept, sh = state["cached"]
            pairs = dedup.near_dup_pairs(
                kept, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5,
                bucket_cap=10_000_000, impl="arrow", shingles=sh,
            )
            if "pairs_obs" not in state:  # first use: the lsh_verify layer
                state["pairs_obs"] = Observation()
                pairs = pairs.observe(state["pairs_obs"],
                                      F.count(F.lit(1)).alias("n"))
            drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            return kept.join(drop, "doc_id", "left_anti")


        def kept3() -> DataFrame:
            k2 = kept2()
            bench = docs.where(F.col("doc_id") % 101 == 0)
            contam = contaminated_ids(k2, bench, "doc_id", "text", n=3,
                                      corpus_shingles=state["cached"][1])
            return k2.join(contam, "doc_id", "left_anti")

        def public_call():
            s = _output_summary(self._query(self.dir))
            state["summary"] = s
            return s["rows"], {}

        return [
            Layer("curate.score", lambda: (noop_rows(kept_df()), {}), whole=True),
            Layer("dedup.shingle", shingle, whole=True, barrier=True),
            Layer("dedup.lsh_verify", lambda: (noop_rows(kept2()), {})),
            Layer("curate.decontaminate", lambda: (noop_rows(kept3()), {})),
            Layer("curate.redact", lambda: (noop_rows(kept3().select(
                "doc_id", redact_text(F.col("text")).alias("clean_text"))), {})),
            Layer("pack", public_call, whole=True, public=True),
        ]

    def after_pass(self, state: dict) -> None:
        for df in state.get("cached", []):
            df.unpersist()

    def pair_counts(self, state: dict) -> dict:
        """LSH candidates (counted here, after the pass, outside any span)
        and the verified pairs the lsh_verify layer observed."""
        from otlp_wire_spark.operators import dedup

        kept, sh = state["cached"]
        cand = dedup.minhash_lsh_candidates(
            kept, "doc_id", "text", k=16, bands=4, n=3,
            bucket_cap=10_000_000, impl="arrow", shingles=sh,
        ).count()
        verified = int(state["pairs_obs"].get["n"])
        return {"candidate_pairs": cand, "verified_pairs": verified,
                "verified_per_candidate": verified / cand if cand else 0.0}
