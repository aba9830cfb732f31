#!/usr/bin/env python3
"""Benchmark of the routed-pages pipeline and the curation query.

    python3 perfbench/run.py --workload route_staged --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the repository root. Each workload runs in its own Spark session
(``local[K]``, K per workload in ``CORES``) in one process, as a closed loop
with one caller: a call starts when the previous one has returned. Timing
starts after the warm-up calls (``WARMUP_CALLS``). Every call's output is
checked. No process the run started outlives it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant and prints the per-layer metrics (see ``perfbench/README.md``). The
last stdout line is one JSON object: correct, attempted, failed, metrics.
Run records and spans are written to ``.perfbench_out/`` and scratch data to
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NCPU = min(4, os.cpu_count() or 1)
# Task slots (local[K]) per workload. The route workloads run on the JVM
# alone. Every curate_corpus task pairs a JVM thread with a Python worker, so
# at K = NCPU twice as many threads as cores were runnable: per-call CPU rose
# by ~40 % and the run-to-run spread doubled against K = NCPU / 2.
CORES = {"route_fused": NCPU, "route_staged": NCPU,
         "curate_corpus": max(1, NCPU // 2)}
DRIVER_MEM = "3g"  # the host has 15 GB shared with other jobs
PAGES = 80_000  # route workloads: pages per call
DOCS = 6_000  # curate_corpus: documents per call
CHECK_DOCS = 64  # curate_corpus: documents checked against DuckDB per run
INPUT_REPEATS = 3  # input writes per run; setup_s uses their median
# Warm-up calls per workload, read off measured warm-up curves: from there
# on, per-call time stops falling (within a few %). A fixed count keeps every
# run at the same point of the JIT's curve; stopping at the first flat pair
# made the count, and with it the timed median, differ by ~10 % between runs.
WARMUP_CALLS = {"route_fused": 5, "route_staged": 5, "curate_corpus": 2}
WARMUP_EXTRA, WARMUP_STILL_COLD = 2, 0.6  # a call 40 % faster than all before it
TRACE_REFERENCE_CALLS = 2

WORKLOADS = ["route_fused", "route_staged", "curate_corpus"]
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "docs_per_cpu_s": "docs/cpu_s",
    "peak_rss_mb": "MB",
}
# every layer of every workload; a layer a workload never calls reads 0
LAYERS = [
    "pages.scan", "parse", "counting", "enrich", "route", "route.sink",
    "pipeline.stage_write", "pipeline.stage_read", "classify.readback",
    "curate.score", "dedup.shingle", "dedup.lsh_verify",
    "curate.decontaminate", "curate.redact", "pack",
]
LAYER_FIELDS = {
    "self_s": "s", "cpu_s": "s", "rows_out": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}
STAGE_FIELDS = ("shuffle_write_mb", "spill_mb", "gc_s")
LAYER_EXTRAS = {
    "counting.quarantine_frac": "ratio",
    "route.shard_rows_max_over_mean": "ratio",
    "route.sink_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.jvm_cpu_s": "s",
    "spark.pyworker_cpu_s": "s",
    "trace.call_s": "s",
    "trace.traced_call_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.pass_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(LAYER_EXTRAS)
    return units


def process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def import_program():
    """Import the package from this checkout (and nowhere else)."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import otlp_wire_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program from {ROOT}: {e}")
    if not os.path.abspath(otlp_wire_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: otlp_wire_spark was imported from outside {ROOT}")


def start_session(work: str, cores: int):
    from otlp_wire_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # shuffle files, sinks and JVM temp files all live in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, for any JVM launched
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its driver's pipe closes
            proc.wait(timeout=60)


def make_workload(name: str, spark, work: str, seed: int):
    from workloads import CurateWorkload, RouteWorkload

    if name == "curate_corpus":
        return CurateWorkload(spark, work, seed, DOCS, CHECK_DOCS)
    return RouteWorkload(spark, work, seed, PAGES, staged=name == "route_staged")


class Loop:
    """Closed-loop caller: one call at a time, each timed and CPU-metered."""

    def __init__(self, wl):
        self.wl = wl
        self.calls: list[dict] = []  # every call, warm-up included
        self.summaries: list[dict | None] = []

    def one(self, phase: str) -> dict:
        from procstat import tree_cpu

        cpu0 = tree_cpu()["total"]
        t0 = time.perf_counter()
        try:
            res = self.wl.call()
            err = None
        except Exception as e:  # noqa: BLE001 -- a failed call is counted, not fatal
            res, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu()["total"] - cpu0
        rec = {"phase": phase, "wall_s": wall, "cpu_s": cpu,
               "docs": res.docs if res else 0, "error": err}
        self.calls.append(rec)
        self.summaries.append(res.summary if res else None)
        if res is not None:
            self.wl.after_call(res)
        return rec

    def warm_up(self, calls: int) -> None:
        """``calls`` calls, plus up to WARMUP_EXTRA more while the last one
        was still much faster than every call before it."""
        times = [self.one("warmup")["wall_s"] for _ in range(calls)]
        while (len(times) < calls + WARMUP_EXTRA and len(times) > 1
               and times[-1] < WARMUP_STILL_COLD * min(times[:-1])):
            times.append(self.one("warmup")["wall_s"])

    def timed(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while True:
            self.one("timed")
            if time.perf_counter() >= deadline:
                break


def traced_passes(wl, spark, seconds: float, spans_path: str) -> tuple[dict, list]:
    """Traced run: per-layer self time as differences of cumulative layer
    prefixes, each materialized on its own. Returns (per-layer metrics as
    medians over passes, per-pass public-call summaries)."""
    from tracing import Tracer

    tracer = Tracer(spark)
    passes: list[dict[str, float]] = []
    summaries = []
    deadline = time.perf_counter() + seconds
    call_id = 0
    while not passes or time.perf_counter() < deadline:
        call_id += 1
        state: dict = {}
        out: dict[str, float] = {}
        base = prev = None
        keys = ("wall_s", "cpu_s", *STAGE_FIELDS)
        t_pass = time.perf_counter()
        wall0 = time.time()
        public = []
        for layer in wl.layers(state):
            (rows, extras), rec = tracer.span(
                layer.name, layer.fn, call_id, parent="traced_call")
            v = {k: rec.get(k, 0.0) for k in keys}
            cum = v if layer.whole or base is None else {k: base[k] + v[k] for k in keys}
            own = cum if prev is None else {k: cum[k] - prev[k] for k in keys}
            prev = cum
            if layer.barrier:
                base = cum
            out[f"{layer.name}.self_s"] = own["wall_s"]
            out[f"{layer.name}.cpu_s"] = own["cpu_s"]
            out[f"{layer.name}.rows_out"] = rows
            if "stages" in rec:
                for k in STAGE_FIELDS:
                    out[f"{layer.name}.{k}"] = own[k]
            for k, val in extras.items():
                out[f"{layer.name.split('.')[0]}.{k}"] = val
            if layer.public:
                public.append(rec)
        tracer.spans.append({
            "name": "traced_call", "parent": None, "call_id": call_id,
            "start": wall0, "end": time.time(),
        })
        out["trace.traced_call_s"] = prev["wall_s"]
        out["trace.pass_s"] = time.perf_counter() - t_pass
        out["spark.jobs"] = sum(r["jobs"] for r in public)
        out["spark.tasks"] = sum(r.get("tasks", 0) for r in public)
        out["spark.jvm_cpu_s"] = sum(r["jvm_cpu_s"] for r in public)
        out["spark.pyworker_cpu_s"] = sum(r["pyworker_cpu_s"] for r in public)
        if hasattr(wl, "pair_counts"):
            out.update({f"dedup.{k}": v for k, v in wl.pair_counts(state).items()})
        summaries.append(state["summary"])  # the public call's output
        wl.after_pass(state)
        passes.append(out)
    tracer.dump(spans_path)
    metrics = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    return metrics, summaries


def run_one(args) -> int:
    t_proc = process_start()
    import_program()
    from otlp_wire_spark.hosthealth import host_health_stamp
    from procstat import stop_descendants

    t0 = time.time()
    stamp_before = host_health_stamp()
    stamp_s = time.time() - t0

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        spark = start_session(work, CORES[args.workload])
        session_s = time.time() - t_proc - stamp_s
        wl = make_workload(args.workload, spark, work, args.seed)
        input_s = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.write_input()
            input_s.append(time.perf_counter() - t0)
        loop = Loop(wl)
        t0 = time.perf_counter()
        wl.prewarm()
        prewarm_s = time.perf_counter() - t0
        loop.warm_up(WARMUP_CALLS[args.workload])
        warmup_s = time.perf_counter() - t0
        setup_wall_s = time.time() - t_proc - stamp_s

        from procstat import RssSampler

        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with RssSampler() as rss:
            if args.trace:
                for _ in range(TRACE_REFERENCE_CALLS):
                    loop.one("reference")
                layer_metrics, traced_summaries = traced_passes(
                    wl, spark, args.seconds,
                    os.path.join(out_dir, f"spans-{tag}.json"))
            else:
                loop.timed(args.seconds)

        # -- checks, outside any timing -------------------------------------
        want = wl.expected()
        first = next((s for s in loop.summaries if s is not None), None)
        checked = list(zip(loop.calls, loop.summaries))
        if args.trace:
            checked += [({"phase": "traced", "error": None}, s)
                        for s in traced_summaries]
        for rec, s in checked:
            if rec["error"] is None:
                rec["error"] = wl.check(s, want, first)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            stop_descendants()  # anything a failed stop left running
            shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    health = host_health_stamp(before=stamp_before)  # metadata only
    stamp_s += time.time() - t0

    attempted = [r for r, _ in checked if r["phase"] != "warmup"]
    failed = sum(1 for r in attempted if r["error"])
    warm_failed = sum(1 for r, _ in checked if r["phase"] == "warmup" and r["error"])
    timed = [r for r in loop.calls if r["phase"] in ("timed", "reference")]
    setup_s = session_s + statistics.median(input_s) + warmup_s
    if args.trace:
        units = per_layer_units()
        call_s = statistics.median(r["wall_s"] for r in timed)
        layer_metrics["trace.call_s"] = call_s
        layer_metrics["trace.overhead_frac"] = (
            layer_metrics["trace.traced_call_s"] / call_s - 1.0)
        values = {k: layer_metrics.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        ok = [r for r in timed if not r["error"]] or timed
        values = {
            "setup_s": setup_s,
            "docs_per_s": statistics.median(r["docs"] / r["wall_s"] for r in ok),
            "docs_per_cpu_s": sum(r["docs"] for r in ok) / sum(r["cpu_s"] for r in ok),
            "peak_rss_mb": rss.peak_mb,
        }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": CORES[args.workload], "driver_mem": DRIVER_MEM,
        "input": wl.input_meta, "oracle": want if args.workload == "curate_corpus" else None,
        "setup": {"setup_s": setup_s, "session_s": session_s, "input_s": input_s,
                  "prewarm_s": prewarm_s, "warmup_s": warmup_s,
                  "setup_wall_s": setup_wall_s, "stamp_s": stamp_s,
                  "wall_s": time.time() - t_proc},
        "calls": loop.calls, "metrics": values,
        "host_health": health,
    }
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    n = len(attempted)
    print(f"{args.workload}: {n} calls measured, {warm_failed + failed} failed "
          f"(error_rate {failed / n:.4f}); warm-up calls "
          f"{sum(1 for r in loop.calls if r['phase'] == 'warmup')}; "
          f"host_ok {health['host_ok']}")
    for r in loop.calls + [r for r, _ in checked if r["phase"] == "traced"]:
        if r["error"]:
            print(f"  {r['phase']} call failed: {r['error']}")
    for k, v in values.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in its own process (own Spark session), one table."""
    results = {}
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: failed with exit code {p.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        results[w] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    from procstat import become_subreaper, stop_descendants

    become_subreaper()
    # a SIGTERM unwinds like an error, so every process still gets stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
