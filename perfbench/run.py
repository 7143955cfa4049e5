"""Closed-loop benchmark of tinymr-spark: one client, one process.

    python3 perfbench/run.py --workload mr_contract --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Each run generates its inputs from
`--seed`, starts a fresh session on `local[nproc]`, runs one cold cycle of
every op of the workload, one unmeasured settling cycle of its light ops,
then whole warm cycles until at least MIN_WARM_OPS ops and `--seconds` seconds
are done, checks every op's output outside the timer, and prints one JSON
object as its last stdout line.  `--trace 1` prints the per-layer metrics
instead of the end-to-end ones.  Everything the run writes (inputs, Spark
local dirs, TMPDIR, the warehouse, lake tables) lives in a fresh directory
under `.perfbench_runs/` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("mr_contract", "query_lake")
# Right after the cold cycle both workloads run slow for a few seconds; one
# cycle of the light ops absorbs most of it (README.md gives what is left).
SETTLE_CYCLES = 1
# At least 10 samples beyond the 90th percentile.
MIN_WARM_OPS = 100
OP_MODULES = ("relational", "text", "dedup", "similarity", "events", "scale",
              "graph", "multimodal", "mrface")
MR_LAYERS = ("call_local", "call_dist", "call_combine", "call_secsort", "to_df")
LAKE_VERBS = ("write", "append", "merge", "update", "delete", "optimize",
              "read_latest", "read_asof")

E2E_UNITS = {
    "setup_s": "s", "cold_wall_s": "s", "warm_ops_per_s": "1/s",
    "warm_op_p50_s": "s", "warm_op_p90_s": "s", "ok_op_frac": "fraction",
}


def per_layer_units() -> dict:
    units = {}
    for k in ("get_session_s", "ensure_shipped_s", "first_job_s", "cpu_s", "jvm_gc_s"):
        units[f"session.{k}"] = "s"
    for k in ("footprint_mb", "driver_pss_mb", "jvm_pss_mb", "pyworkers_pss_mb",
              "jvm_heap_used_mb"):
        units[f"session.{k}"] = "MB"
    units["session.pyworkers"] = "count"
    for k in MR_LAYERS:
        units[f"mapreduce.{k}_s"] = "s"
    units["mapreduce.items_per_s"] = "1/s"
    for k in ("jobs_per_call", "stages_per_call", "tasks_per_call", "failed_tasks"):
        units[f"mapreduce.{k}"] = "count"
    for m in [f"operators.{m}" for m in OP_MODULES] + ["functions"]:
        for k in ("construct_s", "action_s", "cold_s"):
            units[f"{m}.{k}"] = "s"
        for k in ("jobs", "stages", "tasks"):
            units[f"{m}.{k}"] = "count"
    for v in LAKE_VERBS:
        units[f"sources.minitable.{v}_s"] = "s"
    units["sources.minitable.bytes_written_mb"] = "MB"
    for k in ("files_added", "files_removed", "log_files"):
        units[f"sources.minitable.{k}"] = "count"
    for k in ("run_s", "trigger_s", "add_batch_s", "planning_s", "wal_commit_s",
              "startstop_s"):
        units[f"streaming.{k}"] = "s"
    units["streaming.batches"] = "count"
    units["trace.warm_ops_per_s"] = "1/s"
    units["trace.warm_op_p50_s"] = "s"
    units["trace.bookkeeping_s"] = "s"
    return units


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a source checkout: the benchmark measures the
    program next to it, never an installed copy."""
    for rel in ("tinymr_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a source checkout")


def isolate(workload: str, seed: int) -> str:
    """Fresh per-run TMPDIR, Spark local dirs and working directory, so no
    marker, standing index or staged file from an earlier run can turn a
    cold cycle warm."""
    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    for sub in ("tmp", "local", "work", "data", "lake"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # The JVM puts its own temp dirs (Spark's per-session artifact and
    # scratch dirs) under java.io.tmpdir, not TMPDIR, and its perf-data
    # file under /tmp whatever is set.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if x
    )
    cpus = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = None
    os.chdir(os.path.join(run_dir, "work"))
    return run_dir


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process the run
    started (the JVM and the Python workers it forked) to end."""
    from pyspark import SparkContext

    import probes

    tree = [p for p in probes.process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def p90(values) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def relative_latency(results: list[dict]) -> tuple[dict[int, float], list[float]]:
    """Each op's latency divided by that op's median warm latency, so 1.0
    is warm speed and settling shows as more than 1.  Returns the median
    of that ratio per cycle after the cold one, and per quarter of the
    warm ops in the order they ran."""
    warm = [r for r in results if r["phase"] == "warm"]
    by_op: dict[str, list[float]] = {}
    for r in warm:
        by_op.setdefault(r["op"], []).append(r["s"])
    med = {op: statistics.median(v) for op, v in by_op.items()}
    cycles: dict[int, list[float]] = {}
    for r in results:
        if r["phase"] != "cold" and r["op"] in med:
            cycles.setdefault(r["cycle"], []).append(r["s"] / med[r["op"]])
    n = len(warm)
    quarters = [
        statistics.median(r["s"] / med[r["op"]] for r in warm[i * n // 4:(i + 1) * n // 4])
        for i in range(4)
    ]
    return {c: statistics.median(v) for c, v in cycles.items()}, quarters


def trend_per_quarter(ys: list[float]) -> float:
    """Least-squares slope per quarter, relative to the mean."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(ys)
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den / my


class StreamingProgress:
    """Micro-batch progress from a StreamingQueryListener, as (trigger start
    in epoch seconds, durationMs).  The listener bus delivers events
    asynchronously, so they are matched to ops by trigger time."""

    def __init__(self, spark):
        from datetime import datetime

        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                events.append((start.timestamp(), dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def during(self, start: float, end: float) -> list[dict]:
        return [d for t, d in self.events if start <= t <= end]


class Bench:
    def __init__(self, args, run_dir):
        self.args = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.results = []       # one dict per op execution
        self.cycles = []        # one dict per cycle
        self.spark = None
        self.layer = {}

    # -- setup -----------------------------------------------------------
    def setup(self):
        t0 = time.perf_counter()
        from tinymr_spark.session import ensure_shipped, get_session

        spark = get_session(app_name="perfbench")
        t1 = time.perf_counter()
        ensure_shipped(spark)
        t2 = time.perf_counter()
        spark.range(1).count()
        t3 = time.perf_counter()
        self.spark = spark
        self.setup_s = t3 - t0
        self.layer.update({
            "session.get_session_s": t1 - t0,
            "session.ensure_shipped_s": t2 - t1,
            "session.first_job_s": t3 - t2,
        })

    # -- ops -------------------------------------------------------------
    def build(self):
        import datagen
        import workloads as wl

        w, seed, spark = self.args.workload, self.args.seed, self.spark
        sf_dir = os.path.join(self.run_dir, "data")
        datagen.write_tables(seed, sf_dir)
        oracle = wl.Oracle(sf_dir)
        self.lake = None
        if w == "mr_contract":
            self.light, heavy = wl.mapreduce_ops(spark, seed)
            self.heavy = heavy + wl.registry_ops(spark, sf_dir, wl.MRFACE, oracle)
            self.repeat = {"cold": 1, "settle": 1, "warm": 1}
            self.heavy_per_cycle = 1
        else:
            self.light = wl.registry_ops(spark, sf_dir, wl.QUERY_LAKE_READS, oracle)
            self.heavy = wl.registry_ops(spark, sf_dir, wl.QUERY_LAKE_HEAVY, oracle)
            self.repeat = {"cold": 1, "settle": 1, "warm": 10}
            self.heavy_per_cycle = 2
            self.lake = wl.LakeCycle(spark, sf_dir, os.path.join(self.run_dir, "lake"),
                                     seed, oracle)
        oracle.close()

    @staticmethod
    def phase(c: int) -> str:
        return "cold" if c == 0 else "settle" if c <= SETTLE_CYCLES else "warm"

    def runs_lake(self, c: int) -> bool:
        """Settling cycles skip the lake sequence, like the heavy ops: they
        run once a cycle and are at warm speed from their second run."""
        return self.lake is not None and self.phase(c) != "settle"

    def cycle_ops(self, c: int):
        """The op list of cycle `c`: each light op `repeat[phase]` times
        and the cycle's heavy ops, in an order shuffled by seed and cycle,
        then the lake sequence (`runs_lake`).  The cold cycle runs every
        heavy op and the settling cycle none; a warm cycle runs the next
        `heavy_per_cycle` of them in turn, chosen by cycle index alone, so
        every seed measures the same ops."""
        import random

        k, n = self.heavy_per_cycle, len(self.heavy)
        phase = self.phase(c)
        ops = self.light * self.repeat[phase]
        if phase == "cold":
            ops += self.heavy
        elif phase == "warm":
            ops += [self.heavy[(k * c + i) % n] for i in range(k)]
        random.Random(self.args.seed * 1000 + c).shuffle(ops)
        if self.runs_lake(c):
            ops.extend(self.lake.ops(c))
        return ops

    def run_op(self, op, c: int, phase: str):
        import probes

        rec = {"cycle": c, "phase": phase, "op": op.name, "layer": op.layer}
        sc = self.spark.sparkContext
        op_id = len(self.results)
        if self.trace:
            b0 = time.perf_counter()
            sc.setJobGroup(f"perfbench-{op_id}", op.name)
            self.tracer.op_id = op_id
            rec["epoch_start"] = time.time()
            self.bookkeeping += time.perf_counter() - b0
            span = self.tracer.span
        else:
            span = contextlib.nullcontext
        t0 = time.perf_counter()
        try:
            if self.trace:
                with span("op"):
                    out = op.run(span)
            else:
                out = op.run(span)
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = bool(op.check(out))
            if not rec["ok"]:
                print(f"perfbench: {op.name} (cycle {c}) output mismatch", file=sys.stderr)
        except Exception:
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = False
            print(f"perfbench: {op.name} (cycle {c}) raised", file=sys.stderr)
            traceback.print_exc()
        if self.trace:
            b0 = time.perf_counter()
            rec.update(probes.job_counts(sc, f"perfbench-{op_id}"))
            rec["construct_s"] = self.tracer.durations(op_id, "construct")
            rec["action_s"] = self.tracer.durations(op_id, "action")
            rec["epoch_end"] = time.time()
            self.bookkeeping += time.perf_counter() - b0
        self.results.append(rec)
        self.sampler.maybe_sample()
        return rec

    def run_cycles(self):
        import probes
        import workloads as wl

        c, warm_ops, warm_s = 0, 0, 0.0
        while warm_ops < MIN_WARM_OPS or warm_s < self.args.seconds:
            phase = self.phase(c)
            t0 = time.perf_counter()
            first = len(self.results)
            for op in self.cycle_ops(c):
                self.run_op(op, c, phase)
            wall = time.perf_counter() - t0
            cyc = {"cycle": c, "phase": phase, "wall_s": wall,
                   "ops": len(self.results) - first}
            if phase == "warm":
                warm_ops += cyc["ops"]
                warm_s += wall
            if self.runs_lake(c):
                cyc.update(wl.table_stats(os.path.join(self.lake.root, f"cycle{c}")))
                if self.trace:
                    from tinymr_spark.sources import minitable

                    path = os.path.join(self.lake.root, f"cycle{c}")
                    cyc["live_files"] = len(minitable.read(self.spark, path).inputFiles())
            if self.trace:
                b0 = time.perf_counter()
                cyc.update(probes.jvm_counters(self.spark))
                self.bookkeeping += time.perf_counter() - b0
            self.cycles.append(cyc)
            c += 1

    # -- whole run -------------------------------------------------------
    def run(self):
        import probes

        host = {"loadavg_start": os.getloadavg()[0]}
        steal0 = probes.cpu_steal()
        host["calibration_s"] = probes.calibration_s()
        self.sampler = probes.TreeSampler()
        phases = {}
        try:
            self.setup()
            self.sampler.sample()
            if self.trace:
                self.tracer = probes.Tracer()
                self.stream = StreamingProgress(self.spark)
                self.bookkeeping = 0.0
                self.gc0 = probes.jvm_counters(self.spark)["gc_s"]
            t0 = time.perf_counter()
            self.build()
            phases["build_s"] = time.perf_counter() - t0
            # keep the harness's own inputs and expected results out of the
            # collector's work while the program runs
            gc.collect()
            gc.freeze()
            self.run_cycles()
            if self.trace:
                time.sleep(1.0)  # let the listener bus deliver the last progress
                self.layer["session.cpu_s"] = probes.tree_cpu_s()
                self.layer["session.jvm_gc_s"] = (
                    probes.jvm_counters(self.spark)["gc_s"] - self.gc0)
        finally:
            self.sampler.sample()
            if self.spark is not None:
                t0 = time.perf_counter()
                stop_spark(self.spark)
                phases["stop_s"] = time.perf_counter() - t0
        steal1 = probes.cpu_steal()
        host["loadavg_end"] = os.getloadavg()[0]
        host["steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        self.host = host
        self.phases = phases

    # -- metrics ---------------------------------------------------------
    def warm(self):
        return [r for r in self.results if r["phase"] == "warm"]

    def e2e(self) -> dict:
        warm = self.warm()
        lat = [r["s"] for r in warm]
        warm_wall = sum(c["wall_s"] for c in self.cycles if c["phase"] == "warm")
        ok = sum(r["ok"] for r in self.results)
        return {
            "setup_s": self.setup_s,
            "cold_wall_s": self.cycles[0]["wall_s"],
            "warm_ops_per_s": len(warm) / warm_wall,
            "warm_op_p50_s": statistics.median(lat),
            "warm_op_p90_s": p90(lat),
            "ok_op_frac": ok / len(self.results),
        }

    def per_layer(self) -> dict:
        warm = self.warm()
        cold = [r for r in self.results if r["phase"] == "cold"]
        m = {k: 0.0 for k in per_layer_units()}
        m.update(self.layer)
        s = self.sampler
        m["session.footprint_mb"] = s.peak_total
        m["session.driver_pss_mb"] = s.peak["driver"]
        m["session.jvm_pss_mb"] = s.peak["jvm"]
        m["session.pyworkers_pss_mb"] = s.peak["pyworkers"]
        m["session.pyworkers"] = s.max_workers
        m["session.jvm_heap_used_mb"] = max(c.get("heap_used_mb", 0.0) for c in self.cycles)

        def med(rows, key="s"):
            return statistics.median(r[key] for r in rows) if rows else 0.0

        def mean(rows, key):
            return statistics.fmean(r[key] for r in rows) if rows else 0.0

        import workloads as wl

        mr = [r for r in warm if r["layer"].startswith("mapreduce.")]
        for k in MR_LAYERS:
            m[f"mapreduce.{k}_s"] = med([r for r in mr if r["layer"] == f"mapreduce.{k}"])
        if mr:
            items = sum(wl.op_items(r["op"]) for r in mr)
            m["mapreduce.items_per_s"] = items / sum(r["s"] for r in mr)
            m["mapreduce.jobs_per_call"] = mean(mr, "jobs")
            m["mapreduce.stages_per_call"] = mean(mr, "stages")
            m["mapreduce.tasks_per_call"] = mean(mr, "tasks")
            m["mapreduce.failed_tasks"] = sum(r["failed_tasks"] for r in mr)
        for layer in [f"operators.{x}" for x in OP_MODULES] + ["functions"]:
            rows = [r for r in warm if r["layer"] == layer]
            m[f"{layer}.construct_s"] = med(rows, "construct_s")
            m[f"{layer}.action_s"] = med(rows, "action_s")
            m[f"{layer}.cold_s"] = sum(r["s"] for r in cold if r["layer"] == layer)
            for k in ("jobs", "stages", "tasks"):
                m[f"{layer}.{k}"] = mean(rows, k)
        for v in LAKE_VERBS:
            m[f"sources.minitable.{v}_s"] = med(
                [r for r in warm if r["layer"] == f"sources.minitable.{v}"])
        warm_cycles = [c for c in self.cycles if c["phase"] == "warm" and "files" in c]
        if warm_cycles:
            m["sources.minitable.bytes_written_mb"] = statistics.median(
                c["bytes"] / 2**20 for c in warm_cycles)
            m["sources.minitable.files_added"] = statistics.median(
                c["files"] for c in warm_cycles)
            m["sources.minitable.files_removed"] = statistics.median(
                c["files"] - c["live_files"] for c in warm_cycles)
            m["sources.minitable.log_files"] = statistics.median(
                c["log_files"] for c in warm_cycles)
        self.streaming_metrics(m, warm)
        e2e = self.e2e()
        m["trace.warm_ops_per_s"] = e2e["warm_ops_per_s"]
        m["trace.warm_op_p50_s"] = e2e["warm_op_p50_s"]
        m["trace.bookkeeping_s"] = self.bookkeeping
        return m

    def streaming_metrics(self, m, warm):
        rows = [r for r in warm if r["layer"] == "streaming"]
        if not rows:
            return
        per_op = []
        for r in rows:
            evs = self.stream.during(r["epoch_start"], r["epoch_end"])
            per_op.append({
                "batches": len(evs),
                "trigger": sum(e.get("triggerExecution", 0) for e in evs) / 1000,
                "add_batch": sum(e.get("addBatch", 0) for e in evs) / 1000,
                "planning": sum(e.get("queryPlanning", 0) for e in evs) / 1000,
                "wal_commit": sum(e.get("walCommit", 0) for e in evs) / 1000,
            })
        m["streaming.run_s"] = statistics.median(r["s"] for r in rows)
        for k in ("batches", "trigger", "add_batch", "planning", "wal_commit"):
            name = "batches" if k == "batches" else f"{k}_s"
            m[f"streaming.{name}"] = statistics.fmean(p[k] for p in per_op)
        m["streaming.startstop_s"] = statistics.fmean(
            r["s"] - p["trigger"] for r, p in zip(rows, per_op))

    def detail(self) -> dict:
        warm = self.warm()
        tail = p90([r["s"] for r in warm])
        rel, quarters = relative_latency(self.results)
        for cyc in self.cycles:
            cyc["relative_latency"] = rel.get(cyc["cycle"])
        out = {
            "workload": self.args.workload, "seed": self.args.seed,
            "host": self.host, "phases": self.phases, "cycles": self.cycles,
            "warm_ops": len(warm),
            "warm_tail_samples_beyond_p90": sum(r["s"] > tail for r in warm),
            "warm_relative_latency_by_quarter": quarters,
            "warm_trend_per_quarter": trend_per_quarter(quarters),
            "pss_peak_mb": self.sampler.peak,
            "pss_samples_mb": self.sampler.history,
            "ops": [{k: (round(v, 6) if isinstance(v, float) else v)
                     for k, v in r.items() if not k.startswith("epoch_")}
                    for r in self.results],
        }
        if self.trace:
            self_t = self.tracer.self_times()
            out["spans"] = [
                {"op": s[0], "name": s[1], "dur_s": round(s[3] - s[2], 6),
                 "self_s": round(st, 6), "parent": s[4]}
                for s, st in zip(self.tracer.spans, self_t)
            ]
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        fail("--seconds must be positive")
    check_checkout()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    run_dir = isolate(args.workload, args.seed)
    try:
        bench = Bench(args, run_dir)
        bench.run()
        if args.trace:
            metrics, units = bench.per_layer(), per_layer_units()
        else:
            metrics, units = bench.e2e(), E2E_UNITS
        detail = bench.detail()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it
    warm = detail["warm_ops"]
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.6f} {units[name]}")
    # Peak PSS at the default 48g heap varies too much between identical
    # runs to gate on (see README.md), so it is printed, not in the result.
    print(f"{'footprint_mb':40s} {bench.sampler.peak_total:14.6f} MB")
    print(f"{'warm ops':40s} {warm:14d} ({detail['warm_tail_samples_beyond_p90']} beyond p90)")
    print("detail " + json.dumps(detail))
    failed = sum(not r["ok"] for r in bench.results)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
