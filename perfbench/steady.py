"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --runs 10 --first-seed 1 --out set1.json
    python3 perfbench/steady.py --runs 10 --first-seed 101 --out set2.json
    python3 perfbench/steady.py --compare set1.json set2.json
    python3 perfbench/steady.py --runs 1 --trace --out traced.json

Run from the root of a source checkout.  A set runs `perfbench/run.py` once
per seed on every workload in BENCHMARK.json and reports, per end-to-end
metric, the median and the interquartile range as a share of the median,
which must stay within the metric's bound.  `--compare` checks that the
two sets' medians differ, in either direction, by no more than each bound.
`--trace` makes traced runs instead and reports the tracing overhead
against the measured medians of `--against`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    lines = out.stdout.splitlines()
    result = json.loads(lines[-1])
    detail = next(json.loads(x[7:]) for x in lines if x.startswith("detail "))
    return {"workload": workload, "seed": seed, "result": result,
            "warm_ops": detail["warm_ops"],
            "beyond_p90": detail["warm_tail_samples_beyond_p90"],
            "trend": detail["warm_trend_per_quarter"], "host": detail["host"],
            "quarters": detail["warm_relative_latency_by_quarter"],
            "cycles": [(c["phase"], round(c["wall_s"], 3), c["ops"], c["relative_latency"])
                       for c in detail["cycles"]],
            "ops": [(o["op"], o["phase"], o["s"]) for o in detail["ops"]],
            "pss_peak_mb": detail["pss_peak_mb"], "pss_samples_mb": detail["pss_samples_mb"],
            "wall_s": round(time.perf_counter() - t0, 1)}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def summarize(runs: list[dict], bench: dict) -> bool:
    ok = True
    for w in sorted({r["workload"] for r in runs}):
        rows = [r for r in runs if r["workload"] == w]
        print(f"\n{w}: {len(rows)} runs, warm ops {[r['warm_ops'] for r in rows]}, "
              f"beyond p90 {[r['beyond_p90'] for r in rows]}, "
              f"all correct {all(r['result']['correct'] for r in rows)}")
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rows]
            med, sp = spread(vals)
            good = sp <= m["bound"]
            ok &= good
            print(f"  {m['name']:16s} median {med:12.5f} {m['unit']:8s} "
                  f"IQR/median {sp:6.3f} (bound {m['bound']}, third {m['bound'] / 3:.3f})"
                  f" {'ok' if good else 'TOO NOISY'}")
    return ok


def compare(a: list[dict], b: list[dict], bench: dict) -> bool:
    ok = True
    for w in sorted({r["workload"] for r in a}):
        print(f"\n{w}:")
        for m in bench["end_to_end"]:
            va = [r["result"]["metrics"][m["name"]]["value"] for r in a if r["workload"] == w]
            vb = [r["result"]["metrics"][m["name"]]["value"] for r in b if r["workload"] == w]
            ma, mb = statistics.median(va), statistics.median(vb)
            d = (mb - ma) / ma
            good = abs(d) <= m["bound"]
            ok &= good
            print(f"  {m['name']:16s} {ma:12.5f} -> {mb:12.5f} moved {d:+.3f} "
                  f"(bound {m['bound']}) {'ok' if good else 'DISAGREE'}")
    return ok


def trace_overhead(traced: list[dict], measured: list[dict]) -> None:
    for w in sorted({r["workload"] for r in traced}):
        t = [r["result"]["metrics"] for r in traced if r["workload"] == w]
        m = [r["result"]["metrics"] for r in measured if r["workload"] == w]
        for tk, mk in (("trace.warm_ops_per_s", "warm_ops_per_s"),
                       ("trace.warm_op_p50_s", "warm_op_p50_s")):
            tv = statistics.median(x[tk]["value"] for x in t)
            mv = statistics.median(x[mk]["value"] for x in m)
            print(f"{w}: {mk} traced {tv:.5f} vs measured {mv:.5f} "
                  f"({(tv - mv) / mv:+.1%})")
        book = statistics.median(x["trace.bookkeeping_s"]["value"] for x in t)
        print(f"{w}: tracer bookkeeping {book:.3f} s per run")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--against", help="measured set to compare traced runs with")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = p.parse_args(argv)
    bench = spec()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        return 0 if compare(*sets, bench) else 1
    names = [w["name"] for w in bench["workloads"]]
    runs = []
    for i in range(args.runs):
        for w in names:
            runs.append(run_once(w, args.first_seed + i, bench["run_seconds"], args.trace))
            print(f"{w} seed {args.first_seed + i} done", file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    if args.trace:
        if args.against:
            with open(args.against) as f:
                trace_overhead(runs, json.load(f))
        return 0
    return 0 if summarize(runs, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
