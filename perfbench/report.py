#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    python3 perfbench/report.py spread --workloads load_cycle,query_scan --seeds 1-10
    python3 perfbench/report.py layers --workloads load_cycle,query_iterative,query_scan --seed 1

`spread` runs each workload once per seed, untraced, and prints for every
end-to-end metric the median and the quartile spread (Q3 - Q1) / median,
with Q1 and Q3 as `statistics.quantiles(values, n=4)` gives them, beside
the metric's bound in BENCHMARK.json.

`layers` runs each workload once untraced and once traced with the same
seed and prints the per-layer table, the load cycle's split by pass kind,
and `trace_overhead` = traced wall_s / untraced wall_s - 1.

Both read the full records the runs leave in perfbench/out/.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HOME = Path(__file__).resolve().parent
REPO = HOME.parent


def run(workload, seed, trace, seconds):
    cmd = [sys.executable, str(HOME / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    elapsed = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"{workload} seed {seed} trace {trace} exited {r.returncode}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    record = json.loads((HOME / "out" /
                         f"{workload}-seed{seed}-trace{trace}.json").read_text())
    record["elapsed_s"] = elapsed
    return result, record


def e2e(record):
    return {m["name"]: m["value"] for m in record["end_to_end"]}


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(args, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads.split(","):
        values = {}
        for s in seeds(args.seeds):
            result, record = run(w, s, 0, bench["run_seconds"])
            if not result["correct"]:
                print(f"{w} seed {s}: INCORRECT ({result['failed']} failed)")
            for k, v in e2e(record).items():
                values.setdefault(k, []).append(v)
            print(f"{w} seed {s} ({record['elapsed_s']:.0f} s): " + " ".join(
                f"{k}={v:.4g}" for k, v in e2e(record).items()), flush=True)
        print(f"== {w} ({len(seeds(args.seeds))} runs)")
        for k, vs in values.items():
            med = statistics.median(vs)
            if len(vs) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                sp = (q3 - q1) / med
            else:
                sp = float("nan")
            b = bounds.get(k)
            flag = "" if b is None else (
                "  ok" if sp < b / 3 else "  WIDE" if sp > b else "  > bound/3")
            print(f"  {k:<20} median {med:12.4f}  spread {sp:7.2%}"
                  + ("" if b is None else f"  bound {b:.2f}") + flag)


def layers(args, bench):
    for w in args.workloads.split(","):
        _, plain = run(w, args.seed, 0, bench["run_seconds"])
        _, traced = run(w, args.seed, 1, bench["run_seconds"])
        wall0, wall1 = e2e(plain)["wall_s"], e2e(traced)["wall_s"]
        print(f"== {w} seed {args.seed}: wall_s untraced {wall0:.3f} s, "
              f"traced {wall1:.3f} s, trace_overhead {wall1 / wall0 - 1:+.3f}")
        for m in traced["per_layer"]:
            if m["value"]:
                print(f"  {m['name']:<28} {m['value']:14.4f} {m['unit']}")
        for kind in traced["per_layer_by_pass_kind"]:
            print(f"  -- {kind['kind']} pass")
            for m in kind["metrics"]:
                if m["value"] or m["name"] in ("runner.loaded", "catalog.bytes_written"):
                    print(f"    {m['name']:<26} {m['value']:14.4f} {m['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "layers"])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    (spread if args.mode == "spread" else layers)(args, bench)


if __name__ == "__main__":
    main()
