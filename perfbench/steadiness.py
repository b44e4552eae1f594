#!/usr/bin/env python3
"""Steadiness report: run the benchmark on several seeds and summarise.

    python3 perfbench/steadiness.py --workload bdg2_etl --seeds 1-10 --sets 2 --out report.json
    python3 perfbench/steadiness.py --workload bdg2_etl --seeds 1-3 --overhead
    python3 perfbench/steadiness.py --workload bdg2_etl --seeds 1 --trace 1 --cores 1

Run from the repository root. Each set runs ``perfbench/run.py`` once per
seed, one run at a time. For every metric the report gives each set's
median, quartiles (``statistics.quantiles(values, n=4)``) and spread
(Q3 - Q1 as a share of the median), the ratio of the last set's median to
the first's, and the bound from ``BENCHMARK.json``; then the same for the
unbounded figures of the runs' ``detail`` (phase times such as
``transform_s``), and each run's wall time and the CPU time the host
gave other guests during its timed passes (``cpu_steal_s``). With ``--trace 1`` it
reports the per-layer metrics instead; ``--cores`` sets
``SPARK_GRAFT_CPUS`` for the runs (``--cores 1`` is the single-thread
baseline). ``--overhead`` runs each seed untraced and traced and reports
the tracing overhead: traced ``trace.work_s`` minus untraced ``work_s``.
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


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int, env: dict) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, env=env, check=False,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["detail"] = json.loads(lines[-2])["detail"]
    result["wall_s"] = wall
    return result


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out", help="also write the report as JSON to this file")
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    env = dict(os.environ)
    if args.cores:
        env["SPARK_GRAFT_CPUS"] = str(args.cores)

    if args.overhead:
        return overhead(args, bench, env)
    sets = []
    for _ in range(args.sets):
        runs = [run_once(args.workload, s, bench["run_seconds"], args.trace, env) for s in _seeds(args.seeds)]
        sets.append(runs)
    report = {"workload": args.workload, "trace": args.trace, "cores": args.cores, "sets": [], "runs": sets}
    for runs in sets:
        names = runs[0]["metrics"]
        report["sets"].append({
            "correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "wall_s": summarise([r["wall_s"] for r in runs]),
            "metrics": {k: summarise([r["metrics"][k]["value"] for r in runs]) for k in names},
            "detail": {
                k: summarise([r["detail"][k] for r in runs])
                for k, v in runs[0]["detail"].items()
                if isinstance(v, (int, float)) and k not in names
            },
        })
    print(f"{args.workload} trace={args.trace} runs/set={len(sets[0])} sets={len(sets)}")
    for part in ("metrics", "detail"):
        print(f" {part}:")
        first, last = report["sets"][0][part], report["sets"][-1][part]
        for k in first:
            row = " ".join(
                f"[{s[part][k]['median']:.4g} q1 {s[part][k]['q1']:.4g} q3 {s[part][k]['q3']:.4g}"
                f" spread {s[part][k]['spread']:.3f}]"
                for s in report["sets"]
            )
            ratio = last[k]["median"] / first[k]["median"] if first[k]["median"] else float("nan")
            print(f"  {k:34s} {row} last/first {ratio:.3f} bound {bounds.get(k)}")
    for i, (s, runs) in enumerate(zip(report["sets"], sets)):
        print(f"  set {i}: correct={s['correct']} failed={s['failed']}/{s['attempted']}"
              f" wall median {s['wall_s']['median']:.1f}s q3 {s['wall_s']['q3']:.1f}s")
        for seed, r in zip(_seeds(args.seeds), runs):
            print(f"    seed {seed}: wall {r['wall_s']:.1f}s, cpu_steal_s {r['detail']['cpu_steal_s']:.1f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


def overhead(args, bench: dict, env: dict) -> int:
    rows = []
    for seed in _seeds(args.seeds):
        plain = run_once(args.workload, seed, bench["run_seconds"], 0, env)["metrics"]
        traced = run_once(args.workload, seed, bench["run_seconds"], 1, env)["metrics"]
        rows.append({
            "seed": seed,
            "work_s": plain["work_s"]["value"],
            "trace.work_s": traced["trace.work_s"]["value"],
            "cold_work_s": plain["cold_work_s"]["value"],
            "trace.cold_work_s": traced["trace.cold_work_s"]["value"],
        })
        print(json.dumps(rows[-1]))
    warm = [r["trace.work_s"] - r["work_s"] for r in rows]
    cold = [r["trace.cold_work_s"] - r["cold_work_s"] for r in rows]
    report = {"workload": args.workload, "runs": rows,
              "overhead_s": statistics.median(warm), "cold_overhead_s": statistics.median(cold)}
    print(f"{args.workload}: tracing overhead median {report['overhead_s']:.3f}s per pass,"
          f" cold {report['cold_overhead_s']:.3f}s, over {len(rows)} seeds")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
