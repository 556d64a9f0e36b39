#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads llm-curation crystal-store \
        --seeds 1-10 [--out FILE]

Runs `perfbench/run.py` once per (workload, seed), one run at a time, and
prints per metric the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. `--out` writes every run's
result and record lines and the summary as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"runs": [], "summary": {}}
    for w in a.workloads:
        vals = {}
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rec = json.loads(lines[-2])["record"] if res and len(lines) > 1 else {}
            report["runs"].append({"workload": w, "seed": s, "exit": p.returncode,
                                   "wall_s": round(time.time() - t0, 1), "result": res,
                                   "record": rec})
            host = rec.get("host", {})
            print(f"{w} seed {s}: exit {p.returncode} wall {time.time() - t0:.0f}s "
                  f"correct {res and res['correct']} load1 {host.get('load1_start')} "
                  f"steal% {host.get('steal_pct')} busy% {host.get('busy_pct')}", file=sys.stderr)
            for k, v in (res or {}).get("metrics", {}).items():
                vals.setdefault(k, []).append(v["value"])
        report["summary"][w] = {k: dict(summarize(v), bound=bounds.get(k))
                                for k, v in vals.items() if len(v) >= 2}
        report["steal_pct"] = report.get("steal_pct", {})
        report["steal_pct"][w] = [r["record"].get("host", {}).get("steal_pct")
                                  for r in report["runs"] if r["workload"] == w]
        for k, st in report["summary"][w].items():
            print(f"{w:14s} {k:22s} median {st['median']:.4g}  q1 {st['q1']:.4g}  q3 {st['q3']:.4g}"
                  f"  spread {st['spread']:.3f}  bound {st['bound']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
