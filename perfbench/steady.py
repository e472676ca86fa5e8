#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --seeds 1-10 [--seeds 11-20] [--workload W ...]

For each workload, runs `perfbench/run.py` once per seed (timed runs) and
reports, per end-to-end metric, the median and the spread: the distance
between the first and third quartile (`statistics.quantiles(n=4)`) as a
share of the median. With a second `--seeds` set, it also reports how far
the second set's median is from the first's, as a share of the first, and
checks both against the metric's bound in BENCHMARK.json. The summary is
printed and written to `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                           "--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit("%s seed %d failed: %s" % (workload, seed, proc.stderr[-2000:]))
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return out, time.time() - t0


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "spread": (q3 - q1) / med,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", action="append", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steady.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for w in workloads:
        sets = []
        for s in a.seeds:
            runs = [one_run(w, seed, spec["run_seconds"]) for seed in seeds(s)]
            if not all(r["correct"] and r["failed"] == 0 for r, _ in runs):
                ok = False
            sets.append({
                "seeds": s,
                "run_wall_s": [round(t, 1) for _, t in runs],
                "metrics": {m: summarize([r["metrics"][m]["value"] for r, _ in runs])
                            for m in bounds},
            })
        entry = {"sets": sets, "checks": {}}
        for m, bound in bounds.items():
            spreads = [st["metrics"][m]["spread"] for st in sets]
            check = {"bound": bound, "spreads": spreads,
                     "spread_ok": max(spreads) <= bound}
            if len(sets) > 1:
                m0 = sets[0]["metrics"][m]["median"]
                m1 = sets[1]["metrics"][m]["median"]
                check["median_shift"] = (m1 - m0) / m0
                check["shift_ok"] = abs(m1 - m0) / m0 <= bound
            ok = ok and check["spread_ok"] and check.get("shift_ok", True)
            entry["checks"][m] = check
        report["workloads"][w] = entry
        for m, c in entry["checks"].items():
            print("%-12s %-14s spreads %s bound %.2f%s" % (
                w, m, " ".join("%.3f" % x for x in c["spreads"]), c["bound"],
                "  shift %+.3f" % c["median_shift"] if "median_shift" in c else ""))
    report["ok"] = ok
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print("ok" if ok else "NOT STEADY", "->", a.out)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
