#!/usr/bin/env python3
"""Repeatability check and baseline record for the benchmark.

Runs ``run.py`` once per seed on each workload, then reports, for every
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) that BENCHMARK.json's bounds are judged by; then
one traced run per workload.  Writes everything as JSON.

    python3 perfbench/proof.py --runs 10 --out perfbench/record.json
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def one(workload, seed, trace):
    t0 = time.time()
    r = subprocess.run([*BENCH["command"], "--workload", workload, "--seed", str(seed),
                        "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)],
                       capture_output=True, text=True)
    out = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else {}
    out["exit"], out["wall_s"], out["seed"] = r.returncode, round(time.time() - t0, 1), seed
    return out


def summary(runs, names):
    res = {}
    for name in names:
        v = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
        if len(v) >= 2:
            q1, med, q3 = statistics.quantiles(v, n=4)
            res[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None, "values": v}
    return res


def host():
    """Facts of the machine the record was measured on."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    with open(os.path.join(".bench_build", "perfbench", "build.json")) as f:
        cp = json.load(f)["cp"].split(os.pathsep)
    spark = [os.path.basename(j) for j in cp if os.path.basename(j).startswith("spark-core_")]
    return {"nproc": os.cpu_count(), "mem_gib": round(mem_kb / 2 ** 20, 1),
            "java": java.splitlines()[0] if java else None,
            "spark_core_jar": spark[0] if spark else None,
            "loop": "closed, 1 client", "run_seconds": BENCH["run_seconds"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    names = [m["name"] for m in BENCH["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    record = {"host": host(), "workloads": {}}
    for w in a.workloads:
        runs = [one(w, a.first_seed + i, 0) for i in range(a.runs)]
        s = summary(runs, names)
        record["workloads"][w] = {"runs": [{k: r.get(k) for k in ("seed", "correct", "attempted", "failed",
                                                     "exit", "wall_s")} for r in runs],
                     "end_to_end": s}
        if not a.no_trace:
            t = one(w, a.first_seed, 1)
            record["workloads"][w]["traced"] = {"seed": t["seed"], "correct": t.get("correct"),
                                   "wall_s": t["wall_s"], "metrics": t.get("metrics")}
        print(f"{w}: {sum(r.get('correct', False) for r in runs)}/{len(runs)} correct, "
              f"wall {min(r['wall_s'] for r in runs)}-{max(r['wall_s'] for r in runs)} s")
        for n, v in s.items():
            flag = "" if n == "setup_s" or v["spread"] is None or v["spread"] <= bounds[n] / 3 else \
                "  <- over a third of its bound" if v["spread"] <= bounds[n] else "  <- OVER BOUND"
            print(f"  {n:16s} median {v['median']:10.3f}  spread {v['spread']:.3f}"
                  f"  (bound {bounds[n]}){flag}")
        sys.stdout.flush()
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
