#!/usr/bin/env python3
"""Capture the benchmark on this machine: every workload of BENCHMARK.json
over several seeds untraced, one traced run per workload, and DuckDB's time
for the 30 declared queries over the same fixture. Writes one JSON file and
prints each end-to-end metric's median and quartile spread; with --against,
also each median's change from an earlier capture, against its bound.

    python3 perfbench/capture.py --seeds 10 [--first-seed 1] --out perfbench/captures/NAME.json \
        [--against perfbench/captures/OTHER.json]

Run from the root of a checkout, after one run of perfbench/run.py has built
the program and its inputs.
"""
import argparse
import glob
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with {p.returncode}")
    return {"seed": seed, "wall_s": time.time() - t0, "record": lines[-2]["record"],
            "result": lines[-1]}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med}


def duckdb_declared_s(reps=3):
    """DuckDB's wall for the 30 declared oracle queries, median of reps."""
    import oracle
    fixture = run.fixture_dir()
    catalog = sorted(glob.glob(os.path.join(run.BUILD, "oracle-sql-*.json")), key=os.path.getmtime)
    with open(catalog[-1]) as f:
        cat = json.load(f)
    con = oracle.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    walls = []
    for _ in range(reps):
        t0 = time.time()
        for name in cat["declared"]:
            con.execute(cat["sql"][name]).fetchall()
        walls.append(time.time() - t0)
    return {"median_s": statistics.median(walls), "runs_s": walls, "queries": len(cat["declared"]),
            "threads": 4, "fixture_sf": run.FIXTURE_SF}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--against", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    cap = {"host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                    "python": platform.python_version()},
           "run_seconds": bench["run_seconds"], "bounds": bounds, "workloads": {}}
    for w in workloads:
        runs = [one(w, s, bench["run_seconds"], 0)
                for s in range(a.first_seed, a.first_seed + a.seeds)]
        names = runs[0]["result"]["metrics"].keys()
        summary = {n: spread([r["result"]["metrics"][n]["value"] for r in runs]) for n in names}
        entry = {"runs": runs, "summary": summary,
                 "all_correct": all(r["result"]["correct"] for r in runs)}
        # tracing overhead: a traced run's op p50 against the untraced median
        traced = one(w, a.first_seed, bench["run_seconds"], 1)
        entry["traced"] = traced
        entry["trace_overhead_frac"] = (traced["result"]["metrics"]["trace.op_p50_s"]["value"]
                                        / summary["latency_p50_s"]["median"] - 1.0)
        cap["workloads"][w] = entry
        for n, s in summary.items():
            flag = "" if n == "setup_s" or s["iqr_over_median"] < bounds[n] / 3 else "  WIDE"
            print(f"{w:22s} {n:18s} median {s['median']:10.4f}  spread "
                  f"{s['iqr_over_median']:.3f} (bound {bounds[n]}){flag}", flush=True)
    cap["duckdb_declared_suite"] = duckdb_declared_s()
    print(f"duckdb declared suite: {cap['duckdb_declared_suite']['median_s']:.3f} s")
    if a.against:
        with open(a.against) as f:
            other = json.load(f)
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for w, entry in cap["workloads"].items():
            for n, s in entry["summary"].items():
                before = other["workloads"][w]["summary"][n]["median"]
                worse = (s["median"] / before - 1) * (1 if better[n] == "lower" else -1)
                flag = "  OVER" if worse > bounds[n] else ""
                print(f"{w:22s} {n:18s} median {before:10.4f} -> {s['median']:10.4f}  "
                      f"worse by {worse:+.3f} (bound {bounds[n]}){flag}")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(cap, f, indent=1)


if __name__ == "__main__":
    main()
