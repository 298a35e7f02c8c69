#!/usr/bin/env python3
"""The repo's benchmark: one workload, one run, one JSON line of metrics.

    python3 perfbench/run.py --workload plot-ms --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It compiles the program (src/main/scala)
and the JVM harness with scalac from $SPARK_HOME/jars into .bench_build/,
generates the seeded inputs there, computes DuckDB reference outputs once
per input directory, runs the workload in a fresh JVM, checks every op's
output against the references, and prints the result as the last line of
standard output. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json; with --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import stats  # noqa: E402

BUILD = ".bench_build"
# JVM scratch (Spark's local dirs, the engine's warehouse) stays in the checkout
JVM_TMP = os.path.join(BUILD, "tmp")
FIXTURE_SF = 0.1
# MS-like table: time x baseline x channel x correlation
MS_SHAPE = dict(n_time=300, n_ant=8, n_chan=64, n_corr=4)
HEAP = "4g"
JVM_TIMEOUT_S = 165
# seconds one pass of each workload took on the 4-core baseline machine. A run
# measures ceil(--seconds / pass seconds) whole passes, a number fixed by
# --seconds alone, so a faster or slower program measures the same work.
PASS_S = {"plot-ms": 14.0, "llm-pipeline": 29.0}
WORKLOADS = list(PASS_S)

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sha(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        die("SPARK_HOME must point at a Spark distribution (its jars/ hold scalac too)")
    return jars


def scalac(jars, classpath, out, sources):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g"] + jvm_scratch() + ["-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", ":".join(classpath)] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"compilation into {out} failed")


def build(jars):
    """Compile program and harness once per source state; returns classpath."""
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not program:
        die("no program sources under src/main/scala: run from the root of a checkout")
    key = sha(program + harness)
    root = os.path.join(BUILD, f"classes-{key}")
    if not os.path.exists(os.path.join(root, "ok")):
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.time()
        scalac(jars, jars, os.path.join(root, "program"), program)
        scalac(jars, [os.path.join(root, "program")] + jars, os.path.join(root, "harness"), harness)
        open(os.path.join(root, "ok"), "w").close()
        log(f"built {len(program)} program sources in {time.time() - t0:.1f} s")
    return [os.path.join(root, "program"), os.path.join(root, "harness")] + jars, key


def fixture_dir():
    import gen
    d = os.path.join(BUILD, "data", f"fixture-sf{FIXTURE_SF}-{sha([os.path.join(HERE, 'gen.py')])}")
    if not os.path.exists(os.path.join(d, "ok")):
        t0 = time.time()
        gen.fixture_tables(d, FIXTURE_SF)
        open(os.path.join(d, "ok"), "w").close()
        log(f"generated fixture tables in {time.time() - t0:.1f} s")
    return os.path.abspath(d)


def ms_path(seed):
    """The seeded MS-like table; only the latest few seeds are kept."""
    import gen
    base = os.path.join(BUILD, "data", "ms")
    shape = "x".join(str(v) for v in MS_SHAPE.values())
    d = os.path.join(base, f"seed{seed}-{shape}-{sha([os.path.join(HERE, 'gen.py')])}")
    path = os.path.join(d, "main.parquet")
    info = {}
    if not os.path.exists(os.path.join(d, "ok")):
        for old in sorted(glob.glob(os.path.join(base, "*")), key=os.path.getmtime)[:-3]:
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        rows = gen.ms_table(path, seed, **MS_SHAPE)
        info = {"ms_rows": rows, "ms_gen_s": time.time() - t0}
        with open(os.path.join(d, "ok"), "w") as f:
            json.dump(info, f)
    else:
        with open(os.path.join(d, "ok")) as f:
            info = json.load(f)
    info["ms_bytes"] = os.path.getsize(path)
    return os.path.abspath(path), info


def jvm_scratch():
    os.makedirs(JVM_TMP, exist_ok=True)
    return [f"-Djava.io.tmpdir={os.path.abspath(JVM_TMP)}", "-XX:-UsePerfData"]


def java_cmd(classpath, *args):
    return (["java", f"-Xmx{HEAP}", "-Xss8m"] + jvm_scratch() + ADD_OPENS +
            ["-cp", ":".join(classpath), "perfbench.Harness"] + list(args))


def query_refs(classpath, key, fixture):
    """DuckDB references for every query the workloads run, computed once
    per data dir (the first run pays for all of them)."""
    import oracle
    catalog_file = os.path.join(BUILD, f"oracle-sql-{key}.json")
    if not os.path.exists(catalog_file):
        subprocess.run(java_cmd(classpath, "--dump-oracles", catalog_file), check=True,
                       capture_output=True, timeout=120)
    with open(catalog_file) as f:
        catalog = json.load(f)
    names = catalog["pipeline"]
    cache = os.path.join(fixture, f"_refs-{key}.json")
    refs = {}
    if os.path.exists(cache):
        with open(cache) as f:
            refs = json.load(f)
    todo = {n: catalog["sql"][n] for n in names if n not in refs and n in catalog["sql"]}
    if todo:
        t0 = time.time()
        refs.update(oracle.query_refs(fixture, todo))
        with open(cache, "w") as f:
            json.dump(refs, f)
        log(f"computed {len(todo)} DuckDB references in {time.time() - t0:.1f} s")
    for n in names:
        refs.setdefault(n, {"error": "no oracle SQL for this query"})
    return refs


def check_ops(result, workload, refs, ms, plot_params):
    """Marks each op ok or not; returns the names of failing ops."""
    import oracle
    plot_refs = {}
    bad = []
    for o in result["ops"]:
        why = o["error"]
        if not why and workload == "plot-ms":
            if o["name"] not in plot_refs:
                plot_refs[o["name"]] = oracle.plot_refs(
                    ms, o["name"], int(plot_params["size"]),
                    int(plot_params["skip_ant"]), int(plot_params["corr"]))
            why = oracle.check_plot(o["out"], plot_refs[o["name"]])
        elif not why:
            ref = refs.get(o["name"], {"error": "no reference"})
            if "error" in ref:
                why = ref["error"]
            elif (o["rows"], o["cols"]) != (ref["rows"], ref["cols"]):
                why = f"rows/cols {o['rows']}/{o['cols']} != oracle {ref['rows']}/{ref['cols']}"
            elif o["md5"] != ref["md5"]:
                why = f"hash mismatch ({o['rows']} rows)"
        o["ok"] = not why
        if why:
            bad.append(f"{o['name']}: {why}")
    return bad


def end_to_end(result):
    ops = result["ops"]
    lat = [o["latency"] for o in ops]
    wall = (result["measure_end"] - result["measure_start"]) / 1e3
    return {
        "setup_s": (result["setup_s"], "s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "throughput_ops_s": (len(ops) / wall, "ops/s"),
        "heap_live_end_mb": (result["heap_live_end_mb"], "MB"),
    }


PER_LAYER = [
    ("engine.session_s", "s"), ("tables.open_s", "s/op"), ("tables.files_listed", "count/op"),
    ("tables.shared_build_s", "s/op"), ("tables.shared_builds", "count/op"),
    ("tables.shared_hit_ratio", "ratio"), ("queries.construct_s", "s/op"),
    ("queries.construct_jobs", "count/op"), ("catalyst.analysis_s", "s/op"),
    ("catalyst.optimization_s", "s/op"), ("catalyst.planning_s", "s/op"),
    ("codegen.compiles", "count/op"), ("exec.wall_s", "s/op"), ("exec.jobs", "count/op"),
    ("exec.stages", "count/op"), ("exec.tasks", "count/op"), ("exec.sched_delay_s", "s/op"),
    ("exec.core_busy_frac", "ratio"), ("exec.task_run_s", "s/op"), ("exec.task_cpu_s", "s/op"),
    ("exec.task_gc_s", "s/op"), ("exec.input_mb", "MB/op"), ("exec.shuffle_write_mb", "MB/op"),
    ("exec.spill_mb", "MB/op"), ("exec.result_mb", "MB/op"), ("cli.run_s", "s/op"),
    ("shadeplot.range_s", "s/op"), ("shadeplot.raster_s", "s/op"), ("shadeplot.shade_s", "s/op"),
    ("shadeplot.png_s", "s/op"), ("sink.parquet_write_s", "s/op"),
    ("cache.entries_after_op", "count"), ("cache.resident_mb_after_op", "MB"),
    ("jvm.gc_s", "s/op"), ("trace.op_wall_s", "s/op"), ("trace.op_p50_s", "s"),
    ("trace.accounted_frac", "ratio"),
]

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "tables.open": "tables.open_s", "tables.shared": "tables.shared_build_s",
    "queries.construct": "queries.construct_s", "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s", "catalyst.planning": "catalyst.planning_s",
    "exec": "exec.wall_s", "cli.run": "cli.run_s", "shadeplot.range": "shadeplot.range_s",
    "shadeplot.raster": "shadeplot.raster_s", "shadeplot.shade": "shadeplot.shade_s",
    "shadeplot.png": "shadeplot.png_s", "sink.parquet_write": "sink.parquet_write_s",
}


def per_layer(result):
    ops = [o for o in result["ops"] if o["traced"]]
    ids = {o["id"] for o in ops}
    n = len(ops)
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["engine.session_s"] = result["session_s"]
    spans = [s for s in result["spans"] if "name" in s and s["op"] in ids]
    selfs = stats.self_times(spans)
    for span, metric in SPAN_METRIC.items():
        m[metric] = selfs.get(span, 0.0) / n
    counts = {}
    for c in result["spans"]:
        if "count" in c and c["op"] in ids:
            counts[c["count"]] = counts.get(c["count"], 0.0) + c["value"]
    m["tables.files_listed"] = counts.get("tables.files_listed", 0.0) / n
    m["queries.construct_jobs"] = counts.get("queries.construct_jobs", 0.0) / n
    calls = counts.get("tables.shared_calls", 0.0)
    m["tables.shared_builds"] = counts.get("tables.shared_builds", 0.0) / n
    m["tables.shared_hit_ratio"] = (calls - counts.get("tables.shared_builds", 0.0)) / calls if calls else 0.0
    groups = {f"op{i}" for i in ids}
    rows = [t for t in result["tasks"] if t["op"] in groups]
    tasks = [t for t in rows if t["kind"] == "task"]
    tsum = lambda k: sum(t[k] for t in tasks)  # noqa: E731
    m["exec.jobs"] = sum(1 for t in rows if t["kind"] == "job") / n
    m["exec.stages"] = sum(1 for t in rows if t["kind"] == "stage") / n
    m["exec.tasks"] = len(tasks) / n
    m["exec.sched_delay_s"] = tsum("sched_ms") / 1e3 / n
    m["exec.task_run_s"] = tsum("run_ms") / 1e3 / n
    m["exec.task_cpu_s"] = tsum("cpu_ns") / 1e9 / n
    m["exec.task_gc_s"] = tsum("gc_ms") / 1e3 / n
    m["exec.input_mb"] = tsum("input_b") / 1e6 / n
    m["exec.shuffle_write_mb"] = tsum("shuffle_write_b") / 1e6 / n
    m["exec.spill_mb"] = tsum("spill_b") / 1e6 / n
    m["exec.result_mb"] = tsum("result_b") / 1e6 / n
    wall = sum(o["latency"] for o in ops)
    m["exec.core_busy_frac"] = tsum("run_ms") / 1e3 / (wall * result["cores"])
    for k in ("codegen.compiles", "jvm.gc_s", "cache.entries_after_op", "cache.resident_mb_after_op"):
        m[k] = sum(o.get(k, 0.0) for o in ops) / n
    m["trace.op_wall_s"] = wall / n
    layer_self = sum(v for k, v in selfs.items() if k not in ("op", "cli.run"))
    m["trace.accounted_frac"] = layer_self / wall
    m["trace.op_p50_s"] = stats.median([o["latency"] for o in ops])
    return {k: (m[k], unit) for k, unit in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        die("no program sources under src/main/scala: run from the root of a checkout")
    load_before = os.getloadavg()
    jars = spark_jars()
    classpath, key = build(jars)
    fixture = fixture_dir()
    refs = query_refs(classpath, key, fixture)
    ms, ms_info = (None, {})
    if a.workload == "plot-ms":
        ms, ms_info = ms_path(a.seed)

    out = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    passes = max(1, math.ceil(a.seconds / PASS_S[a.workload]))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--data", fixture, "--out", out]
    if ms:
        args += ["--ms", ms]
    # a terminated run stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(java_cmd(classpath, *args), stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload JVM exceeded {JVM_TIMEOUT_S} s; log in {out}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"workload JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    rec = result["record"]
    t_check = time.time()
    bad = check_ops(result, a.workload, refs, ms, rec["plot_params"])
    for b in bad[:20]:
        log(f"WRONG {b}")
    ops = result["ops"]
    lat = [o["latency"] for o in ops if not o["traced"]]
    rec.update(ms_info)
    rec["check_s"] = time.time() - t_check
    rec.update({
        "loadavg_before": load_before[0], "loadavg_after": os.getloadavg()[0],
        "fixture_sf": FIXTURE_SF, "ops": len(ops), "fail_frac": stats.fail_frac(ops),
        "latency_samples": len(lat),
        "latency_p90_s": stats.percentile(lat, 90) if lat else None,
        "seconds": a.seconds, "setup_s": result["setup_s"], "session_s": result["session_s"],
        "pass_s": [round(sum(o["latency"] for o in ops if o["pass"] == p), 3)
                   for p in sorted({o["pass"] for o in ops})],
        "op_latency_s": {n: round(stats.median([o["latency"] for o in ops if o["name"] == n]), 4)
                         for n in sorted({o["name"] for o in ops})},
        "cache_resident_mb": result["cache_resident_mb"],
        "cache_entries": result["cache_entries_end"],
    })
    print(json.dumps({"record": rec}))
    metrics = per_layer(result) if a.trace else end_to_end(result)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": len(ops), "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
