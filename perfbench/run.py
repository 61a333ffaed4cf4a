#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_events --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the JVM
harness from source (once per source change, with sbt, offline), generates
the workload's inputs from the seed, runs one closed-loop client in one JVM,
checks every operation's output, and prints one JSON object as the last line
of stdout: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` the per-layer ones
(see README.md in this directory). The line before it is a detail record:
sample counts, CPU seconds per operation, the contention sentinel and the
failure list.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

# Input sizes per workload. The rationale is in README.md.
SPARKIFY = {"etl_events": dict(n_songs=60, n_artists=20, n_years=2,
                               n_events=100_000, n_days=30, n_users=100)}
TABLES = {"curation_mix": 0.1}
MIXES = {"curation_mix": layers.CURATION_MIX}
WORKLOADS = list(SPARKIFY) + list(TABLES)

JVM_TIMEOUT_S = 170
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the harness build compiles or is configured by."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the program plus harness; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the program and harness with sbt (offline)")
    env = dict(os.environ, **SBT_ENV)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def make_inputs(workload, seed, inputs):
    """Generate the inputs; return what the checks need."""
    if workload in SPARKIFY:
        expect = gen.gen_sparkify(inputs, seed, **SPARKIFY[workload])
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(inputs) for f in fs)
        return {"expect": expect, "input_bytes": size}
    gen.gen_tables(inputs, seed, TABLES[workload])
    return {}


def run_jvm(cp, workload, inputs, out, seconds, trace, tmp):
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    ops = ",".join(MIXES.get(workload, ["etl"]))
    cmd += ["-cp", cp, "perfbench.Harness", workload, ops, inputs, out,
            str(seconds), str(trace), cpus]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out, "..", "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd + [repr(time.time() * 1000.0)], env=env,
                                stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if rc != 0:
        with open(os.path.join(out, "..", "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


# --- correctness -------------------------------------------------------------

def check_queries(res, inputs, out, tmp):
    """First result per query vs the DuckDB oracle; exact, like the gate.
    Returns (operation index, message) per mismatching query."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, canon
    con = duckdb.connect(config={"temp_directory": tmp})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(inputs, t + '.parquet')}'")
    bad = []
    for name, sql in res["oracle"].items():
        path = os.path.join(out, "first", name)
        if not os.path.isdir(path):
            continue  # never succeeded: already counted by the harness
        g, w = canon(pd.read_parquet(path)), canon(con.execute(sql).df())
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            bad.append((name, f"shape {list(g.columns)}x{len(g)} != "
                              f"{list(w.columns)}x{len(w)}"))
            continue
        for c in g.columns:
            a, b = g[c], w[c]
            if a.dtype != b.dtype:
                bad.append((name, f"column {c} dtype {a.dtype} != {b.dtype}"))
                break
            try:
                ok = bool(((a.values == b.values)
                           | (a.isna().values & b.isna().values)).all())
            except Exception:
                ok = a.astype(str).equals(b.astype(str))
            if not ok:
                bad.append((name, f"column {c} differs from the oracle"))
                break
    first = {}
    for i, smp in enumerate(res["samples"]):
        first.setdefault(smp["name"], i)
    return [(first[n], f"{n}: {m}") for n, m in bad]


def check_etl(out, expect, tmp):
    """Row counts known by construction, the songplays FK, dense ids.
    Returns (operation index, message) per problem."""
    import duckdb
    con = duckdb.connect(config={"temp_directory": tmp})
    bad = []
    for r in sorted(d for d in os.listdir(out) if d.startswith("run-")):
        def scan(t):
            return (f"read_parquet('{os.path.join(out, r, t)}/**/*.parquet', "
                    f"hive_partitioning = true)")
        for t in ["songs", "artists", "users", "time", "songplays"]:
            n = con.execute(f"SELECT count(*) FROM {scan(t)}").fetchone()[0]
            if n != expect[t]:
                bad.append((r, f"{t} has {n} rows, expected {expect[t]}"))
        orphans = con.execute(
            f"SELECT count(*) FROM {scan('songplays')} WHERE song_id NOT IN "
            f"(SELECT song_id FROM {scan('songs')})").fetchone()[0]
        if orphans:
            bad.append((r, f"{orphans} songplays without a song"))
        lo, hi, nd, n = con.execute(
            f"SELECT min(songplay_id), max(songplay_id), "
            f"count(DISTINCT songplay_id), count(*) FROM {scan('songplays')}"
        ).fetchone()
        if n and (lo, hi, nd) != (1, n, n):
            bad.append((r, f"songplay_id not dense 1..{n}"))
    return [(int(r.split("-")[1]), f"{r}: {m}") for r, m in bad]


# --- metrics -----------------------------------------------------------------

def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted average of all order statistics. On a handful of samples it
    moves far less than a single order statistic does."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    grid = np.concatenate([[0.0], x])
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(w @ xs)


def end_to_end(res, workload):
    samples = res["samples"]
    ms = [s["ms"] for s in samples]
    if workload in SPARKIFY:
        runs = [m / 1000.0 for m in ms]
    else:
        by_round = {}
        for s in samples:
            by_round.setdefault(s["round"], []).append(s["ms"])
        runs = [sum(v) / 1000.0 for v in by_round.values()]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (hd_quantile(runs, 0.5), "s"),
        "query_p50_ms": (hd_quantile(ms, 0.5), "ms"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    cpu_s = sum(s["cpu_ms"] for s in samples) / 1000.0
    return metrics, {"samples": len(ms), "rounds": res["rounds"],
                     "cpu_s_per_op": cpu_s / len(samples)}


def outputs(out, input_bytes):
    """Small-file count and storage cost of one run's star schema."""
    runs = [os.path.join(out, d) for d in os.listdir(out) if d.startswith("run-")]
    files, size = [], []
    for r in runs:
        parts = [os.path.join(d, f) for d, _, fs in os.walk(r)
                 for f in fs if f.endswith(".parquet")]
        files.append(len(parts))
        size.append(sum(os.path.getsize(p) for p in parts))
    return {"output_files": statistics.median(files),
            "output_bytes_per_input_byte": statistics.median(size) / input_bytes}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "pipeline", "Sparkify.scala")):
        raise SystemExit("no program sources next to the benchmark: run from "
                         "the root of a full checkout")
    cp = build(os.path.join(ROOT, ".bench_build", "perfbench"))

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out, tmp = (os.path.join(work, d) for d in ("inputs", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    t0 = time.time()
    info = make_inputs(a.workload, a.seed, inputs)
    t1 = time.time()
    res = run_jvm(cp, a.workload, inputs, out, a.seconds, a.trace, tmp)
    t2 = time.time()

    if a.workload in SPARKIFY:
        bad = check_etl(out, info["expect"], tmp)
    else:
        bad = check_queries(res, inputs, out, tmp)
    log(f"inputs {t1 - t0:.1f}s, harness {t2 - t1:.1f}s, checks {time.time() - t2:.1f}s")

    if a.trace:
        metrics, spans, problems = layers.per_layer(res, a.workload, info)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(spans, f)
        # an operation the trace cannot account for counts as failed
        starts = [smp["start"] for smp in res["samples"]]
        bad += [(max(i for i, st in enumerate(starts) if st <= lo + 1.0), msg)
                for lo, msg in problems]
        detail = {"trace": os.path.relpath(os.path.join(work, "trace.json"), ROOT)}
    else:
        metrics, detail = end_to_end(res, a.workload)
    failures = list(res["failures"]) + [m for _, m in bad]
    attempted = len(res["samples"])
    failed = len({i for i, smp in enumerate(res["samples"]) if not smp["ok"]}
                 | {i for i, _ in bad})
    loads = [s["load"] for s in res["samples"]]
    detail.update({
        "workload": a.workload, "seed": a.seed, "failed_ratio": failed / attempted,
        "failures": failures[:20],
        "load_max": max(max(l[0], l[1]) for l in loads),
        "steal_max_pct": max(l[2] for l in loads)})
    if a.workload in SPARKIFY:
        detail.update(outputs(out, info["input_bytes"]))
    shutil.move(os.path.join(out, "harness.json"), os.path.join(work, "harness.json"))
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
