#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload community|pipeline --seed N \
        --seconds S --trace 0|1 [--corrupt-expected OP]

Run from the repository root. The first run builds graft and the
benchmark's JVM side from source into `.bench_build/` (scalac from the
Spark distribution, no sbt); later runs reuse the build while the sources
are unchanged. Inputs are generated from the seed (`gen_data.py`).

The measuring JVM times its own set-up (`setup_s`), then runs one cold
pass that writes every op's result, four warm-up passes, and a steady
window of at least three passes and at least `--seconds` (`pass_s` is its
median pass). The check compares each result's digest with the digest of
the op's DuckDB oracle (`SparkEntry.oracleSql`) over the same tables.
An op that throws or fails the check counts in `failed`.
`--corrupt-expected OP` replaces OP's expected digest with a wrong one,
to show that the check bites.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A traced run also saves its spans and counters under
`.bench_build/traces/` for `trace_report.py`; every run saves its raw
timings under `.bench_build/runs/`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


SPARK_JARS = spark_jars()
SCALA_VERSION = "2.13.17"
DEADLINE_S = 170

# Input scale per workload (1.0 = 5,000 documents, 2,000 embeddings,
# 100,000 events). The community rows cost the same at any of these sizes;
# the pipeline's dedup joins get three times the documents, which cost
# no more time per pass than at 0.1 and raise the share of the cores its
# tasks keep busy from 0.16 to 0.23.
SCALE = {"community": 0.1, "pipeline": 0.3}

# The JVM options of `sbt run` (build.sbt javaOptions), with a heap sized
# for the benchmark's inputs.
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
    "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("store_mb", "MB")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build(bdir):
    """Compile src/main/scala and perfbench/scala into a classes dir keyed by
    the sources' hash; returns its path."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(bdir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".built")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac = ":".join(os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
                      for n in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", scalac,
                        "scala.tools.nsc.Main", "-nowarn", "-cp", os.path.join(SPARK_JARS, "*"),
                        "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compile failed\n" + r.stdout[-4000:])
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".built"), "w").close()
    os.replace(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def jvm(classes, args, work, deadline):
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/jtmp", "-cp",
                                  f"{classes}:{os.path.join(SPARK_JARS, '*')}",
                                  "graft.bench.BenchMain"] + args
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: JVM ran past the deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: JVM exited with {rc}\n{tail}")


# ---- output check -----------------------------------------------------------

def _canon(v):
    """Engine-neutral text for one value: DuckDB and Spark's parquet disagree
    on container types (list vs ndarray) and timestamp zones, not on values."""
    if v is None:
        return "~"
    if isinstance(v, float) and math.isnan(v):
        return "~"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, np.datetime64)) or hasattr(v, "isoformat"):
        if v is pd.NaT:
            return "~"
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def digest(df):
    """Digest of a result as a multiset of rows, columns taken by name.
    Integer columns carry their width; other columns their kind."""
    cols = sorted(df.columns)
    sig = [(c, str(df[c].dtype) if df[c].dtype.kind in "iu" else df[c].dtype.kind)
           for c in cols]
    rows = sorted("\x1f".join(_canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps(sig).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_outputs(result, data, work, corrupt):
    """Returns {op: reason} for every op whose result misses its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    bad = {}
    for op, sql in sorted(result["oracle"].items()):
        if op in result["errors"]:
            continue
        files = sorted(glob.glob(os.path.join(work, "out", op, "*.parquet")))
        if not files:
            bad[op] = "no output"
            continue
        got = digest(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        try:
            want = digest(con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run cannot vouch
            bad[op] = f"oracle failed: {str(e)[:200]}"
            continue
        if op == corrupt:
            want = hashlib.sha256(want.encode()).hexdigest()
        if got != want:
            bad[op] = "digest differs from the oracle's"
    for op in result["ops"]:
        if op not in result["oracle"]:
            bad[op] = "no oracle"
    return bad


# ---- metrics ----------------------------------------------------------------

def nearest_rank(xs, q):
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def query_percentiles(result):
    """Percentiles over the workload's queries of each query's median steady
    latency: with two calls per query a pooled percentile falls between
    queries and jumps from run to run."""
    per_query = [statistics.median(v) for v in result["op_ms"].values()]
    return {"query.p50_ms": statistics.median(per_query),
            "query.p90_ms": nearest_rank(per_query, 0.9)}


def end_to_end(result):
    log(f"cold pass {result['cold_s']:.2f} s, {len(result['pass_s'])} steady passes; host others "
        f"{result['host_others_cores']:.2f} cores, steal {result['host_steal_cores']:.2f}")
    return {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(result["pass_s"]),
        "store_mb": result["store_mb"],
    }


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def save(bdir, kind, workload, seed, record):
    d = os.path.join(bdir, kind)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", default=None)
    a = ap.parse_args()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes = build(bdir)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "jtmp"))
    try:
        data = os.path.join(work, "data")
        gen_data.generate(data, a.seed, SCALE[a.workload])
        base = ["--workload", a.workload, "--data", data, "--work", work, "--seed", str(a.seed)]
        t0 = time.time()
        jvm(classes, base + ["--seconds", str(a.seconds), "--trace", str(a.trace)],
            work, deadline)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        t1 = time.time()
        bad = check_outputs(result, data, work, a.corrupt_expected)
        log(f"jvm {t1 - t0:.1f} s, check {time.time() - t1:.1f} s")
        for op, why in result["errors"].items():
            log(f"FAILED {op}: {why}")
        for op, why in bad.items():
            log(f"FAILED {op}: {why}")
        failed = result["failed"] + len(bad)
        e2e = end_to_end(result)
        record = {k: v for k, v in result.items() if k not in ("oracle", "per_layer")}
        record.update(metrics=e2e, check_failures=bad)
        save(bdir, "runs", a.workload, a.seed, record)
        if a.trace:
            layer = dict(result["per_layer"], **query_percentiles(result))
            metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in per_layer_names()}
            with open(result["spans"]) as f:
                spans = f.read()
            path = save(bdir, "traces", a.workload, a.seed, dict(
                workload=a.workload, seed=a.seed, per_layer=layer,
                ops={op: statistics.median(v) for op, v in result["op_ms"].items()},
                steady_passes=result["steady_passes"], spans=spans.splitlines()))
            log(f"trace written to {path}")
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
