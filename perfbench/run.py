#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, in
perfbench/), generates the workload's inputs from the seed, runs the
JVM harness (perfbench.Main) in one process, checks the results, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics (and writes the span/job trace to
perfbench/work/<workload>/trace.jsonl). Context lines (load average,
write canary, every failure with its cause) precede the result line.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
DEADLINE_S = 175

# Inputs per workload: scale factor, and the span of order/ship dates
# (0 = the full seven years). The nightly pipeline's fact_lineitem is
# partitioned by ship date, so its span sets the partition fan-out.
WORKLOADS = {
    "nightly_pipeline": {"sf": 0.001, "span_days": 60},
    "lake_cdc": {"sf": 0.005, "span_days": 0},
}

# the JDK packages Spark needs opened, one JVM option per line (build.sbt
# reads the same file for the tests' forked JVM)
JVM_OPTIONS = os.path.join(HERE, "jvm.options")


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(log):
    """Compile engine + harness unless the compiled sources are current;
    returns whether it compiled."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return False
    env = dict(os.environ)
    # the build resolves nothing from the network: Spark comes from
    # $SPARK_HOME/jars, scalatest from the local dependency cache
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ":" not in lines[-1] or " " in lines[-1]:
        die(f"build failed (sbt exit {rc}); see {log}")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def run_jvm(args, work, data, out, deadline):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # one core stays free for the driver thread, the JIT and the GC
    cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(JVM_OPTIONS) as f:
        cmd = ["java"] + [l.strip() for l in f if l.strip()]
    # temporary files stay in the work directory; -UsePerfData keeps the
    # JVM's own counters file out of the system temp directory too. No
    # -Xms: the heap grows with demand, so VmHWM follows the live set.
    cmd += ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out, "--cores", str(cores)]
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness exceeded its time budget; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        die(f"harness failed (exit {rc}); see {work}/jvm.log")
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------- board oracle

ROW_BOUNDS = {
    # approximate aggregates have no exact oracle: one row per event
    # type, with exact per-type counts
    "events_approx": ("SELECT event_type, count(*) AS n FROM events GROUP BY 1",
                      lambda got, want: len(got) == len(want) and
                      sorted(zip(got.event_type, got.n)) == sorted(zip(want.event_type, want.n))),
}


def canon(df):
    """Columns sorted by name, values rendered as in tools/compare.py
    (floats to 10 significant digits), rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.10g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()[:26]
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(str(x) for x in v) + "]"
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def kinds(df):
    m = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts"}
    return {c: m.get(df[c].dtype.kind, "obj") for c in df.columns}


def check_board(work, data):
    """Each key's captured result against its DuckDB oracle (or its row
    bound); returns the failures."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for key in sorted(oracle):
        res = os.path.join(work, "results", key)
        if not os.path.isdir(res):
            fails.append(f"{key}: no result captured")
            continue
        got_raw = con.sql(f"SELECT * FROM '{res}/*.parquet'").df()
        if key in ROW_BOUNDS:
            sql, ok = ROW_BOUNDS[key]
            if not ok(got_raw, con.sql(sql).df()):
                fails.append(f"{key}: outside its row bound ({len(got_raw)} rows)")
            continue
        if oracle[key] is None:
            fails.append(f"{key}: neither an oracle nor a row bound")
            continue
        want_raw = con.sql(oracle[key]).df()
        got, want = canon(got_raw), canon(want_raw)
        if list(got.columns) != list(want.columns):
            fails.append(f"{key}: columns {list(got.columns)} != oracle {list(want.columns)}")
            continue
        gk, wk = kinds(got_raw), kinds(want_raw)
        bad = {c: (gk[c], wk[c]) for c in gk if wk.get(c) is not None and gk[c] != wk[c]
               and not got_raw[c].isna().all() and not want_raw[c].isna().all()}
        if bad:
            fails.append(f"{key}: dtype mismatch {bad}")
        elif len(got) != len(want):
            fails.append(f"{key}: {len(got)} rows != oracle {len(want)}")
        elif not got.equals(want):
            n = int((got != want).any(axis=1).sum())
            fails.append(f"{key}: {n}/{len(got)} rows differ from the oracle")
    return fails


# ------------------------------------------------------------------ main

def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from the repository root", 2)
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found", 2)
    with open(spec_path) as f:
        spec = json.load(f)

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(TARGET, exist_ok=True)
    # a fresh checkout's first run compiles for a minute or more; the
    # run's own time budget starts after that build
    built = build(os.path.join(TARGET, "build.log"))
    deadline = (time.time() if built else t_start) + DEADLINE_S

    sys.path.insert(0, HERE)
    import gen_data
    w = WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    g0 = time.time()
    gen_data.write(gen_data.generate(args.seed, w["sf"], w["span_days"]), data)
    gen_s = time.time() - g0

    res = run_jvm(args, work, data, os.path.join(work, "result.json"), deadline - 15)
    errors = list(res["errors"])
    if os.path.exists(os.path.join(work, "oracle_sql.json")):
        errors += check_board(work, data)

    attempted = int(res["attempted"])
    failed = min(attempted, len(errors))
    ok_ratio = (attempted - failed) / attempted
    ctx = dict(res["context"], gen_s=round(gen_s, 4), wall_s=round(time.time() - t_start, 3),
               rounds=res["rounds"], timed_ops=res["timed_ops"], timed_s=res["timed_s"],
               error_rate=1.0 - ok_ratio)
    print("context " + json.dumps(ctx, sort_keys=True))
    print("op_kinds " + json.dumps(res["op_kinds"], sort_keys=True))
    for e in errors:
        print("failure " + e)

    if args.trace:
        names = spec["per_layer"]
        values = dict(res["layer"])
        missing = [m["name"] for m in names if m["name"] not in values]
        if missing:
            print("not_exercised " + " ".join(missing))
    else:
        names = spec["end_to_end"]
        values = dict(res["e2e"], ok_ratio=ok_ratio)
        missing = [m["name"] for m in names if m["name"] not in values]
        if missing:
            die(f"harness reported no value for {missing}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
