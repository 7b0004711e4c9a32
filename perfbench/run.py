#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage, from the repository root:

    python3 perfbench/run.py --workload search|refresh|curate \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the benchmark with
sbt (perfbench/build.sbt) and caches the runtime classpath under
.perfbench/; later runs start the JVM directly. The JVM runs the
workload on inputs generated from the seed and checks the outputs;
for `curate` this script then compares every chain's result with its
DuckDB oracle (SparkEntry.oracleSql), the way tools/check_oracle.py
does. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
A traced run also keeps its spans in .perfbench/traces/. The exit code
is 0 only when every check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Build once per source digest; return the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(STATE, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        tail = open(log_path).read()[-3000:]
        fail(f"build failed (see {log_path}):\n{tail}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, deadline):
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cpus", str(os.cpu_count() or 1)]
    log_path = os.path.join(work, "jvm.log")
    # Spark's scratch space stays in the run's work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("run timed out")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if result is None or result.get("error"):
        tail = open(log_path).read()[-4000:]
        why = result.get("error") if result else f"exit code {proc.returncode}"
        fail(f"workload failed: {why}\n{tail}")
    return result


def norm_df(df):
    """Sorted columns, integer and float widths unified (check_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
    return df


def value_hash(df):
    parts = []
    for c in df.columns:
        parts.append(f"{c}:{df[c].dtype}")
        parts.extend(repr(v) for v in df[c].tolist())
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


def curate_oracle_checks(ctx):
    """Each chain's result against its DuckDB oracle on the same documents."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    out, docs = ctx["curate_out_dir"], ctx["curate_docs_dir"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in glob.glob(os.path.join(docs, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    checks = []
    for chain, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, chain, "*.parquet"))
        try:
            spark_df = pq.ParquetDataset(files).read().to_pandas() if files else pd.DataFrame()
            s, d = norm_df(spark_df), norm_df(con.execute(sql).df())
            if list(s.columns) != list(d.columns):
                detail = f"columns {list(s.columns)} vs oracle {list(d.columns)}"
            elif len(s) != len(d):
                detail = f"{len(s)} rows vs oracle {len(d)}"
            elif value_hash(s) != value_hash(d):
                detail = "values differ from the oracle"
            else:
                detail = ""
        except Exception as e:  # an oracle that cannot run is a failed check
            detail = f"oracle error: {e}"
        checks.append({"name": f"{chain} matches its DuckDB oracle", "ok": not detail,
                       "detail": detail})
    con.close()
    return checks


def layer_table(spans_path):
    """Per span name: count, median duration and self time, and the Spark
    work per span, from a traced run's spans."""
    rows = {}
    with open(spans_path) as f:
        for line in f:
            s = json.loads(line)
            if s["id"] < 0:  # the unattributed-jobs buckets
                continue
            rows.setdefault(s["name"], []).append(s)
    out = [f"{'span':36s} {'n':>4s} {'p50_ms':>9s} {'self_p50':>9s} {'jobs':>6s} {'tasks':>7s} {'cpu_ms':>8s}"]
    for name, ss in sorted(rows.items()):
        med = lambda k: sorted(x[k] for x in ss)[len(ss) // 2]
        dur = sorted(x["end_ms"] - x["start_ms"] for x in ss)[len(ss) // 2]
        per = lambda k: sum(x[k] for x in ss) / len(ss)
        out.append(f"{name:36s} {len(ss):4d} {dur:9.1f} {med('self_ms'):9.1f} "
                   f"{per('jobs'):6.1f} {per('tasks'):7.1f} {per('cpu_ms'):8.1f}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    load_start = os.getloadavg()
    cp = classpath(started + BUILD_LIMIT_S)
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # the build may take its own time; the run gets its full limit
        res = run_jvm(cp, args, work, time.time() + RUN_LIMIT_S)
        checks = list(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "curate":
            oc = curate_oracle_checks(res["context"])
            checks += oc
            attempted += len(oc)
            failed += sum(not c["ok"] for c in oc)
        if args.trace:
            spans = os.path.join(work, "trace", "spans.jsonl")
            dest = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(spans, dest)
            res["context"]["spans_file"] = os.path.relpath(dest, ROOT)
            table = layer_table(dest)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    source = res["layer"] if args.trace else res["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and all(c["ok"] for c in checks)
    context = dict(res["context"], nproc=os.cpu_count(), loadavg_start=load_start,
                   loadavg_end=os.getloadavg())
    if args.trace:
        print("\n".join(table))
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}".rstrip())
    print("context " + json.dumps(context, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
