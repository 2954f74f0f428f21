#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The launcher builds graft and the
benchmark from source with sbt (only when a source changed since the last
build), generates the workload's inputs from the seed, runs the workload in
one JVM, checks its outputs, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Workloads, metrics and layers are described in
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("cdc_stream", "registry")
# Workloads that query the generated parquet tables.
TABLE_WORKLOADS = ("registry",)
# A run must end within this many seconds, the build included.
RUN_LIMIT_S = 170
FIRST_BUILD_LIMIT_S = 700
# Spark on JDK 17 needs these when started outside spark-submit (the same
# list as the graft build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, to skip unchanged rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, log):
    """Run a command in its own process group with its output to `log`;
    kill the group at the time limit. Returns the exit code, None on
    timeout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # Also reached when this launcher is interrupted or terminated.
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(deadline):
    """Compile graft and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "runtime.classpath")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log = os.path.join(WORK, "build.log")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "classpathFile"],
                     HERE, deadline - time.time(), log)
    if rc != 0:
        fail(f"build failed (see {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read()


def make_tables(seed):
    """Generate the workload's parquet tables three times (same seed, same
    bytes) and return (directory, median generation seconds)."""
    sys.path.insert(0, HERE)
    import tables

    out = os.path.join(WORK, "tables")
    times = []
    for _ in range(3):
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        tables.generate(out, seed)
        times.append(time.perf_counter() - t)
    return out, statistics.median(times)


def oracle_failures(data_dir, dump_dir):
    """Compare each dumped registry result with the DuckDB oracle, with the
    same schema, row-count and value-hash comparison as tools/check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import table_digest

    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(dump_dir, "rows.json")) as fh:
        timed_rows = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    failures, checked = [], 0
    for key in sorted(timed_rows):
        spark = con.sql(f"SELECT * FROM read_parquet('{os.path.join(dump_dir, key)}/*.parquet')")
        s_cols = [c.lower() for c in spark.columns]
        s_rows = spark.fetchall()
        if any(n != len(s_rows) for n in timed_rows[key]):
            failures.append((key, f"row count {sorted(set(timed_rows[key]))} timed vs {len(s_rows)} at warm-up"))
            continue
        if key not in oracle:
            continue
        checked += 1
        try:
            orc = con.sql(oracle[key])
            o_cols = [c.lower() for c in orc.columns]
            o_rows = orc.fetchall()
        except Exception as e:  # an oracle that does not run is a failed check
            failures.append((key, f"oracle error: {e}"))
            continue
        if sorted(o_cols) != sorted(s_cols):
            failures.append((key, f"schema oracle={sorted(o_cols)} spark={sorted(s_cols)}"))
        elif len(o_rows) != len(s_rows):
            failures.append((key, f"rows oracle={len(o_rows)} spark={len(s_rows)}"))
        elif table_digest(o_cols, o_rows, True) != table_digest(s_cols, s_rows, True):
            failures.append((key, "value hash mismatch"))
        elif table_digest(o_cols, o_rows, False) != table_digest(s_cols, s_rows, False):
            failures.append((key, "row order differs"))
    return failures, checked


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for needed in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"not a graft checkout: {os.path.join(ROOT, needed)} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    first_build = not os.path.exists(os.path.join(HERE, "target", "runtime.classpath"))
    classpath = build(t_start + (FIRST_BUILD_LIMIT_S if first_build else RUN_LIMIT_S))
    t_built = time.time()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir]
    data_dir = None
    if a.workload in TABLE_WORKLOADS:
        data_dir, gen_s = make_tables(a.seed)
        args += ["--data", data_dir, "--gen-seconds", repr(gen_s)]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    limit = RUN_LIMIT_S - (t_built - t_start) if not first_build else RUN_LIMIT_S
    rc = run_bounded(cmd, ROOT, limit - 10, os.path.join(WORK, "jvm.log"))
    if rc != 0:
        fail(f"workload {a.workload} {'timed out' if rc is None else f'exited {rc}'} (see {os.path.join(WORK, 'jvm.log')})")
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)

    failures = [(f["key"], f["why"]) for f in rec["failures"]]
    attempted = rec["attempted"]
    if data_dir is not None:
        more, checked = oracle_failures(data_dir, os.path.join(run_dir, "dump"))
        failures += more
        attempted += checked
        rec["detail"]["oracle_checked"] = checked
    rec["detail"]["failures"] = [f"{k}: {why}" for k, why in failures]
    if a.trace:
        shutil.copy(os.path.join(run_dir, "trace.jsonl"), os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
    print("graftbench detail " + json.dumps(rec["detail"], sort_keys=True))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": rec["metrics"],
    }))


if __name__ == "__main__":
    main()
