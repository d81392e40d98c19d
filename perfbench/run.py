#!/usr/bin/env python3
"""The repository benchmark: one workload per call.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first call builds the benchmark
(an sbt project in this directory that compiles ../src/main/scala next to
its own sources); later calls reuse the build while no source changed.
The JVM runs the workload and writes the full record to
perfbench/results/; this script adds the batch oracle check and prints one
JSON summary as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 the per_layer ones. The exit code is 0 only when every
output check passed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["batch_gated", "stream_group_uniform", "stream_group_hot"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compiles the benchmark unless the stamp matches every source file."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no program sources next to perfbench/ (run from the root of a checkout)")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "bench-stamp")
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name a Spark installation (its jars are the build's Spark)")
    os.makedirs(os.path.join(HERE, "work", "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(HERE, 'work', 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(HERE, "work", "build.log"), "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         BUILD_TIMEOUT_S, log, log, env=env)
    if code != 0:
        die(f"build failed with code {code}; see perfbench/work/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return open(cp_file).read().strip()


def run_child(cmd, timeout, stdout, stderr, env=None):
    """Runs cmd in its own process group; on timeout kills the group."""
    p = subprocess.Popen(cmd, cwd=HERE, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def cpu_jiffies():
    """(steal, total) jiffies of all cpus from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def canon(df):
    """The canonical form tools/check.py compares: columns by name, ints as
    int64, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_batch(record):
    """Compares the check sweep's parquet output with the DuckDB oracle
    results; returns one problem string per query that differs."""
    import pandas as pd
    problems = []
    for q in record["info"]["queries"]:
        files = glob.glob(os.path.join(record["info"]["check_dir"], q, "*.parquet"))
        if not files:
            problems.append(f"{q}: no output")
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(pd.read_parquet(os.path.join(HERE, "data", "oracle", f"{q}.parquet")))
        if list(got.columns) != list(want.columns):
            problems.append(f"{q}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"{q}: {len(got)} rows vs {len(want)}")
        elif not got.equals(want):
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                problems.append(f"{q}: values differ: {str(e).splitlines()[0]}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    classpath = build()

    work = os.path.join(HERE, "work")
    for d in ("checkpoints", "batch-check", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # A fixed young generation: the heap the JVM touches is then the
        # young generation plus what the program keeps, not however far
        # the collector let eden grow before it ran.
        "-Xmx1536m", "-Xmn256m", "-Xss4m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # The program's run configuration (build.sbt javaOptions).
        "-Dspark.sql.codegen.cache.maxEntries=5000",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", HERE]
    out_path = os.path.join(results, f"{stem}.stdout")
    with open(out_path, "w") as out, open(os.path.join(results, f"{stem}.stderr"), "w") as err:
        cpu0 = cpu_jiffies()
        code = run_child(cmd, JVM_TIMEOUT_S, out, err)
        cpu1 = cpu_jiffies()
    lines = [l for l in open(out_path).read().splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        die(f"benchmark JVM exited with code {code}; see perfbench/results/{stem}.stderr")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    record_path = res["record"]
    record = json.load(open(record_path))

    problems = list(res["problems"])
    failed = res["failed"]
    if a.workload == "batch_gated" and record["info"].get("queries"):
        oracle = check_batch(record)
        record["oracle_problems"] = oracle
        record["oracle_matches"] = len(record["info"]["queries"]) - len(oracle)
        problems += oracle
        failed += len(oracle)
    measured = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in measured:
            die(f"metric {m['name']} was not measured")
        v = measured[m["name"]]
        metrics[m["name"]] = {"value": int(v) if float(v).is_integer() else v, "unit": m["unit"]}
    attempted = max(1, int(res["attempted"]))
    correct = failed == 0 and not problems
    # Share of cpu time the hypervisor gave to other guests during the
    # run: a slow run with a high share was slowed from outside.
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        record["cpu_steal_pct"] = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    record["correct"] = correct
    record["failed"] = int(failed)
    record["failed_ratio"] = failed / attempted
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    # Compact: the traced summary carries every per-layer metric and must
    # stay within a 2000-character stdout tail.
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": int(failed),
                      "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
