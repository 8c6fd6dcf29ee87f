#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded, closed-loop, single-client
workloads (``queries`` and ``etl``), timed end to end (``--trace 0``) or
per layer (``--trace 1``).

Usage, from the root of the repository:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

The first run builds the engine and the harness with sbt (offline) into
``perfbench/target``; later runs rebuild only when a source file changed.
Each run starts one JVM (``perfbench.Main``) over the tables in
``perfbench/data``, then checks the outputs: query results against DuckDB
(``oracle_sql``, compared by the rules of ``tools/compare.py``), declared
no-oracle queries against ``expected.json`` (schema and row count), and the
JVM's own relational replays. The last stdout line is one JSON object:
correct, attempted, failed, metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("queries", "etl")
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {
    "setup_s": "s", "query_p50_s": "s", "query_p90_s": "s", "pass_s": "s",
    "write_p50_s": "s", "write_p90_s": "s", "rows_per_s": "1/s",
    "write_amp": "ratio", "space_amp": "ratio", "rss_peak_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input of the build, so a changed file triggers one."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log):
    """Compile once per source state; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    want = source_hash()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip(), want
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "ab") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        tail(log)
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as fh:
        return fh.read().strip(), want


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        lines = fh.readlines()[-n:]
    sys.stderr.write("".join(lines))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(args, cp, work, result, log):
    """Runs perfbench.Main; returns its peak resident set in MB."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # class verification is skipped: it only shortens JVM start, every run
    # pays it equally, and the engine's code paths are unchanged. The heap
    # is touched at start, so the resident set does not depend on which
    # heap regions the collector happened to use.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:+UnlockDiagnosticVMOptions",
            "-XX:-BytecodeVerificationRemote", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), os.path.join(HERE, "data"), work, result])
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                tail(log)
                fail(f"{args.workload} exceeded {JVM_TIMEOUT_S} s; log in {log}")
            time.sleep(0.05)
    rc = os.waitstatus_to_exitcode(status)
    proc.returncode = rc
    if rc != 0 or not os.path.isfile(result):
        tail(log)
        fail(f"{args.workload} exited with {rc}; log in {log}")
    return usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux


# ---- output checks ---------------------------------------------------------

def compare(name, got, want):
    """Row count, column names, dtypes and cells, in order."""
    from compare import canon, cell_eq
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != {len(want)}"
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            return f"{name}: column {c} dtype {got[c].dtype} != {want[c].dtype}"
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not cell_eq(x, y):
                return f"{name}: column {c} row {i}: {x!r} != {y!r}"
    return None


def check_outputs(res):
    """Every dumped query output against DuckDB, or against expected.json
    when the query has no oracle. Returns a list of mismatches."""
    if not res["dumps"]:
        return []
    import duckdb
    from compare import TABLES
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    con = duckdb.connect()
    data = os.path.join(HERE, "data")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors = []
    for name, out in sorted(res["dumps"].items()):
        got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").fetchdf()
        if name in res["oracle_sql"]:
            err = compare(name, got, con.execute(res["oracle_sql"][name]).fetchdf())
        elif name in expected:
            e = expected[name]
            cols = sorted(got.columns)
            err = None
            if cols != e["columns"] or len(got) != e["rows"]:
                err = f"{name}: {cols} x {len(got)} rows, expected {e['columns']} x {e['rows']}"
        else:
            err = f"{name}: no oracle and no expected shape (got {sorted(got.columns)} x {len(got)} rows)"
        if err:
            errors.append(err)
    return errors


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    """The q-quantile (a whole percent) of the samples, linear between
    order statistics."""
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(res, rss_mb):
    ops = [o for o in res["ops"] if o["pass"] >= 0 and o["ok"]]
    reads = [o["sec"] for o in ops if o["kind"] == "read"]
    writes = [o for o in ops if o["kind"] == "write"]
    wsec = [o["sec"] for o in writes]
    f = res["facts"]
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "query_p50_s": quantile(reads, 0.5),
        "query_p90_s": quantile(reads, 0.9),
        "pass_s": statistics.mean(p["sec"] for p in res["passes"]),
        "write_p50_s": quantile(wsec, 0.5),
        "write_p90_s": quantile(wsec, 0.9),
        "rows_per_s": sum(o["rows"] for o in writes) / max(sum(wsec), 1e-9),
        "write_amp": f["bytes_written"] / max(f["bytes_plain_written"], 1.0),
        "space_amp": f["bytes_on_disk"] / max(f["bytes_plain_live"], 1.0),
        "rss_peak_mb": rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, len(reads), len(wsec)


def properties(res):
    """Measured shares a later claim can cite."""
    props = res["props"].values()
    ops = [o for o in res["ops"] if o["pass"] >= 0]
    reads = sum(1 for o in ops if o["kind"] == "read")
    writes = len(ops) - reads
    n = max(len(props), 1)
    return {
        "global_sort_share": sum(1 for p in props if p["global_sort"]) / n,
        "fallback_share": sum(1 for p in props if p["fallback"]) / n,
        "write_share": writes / max(len(ops), 1),
    }


def per_layer(res, props, spec):
    layers = dict(res.get("layers", {}))
    layers.update({"props." + k: v for k, v in props.items()})
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "compare.py"),
                 os.path.join(HERE, "data", "orders.parquet")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout of the engine")

    state = os.path.join(HERE, ".state")
    os.makedirs(state, exist_ok=True)
    log = os.path.join(state, f"{args.workload}-{args.seed}-{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    cp, src_sha = build(os.path.join(state, "build.log"))

    work = os.path.join(state, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cpu0 = cpu_times()
    try:
        rss = run_jvm(args, cp, work, result, log)
        cpu1 = cpu_times()
        with open(result) as fh:
            res = json.load(fh)
        errors = list(res["errors"]) + check_outputs(res)
    finally:
        results_keep = os.path.join(state, f"{args.workload}-{args.seed}-{args.trace}.json")
        if os.path.isfile(result):
            shutil.copyfile(result, results_keep)
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for o in res["ops"] if o["pass"] >= 0]
    failed = sum(1 for o in ops if not o["ok"])
    props = properties(res)
    # the share of CPU time the hypervisor gave to other guests while the
    # JVM ran: a run measured under heavy steal reads slow for that reason
    steal = (round((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 4)
             if cpu0 and cpu1 else None)
    stamp = dict(res["stamp"], git_commit=git_commit(), source_sha256=src_sha,
                 heap=HEAP, cpu_steal_share=steal)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e, n_reads, n_writes = end_to_end(res, rss)
    metrics = per_layer(res, props, spec["per_layer"]) if args.trace else e2e
    for e in errors:
        print(f"perfbench: CHECK FAILED {e}")
    print("perfbench: stamp " + json.dumps(stamp, sort_keys=True))
    print("perfbench: samples " + json.dumps({
        "reads": n_reads, "writes": n_writes, "passes": len(res["passes"]),
        "measured_s": round(res["measured_s"], 3)}))
    print("perfbench: properties " + json.dumps(props, sort_keys=True))
    print("perfbench: phases " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}))
    if args.trace:
        print("perfbench: end_to_end " + json.dumps({k: v["value"] for k, v in e2e.items()}))
    print(json.dumps({"correct": not errors and failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
