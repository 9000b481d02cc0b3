#!/usr/bin/env python3
"""Runs the graft benchmark.

Builds the engine and the benchmark's JVM harness from source, runs one
workload in a fresh JVM (one `local[nproc]` Spark session with Spark's
default configuration, one closed-loop client thread), checks every result,
and prints the metrics.

    python3 perfbench/run.py --workload job-compass --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads, metrics and bounds are
declared in BENCHMARK.json. With --trace 0 the run reports the end-to-end
metrics; with --trace 1 it records spans around every layer call plus Spark
listener counters, and reports the per-layer metrics. The last line of
standard output is one JSON object with the keys correct, attempted, failed
and metrics. The full record of each run (environment, set-up split,
per-request results, per-layer numbers) is written under
<build>/results/, where <build> is $CARGO_TARGET_DIR or .bench_build;
perfbench/compare.py compares two sets of such records.

Exit codes: 0 success; 1 a wrong or failed result, or the run broke;
2 the checkout or environment cannot run the benchmark.
"""

import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
SOURCES = "src/main/scala"
RESOURCES = "src/main/resources"
# A copy of the repository's sf0.01 test data, the curation workload's input.
DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
DEADLINE_S = 170  # the whole run, build excluded
HEAP = "3g"
# The JVM's perf-counter file lives in the system temp directory, outside
# the checkout; the benchmark writes only inside it.
NO_PERF_FILE = "-XX:-UsePerfData"
# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail(2, "SPARK_HOME must name a Spark installation: the engine "
                "compiles and runs against its jars")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(2, f"no scala-compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(SOURCES) or not os.path.isdir(os.path.join(RESOURCES, "job")):
        fail(2, f"{SOURCES} and {RESOURCES}/job not found: run from the root "
                "of a graft checkout")
    srcs = sorted(glob.glob(f"{SOURCES}/**/*.scala", recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "*.scala")))
    return srcs


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir, jars):
    """Compiles engine + harness with the Scala compiler Spark ships;
    skipped when the sources are unchanged since the last build."""
    srcs = sources()
    res = sorted(glob.glob(f"{RESOURCES}/**/*", recursive=True))
    digest = tree_hash(srcs + [p for p in res if os.path.isfile(p)])
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".source-sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(build_dir, "build.log")
    cmd = ["java", "-Xmx2g", "-Xss8m", NO_PERF_FILE, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        rc = _child.wait()
    _child = None
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(1, f"build failed (see {log})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(args, classes, jars, work, deadline):
    global _child
    out = os.path.join(work, "record.json")
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])
    cmd = (["java", f"-Xmx{HEAP}", NO_PERF_FILE]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dperfbench.data={os.path.abspath(DATA)}", "-cp", cp,
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work, out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        _child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            rc = _child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            rc = None
    _child = None
    if rc is None:
        fail(1, f"{args.workload} did not finish within {DEADLINE_S} s")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(1, f"{args.workload} JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_job(rec, duckdb):
    """Every JOB count must equal DuckDB's count over the same parquet
    files. COMPASS and vanilla runs are held to the same oracle, so their
    counts agree query by query."""
    expected = dict(duckdb.sql(rec["reference"]["job_oracle_sql"]).fetchall())
    failures = []
    for r in rec["requests"]:
        if r["error"] is not None:
            failures.append(f"{r['name']} (pass {r['pass']}): {r['error']}")
        elif r["result"] != expected[r["name"]]:
            failures.append(f"{r['name']} (pass {r['pass']}): count {r['result']}, "
                            f"DuckDB {expected[r['name']]}")
    return failures


def check_curation(rec, duckdb, cache_dir):
    """Every step with a DuckDB oracle in the repository
    (SparkEntry.oracleSql) must match it on the same parquet files;
    quantized two-stage retrieval must return what exact top-k returns;
    the remaining step must match the row count and content hash recorded
    in expected.json, since the curation data does not depend on the seed.
    An oracle's rows depend only on its SQL and the data, so they are kept
    in cache_dir and computed once per checkout (q_dedup_components alone
    takes about 20 s in DuckDB)."""
    ref = rec["reference"]
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ref['curation_dir']}/{t}.parquet')")
    with open(os.path.join(BENCH_DIR, "expected.json")) as f:
        expected = json.load(f)
    oracle_rows = {}
    failures = []
    by_pass = {}
    for r in rec["requests"]:
        name, res = r["name"], r["result"]
        key = f"{name} (pass {r['pass']})"
        if r["error"] is not None:
            failures.append(f"{key}: {r['error']}")
            continue
        by_pass.setdefault(r["pass"], {})[name] = res
        if name in ref["oracles"]:
            o = ref["oracles"][name]
            if name not in oracle_rows or SELF_RESULT.search(o["sql"]):
                oracle_rows[name] = run_oracle(con, o, res["cells"], cache_dir)
            if not same_rows(res["cells"], oracle_rows[name]):
                failures.append(f"{key}: {len(res['cells'])} rows differ from DuckDB's "
                                f"{len(oracle_rows[name])} ({o['entry']})")
        if name in expected and (res["rows"], res["hash"]) != \
                (expected[name]["rows"], expected[name]["hash"]):
            failures.append(f"{key}: {res['rows']} rows, hash {res['hash']}; "
                            f"expected {expected[name]['rows']} rows, hash {expected[name]['hash']}")
    for p, steps in by_pass.items():
        if "topK" in steps and "quantizedTopK" in steps and \
                steps["topK"]["hash"] != steps["quantizedTopK"]["hash"]:
            failures.append(f"quantizedTopK (pass {p}): differs from exact topK")
    return failures


# An oracle that re-derives a step's decisions from the step's own output
# (semDedup's k-means partition is seeded, not SQL-derivable) reads it from
# the dump directory Verify writes; here the step's rows stand in for it.
SELF_RESULT = re.compile(r"read_parquet\('\{\{VERIFY_OUT\}\}/[^']*'\)")


def run_oracle(con, oracle, cells, cache_dir):
    cols = oracle["columns"]
    sql = oracle["sql"]
    if SELF_RESULT.search(sql):
        con.execute("CREATE OR REPLACE TEMP TABLE step_result AS SELECT * FROM (VALUES "
                    + ", ".join("(" + ", ".join("?" * len(cols)) + ")" for _ in cells)
                    + ") t(" + ", ".join(cols) + ")", [v for row in cells for v in row])
        sql = SELF_RESULT.sub("step_result", sql)
        cached = None
    else:
        key = hashlib.sha256(json.dumps([sql, cols, tree_hash(data_files())]).encode())
        cached = os.path.join(cache_dir, key.hexdigest() + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                return json.load(f)
    quoted = ", ".join(f'"{c}"' for c in cols)
    rows = [list(r) for r in con.execute(f"SELECT {quoted} FROM ({sql}) q").fetchall()]
    if cached:
        os.makedirs(cache_dir, exist_ok=True)
        with open(cached + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(cached + ".tmp", cached)
    return rows


def data_files():
    return sorted(glob.glob(os.path.join(DATA, "*.parquet")))


def same_rows(got, want):
    """Equal as multisets of rows; doubles agree to 2e-6 (DuckDB's oracles
    round to 6 places)."""
    if len(got) != len(want):
        return False
    key = lambda row: [(v is None, v) for v in row]
    return all(
        all(math.isclose(a, b, abs_tol=2e-6) if isinstance(a, float) or isinstance(b, float)
            else a == b for a, b in zip(x, y))
        for x, y in zip(sorted(got, key=key), sorted(want, key=key)))


# ---------------------------------------------------------------- metrics

def pct(xs, p, steps=2000):
    """Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics, weighted by Beta((n+1)p, (n+1)(1-p)) mass (midpoint rule).
    With a handful of samples of very different sizes (11 curation steps)
    the sample median jumps between two neighbouring order statistics that
    can differ twofold; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    m = n * steps
    cells = [sum(((j + 0.5) / m) ** (a - 1) * (1 - (j + 0.5) / m) ** (b - 1)
                 for j in range(i * steps, (i + 1) * steps)) for i in range(n)]
    total = sum(cells)
    return sum(c / total * x for c, x in zip(cells, xs))


def end_to_end(rec):
    lat = [r["latency_ms"] for r in rec["requests"]]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median(rec["pass_s"]),
        "latency_p50_ms": pct(lat, 0.5),
        "latency_p90_ms": pct(lat, 0.9),
        "heap_peak_mb": rec["heap_peak_mb"],
    }


def environment(digest):
    commit = None
    if os.path.isdir(".git"):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                    text=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            commit = None
    return {
        "git_commit": commit,
        "source_sha256": digest,
        "nproc": os.cpu_count(),
        "driver_xmx": HEAP,
        "graft_env": {k: v for k, v in os.environ.items() if k.startswith(("GRAFT_", "SPARK_GRAFT_"))},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    if not os.path.exists("BENCHMARK.json"):
        fail(2, "BENCHMARK.json not found: run from the root of a checkout")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    extra = ["job-compass-cold", "job-vanilla"]  # runnable, not gated
    if args.workload not in names + extra:
        fail(2, f"unknown workload {args.workload}; BENCHMARK.json has {names}")
    knobs = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    if knobs:
        fail(2, f"GRAFT_* variables are set ({', '.join(knobs)}): the benchmark "
                "measures the engine's defaults, unset them")
    sources()  # fails fast outside a checkout
    jars = spark_jars()
    try:
        import duckdb
    except ImportError:
        fail(2, "the Python duckdb module is needed for the result checks")

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(build_dir, exist_ok=True)
    classes, digest = build(build_dir, jars)
    deadline = time.monotonic() + DEADLINE_S

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ticks0 = cpu_ticks()
        rec = run_jvm(args, classes, jars, work, deadline)
        ticks1 = cpu_ticks()
        if args.workload == "curation":
            failures = check_curation(rec, duckdb, os.path.join(build_dir, "oracle-cache"))
        else:
            failures = check_job(rec, duckdb)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(build_dir, "traces",
                                            f"{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(rec["requests"])
    failed = len(failures)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        values = rec["layers"]
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        values = end_to_end(rec)
    missing = [n for n in wanted if n not in values]
    if missing:
        fail(1, f"run did not produce metrics {missing}")
    metrics = {n: {"value": values[n], "unit": units[n]} for n in wanted}

    for f_ in failures[:20]:
        print(f"FAILED {f_}")
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(rec['pass_s'])} requests={attempted}")
    for n in wanted:
        print(f"  {n:<40} {values[n]:>14.4f} {units[n]}")
    for n in sorted(set(values) - set(wanted)) if not args.trace else []:
        print(f"  {n:<40} {values[n]:>14.4f} (not gated)")
    print(f"  {'failed_ratio':<40} {failed / attempted:>14.4f} ({failed}/{attempted})")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%f")
    full = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                seconds=args.seconds, failures=failures,
                env=dict(environment(digest), **rec["env"],
                         cpu_steal_share=(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
                         if ticks0 and ticks1 else None),
                setup_detail=rec["setup_detail"], pass_s=rec["pass_s"],
                layers=rec["layers"],
                requests=[{k: r[k] for k in ("pass", "name", "latency_ms", "compass")}
                          for r in rec["requests"]])
    with open(os.path.join(build_dir, "results",
                           f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
