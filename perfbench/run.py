#!/usr/bin/env python3
"""Benchmark of the ETL engine: build it from source, run one workload,
check its outputs, print metrics.

    python3 perfbench/run.py --workload etl_logs --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one after another

Run from the repository root. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1` (a
traced run preceded by an untraced one, for `trace.overhead_ratio`).
A readable summary goes to stderr. See perfbench/README.md.
"""
import argparse
import functools
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import metrics  # noqa: E402
import shoplogs  # noqa: E402

WORKLOADS = ("etl_logs", "catalog_core", "catalog_faces")
ETL_EVENTS = 60000          # base events per generated log set (plus planted duplicates)
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
SETUPS = 7                  # session set-ups per run; setup_s is their median
HEAP = "3g"
YOUNG = "640m"
RUN_LIMIT_S = 170           # whole-run guard, below the 180 s a run may take
BUILD_LIMIT_S = 800
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BenchError(f"no build.sbt naming Spark's jars under {root}; set SPARK_HOME") from None
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_cmd(cmd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    group and wait for it on timeout. Returns the exit code."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ... (log {log_path})")
        finally:
            if p.poll() is None:  # timed out, or this process is being stopped
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail_of(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# --- build ------------------------------------------------------------------

def build(root, jars):
    """Compile the engine (src/main/scala) and the harness with scalac into
    .bench_build/classes-<source digest>; reused while sources are unchanged."""
    main_srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                                 recursive=True))
    if not main_srcs:
        raise BenchError(f"no engine sources under {root}/src/main/scala: run from the repository root")
    harness_srcs = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    digest = hashlib.sha256()
    for path in main_srcs + harness_srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, ".bench_build", f"classes-{digest.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "main"))
    os.makedirs(os.path.join(tmp, "harness"))
    log_path = os.path.join(tmp, "build.log")
    scalac = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn"]
    t0 = time.time()
    steps = (("main", [f"{jars}/*"], main_srcs),
             ("harness", [os.path.join(tmp, "main"), f"{jars}/*"], harness_srcs))
    for name, cp, srcs in steps:
        code = run_cmd(scalac + ["-d", os.path.join(tmp, name), "-classpath", os.pathsep.join(cp)] + srcs,
                       log_path, BUILD_LIMIT_S)
        if code != 0:
            raise BenchError(f"compiling {name} failed:\n{tail_of(log_path)}")
    open(os.path.join(tmp, "done"), "w").close()
    for stale in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, out)
    log(f"built engine and harness in {time.time() - t0:.1f} s")
    return out


# --- inputs -----------------------------------------------------------------

def etl_dataset(root, seed):
    path = os.path.join(root, ".bench_build", "data", f"etl-{seed}-{ETL_EVENTS}")
    if not os.path.exists(os.path.join(path, "meta.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shoplogs.write_dataset(seed, ETL_EVENTS, tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(os.path.join(path, "meta.json")) as f:
        return path, json.load(f)


# --- one JVM run ------------------------------------------------------------

def run_harness(root, classes, jars, workload, data, seed, seconds, trace, deadline):
    run_dir = os.path.join(root, ".bench_build", "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    # A fixed heap and young generation keep the resident set from
    # following the collector's timing-driven resizing.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-cp", os.pathsep.join([f"{classes}/harness", f"{classes}/main", f"{jars}/*"]),
            "perfbench.Harness", workload, data, run_dir, str(seconds), str(trace),
            str(cores()), str(SETUPS), str(seed)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    jvm_log = os.path.join(run_dir, "jvm.log")
    try:
        code = run_cmd(cmd, jvm_log, max(10.0, deadline - time.time()), env)
        for line in open(jvm_log, errors="replace"):
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
        rec_path = os.path.join(run_dir, "records.jsonl")
        if code != 0 or not os.path.exists(rec_path):
            raise BenchError(f"harness exited with {code}:\n{tail_of(jvm_log)}")
        with open(rec_path) as f:
            return run_dir, metrics.parse(f)
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise


# --- output checks (after the timed window) ---------------------------------

def check_etl(run_dir, data, batches):
    """Each batch's sink output against the generator's expected rows;
    returns the batches whose output is missing or wrong."""
    import duckdb
    cols = ", ".join(shoplogs.OUTPUT_COLUMNS)
    con = duckdb.connect()
    bad = set()
    for batch in batches:
        sink = os.path.join(run_dir, f"sink-{batch}")
        got = f"(SELECT {cols} FROM read_parquet('{sink}/*.parquet'))"
        exp = f"(SELECT {cols} FROM read_parquet('{data}/expected.parquet'))"
        try:
            diff = con.execute(f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {exp})),"
                               f" (SELECT count(*) FROM ({exp} EXCEPT ALL {got}))").fetchone()
        except Exception as e:  # no output, or not the output schema
            diff = str(e).splitlines()[0]
        if diff != (0, 0):
            log(f"etl batch {batch}: output differs from the expected rows: {diff}"
                " (unexpected, missing)")
            bad.add(batch)
        shutil.rmtree(sink, ignore_errors=True)
    return bad


def check_catalog(root, run_dir):
    """First-pass results against their DuckDB oracle SQL, normalized by
    the repo's own comparison (tools/compare.py: columns by name, sorted
    rows, floats at 10 significant digits). The oracle side depends only
    on the SQL and the committed data, so its digest is cached."""
    import duckdb
    spec = importlib.util.spec_from_file_location("compare", os.path.join(root, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    results = os.path.join(run_dir, "results")
    cache = os.path.join(root, ".bench_build", "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in compare.TABLES:
        if os.path.exists(f"{CATALOG_DATA}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CATALOG_DATA}/{t}.parquet'")

    def digest(df):
        rows = compare.norm_rows(df)
        return {"cols": sorted(df.columns), "n": len(rows),
                "sha": hashlib.sha256("\n".join(rows).encode()).hexdigest()}

    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    passed = set()
    for name, sql in sorted(oracle.items()):
        key = os.path.join(cache, hashlib.sha256((catalog_data_digest() + sql).encode()).hexdigest() + ".json")
        try:
            got = digest(con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'").df())
            if not os.path.exists(key):
                with open(key + ".tmp", "w") as f:
                    json.dump(digest(con.execute(sql).df()), f)
                os.replace(key + ".tmp", key)
            with open(key) as f:
                exp = json.load(f)
        except Exception as e:  # a missing or unreadable result is a failed check
            log(f"oracle check of {name} failed: {e}")
            continue
        if got == exp:
            passed.add(name)
        else:
            log(f"oracle mismatch: {name}: {got['n']} rows {got['cols']},"
                f" oracle {exp['n']} rows {exp['cols']}, normalized digests differ: {got['sha'] != exp['sha']}")
    return passed


@functools.lru_cache(maxsize=None)
def catalog_data_digest():
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(CATALOG_DATA, "*.parquet"))):
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + f.read())
    return h.hexdigest()


def run_once(root, classes, jars, workload, seed, seconds, trace, deadline):
    """One harness run with its output checks; marks ops whose output is wrong."""
    meta = {}
    data = CATALOG_DATA
    if workload == "etl_logs":
        data, meta = etl_dataset(root, seed)
    run_dir, recs = run_harness(root, classes, jars, workload, data, seed, seconds, trace, deadline)
    try:
        if workload == "etl_logs":
            bad = check_etl(run_dir, data, [o["pass"] for o in recs["op"] if o["ok"]])
            for o in recs["op"]:
                o["ok"] = o["ok"] and o["pass"] not in bad
        else:
            passed = check_catalog(root, run_dir)
            for o in recs["op"]:
                if o["kind"] == "query" and o["pass"] == 1 and o["name"] not in passed:
                    if o["ok"]:
                        log(f"{o['name']}: output not confirmed by its oracle")
                    o["ok"] = False
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return recs, meta


def bench(root, classes, jars, workload, seed, seconds, trace, deadline):
    recs, meta = run_once(root, classes, jars, workload, seed, seconds, 0, deadline)
    e2e, info = metrics.end_to_end(recs, workload, meta.get("input_rows", 0))
    ops = recs["op"]
    if trace:
        recs, meta = run_once(root, classes, jars, workload, seed, seconds, 1, deadline)
        ops = ops + recs["op"]
        values = metrics.per_layer(recs, workload, meta, e2e["run_s"][0])
    else:
        values = e2e
    failed = sum(1 for o in ops if not o["ok"])
    summary = {"attempted": len(ops), "failed": failed, "info": info}
    return values, summary


def describe(workload, values, summary):
    info = summary["info"]
    log(f"== {workload}: {info['passes']} pass(es), {summary['attempted']} ops attempted")
    for name, (value, unit) in values.items():
        extra = ""
        if name == "op_tail_s":
            extra = f"  (p{info['tail_percentile']} of {info['samples']} op latencies)"
        log(f"   {name:34s} {value:14.6g} {unit}{extra}")
    ratio = summary["failed"] / summary["attempted"]
    log(f"   {'op_fail_ratio':34s} {ratio:14.6g} ratio  ({summary['failed']} of {summary['attempted']} ops)")


def main(argv=None):
    # SIGTERM unwinds like an exception, so the JVM's process group is killed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()
    root = os.getcwd()
    try:
        jars = spark_jars(root)
        classes = build(root, jars)
        deadline = time.time() + RUN_LIMIT_S
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        if len(names) > 1:
            deadline = float("inf")
        results = {}
        for w in names:
            values, summary = bench(root, classes, jars, w, args.seed, args.seconds, args.trace, deadline)
            describe(w, values, summary)
            results[w] = (values, summary)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    attempted = sum(s["attempted"] for _, s in results.values())
    failed = sum(s["failed"] for _, s in results.values())
    out = {}
    for w, (values, _) in results.items():
        for name, (value, unit) in values.items():
            out[name if len(results) == 1 else f"{w}.{name}"] = {"value": value, "unit": unit}
    log(f"total wall time {time.time() - start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
