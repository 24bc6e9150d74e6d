"""Pure functions that turn the harness's JSON-lines records into metrics."""
import json
import re
import statistics
from collections import defaultdict

# First engine frame of a job's long call site -> module. Checked in order.
MODULE_PREFIXES = (
    (re.compile(r"graft\.Tables\$"), "tables"),
    (re.compile(r"graft\.etl\."), "etl"),
    (re.compile(r"graft\.ops\."), "ops"),
    (re.compile(r"graft\.dedup\."), "dedup"),
    (re.compile(r"graft\.sim\."), "sim"),
    (re.compile(r"graft\.corpus\."), "corpus"),
    (re.compile(r"graft\.text\."), "text"),
    (re.compile(r"graft\.mm\."), "mm"),
    (re.compile(r"org\.apache\.spark\.sql\.graftext\."), "graftext"),
)
MODULES = [m for _, m in MODULE_PREFIXES] + ["other"]
ENGINE_FRAME = re.compile(r"(graft\.|org\.apache\.spark\.sql\.graftext\.)")
HARNESS_FRAME = re.compile(r"perfbench\.")
SPAN_KINDS = ("run", "pass", "op", "extract", "build", "plan", "action", "sink", "faces", "job")
ETL_PREFIXES = ("select", "shape", "validid", "enrich", "dedup")
FACE_SLOTS = ("membership", "graphface", "graphface_r", "purchasegraph", "embeddings", "semcents",
              "ndpairs", "ndclusters", "ndcorpusindex", "ndindex_saved", "ndindex_merged",
              "pqindex_saved", "ivfindex_saved", "invindex_saved")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    11th largest has ten beyond it, at percentile floor(100 * (n - 10) / n).
    Fewer than 11 samples leave no such percentile: the maximum is
    reported as p100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    if n < 11:
        return s[-1], 100, n
    return s[n - 11], (100 * (n - 10)) // n, n


def module_of(details):
    """Module named by the first engine frame of a long call site; a call
    site whose first project frame is the harness's is the harness's own
    action. None when the call site holds no project frame."""
    for line in (details or "").splitlines():
        frame = line.strip()
        if ENGINE_FRAME.match(frame):
            for pattern, module in MODULE_PREFIXES:
                if pattern.match(frame):
                    return module
            return "other"
        if HARNESS_FRAME.match(frame):
            return "bench.action"
    return None


def job_module(job):
    """A job's module: from its stage's call site, else from the call site
    of the SQL action it runs under (adaptive execution submits jobs from
    a thread pool, whose call site names no project frame)."""
    return module_of(job["details"]) or module_of(job.get("exec_details")) or "other"


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans, jobs):
    """Self time per span kind, in the spans' unit: duration minus the part
    covered by child spans. Jobs are leaf children of the innermost span
    of their job group that contains their submit time."""
    children = defaultdict(list)
    by_group = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["t0"], s["t1"]))
        if s["group"]:
            by_group[s["group"]].append(s)
    out = defaultdict(float)
    for j in jobs:
        t0, t1 = j["submit"], max(j["end"], j["submit"])
        holders = [s for s in by_group.get(j["group"] or "", []) if s["t0"] <= t0 <= s["t1"]]
        if holders:
            parent = min(holders, key=lambda s: s["t1"] - s["t0"])
            children[parent["id"]].append((t0, t1))
        out["job"] += t1 - t0
    for s in spans:
        out[s["kind"]] += (s["t1"] - s["t0"]) - covered(children[s["id"]], s["t0"], s["t1"])
    return out


def parse(lines):
    recs = defaultdict(list)
    for line in lines:
        line = line.strip()
        if line:
            r = json.loads(line)
            recs[r["type"]].append(r)
    return recs


def op_seconds(ops, p):
    """Wall time of the ops of pass `p`, without the harness's sweeps."""
    return sum(o["s"] for o in ops if o["pass"] == p)


def end_to_end(recs, workload, input_rows):
    """End-to-end metrics of one untraced run, plus op accounting."""
    ops = recs["op"]
    lat = [o["s"] for o in ops]  # a failed op keeps its latency; it is counted in `failed`
    passes = sorted({o["pass"] for o in ops})
    pass_s = [op_seconds(ops, p) for p in passes]
    if workload == "etl_logs":
        rows = [input_rows / s for s in pass_s]
    else:
        rows = [sum(o.get("rows", 0) for o in ops if o["pass"] == p) / s for p, s in zip(passes, pass_s)]
    tail_s, pct, n = tail(lat)
    proc = recs["proc"][0]
    return {
        "setup_s": (median([s["s"] for s in recs["setup"]]), "s"),
        "run_s": (median(pass_s), "s"),
        "rows_per_s": (median(rows), "rows/s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (proc["vmhwm_kb"] / 1024.0, "MiB"),
    }, {"tail_percentile": pct, "samples": n, "passes": len(passes)}


def per_layer(recs, workload, meta, untraced_run_s):
    """Per-layer metrics of one traced run, per pass of its timed window."""
    passes = max(1, len(recs["pass"]))
    cores = recs["proc"][0]["cores"]
    spans = recs["span"]
    run = next(s for s in spans if s["kind"] == "run")
    jobs = [j for j in recs["job"] if (j["group"] or "").startswith("op-")]
    m = {}

    def put(name, value, unit, per_pass=True):
        m[name] = (value / passes if per_pass else value, unit)

    def span_s(kind):
        return sum(s["t1"] - s["t0"] for s in spans if s["kind"] == kind) / 1000.0

    def job_s(js):
        return sum(max(0, j["end"] - j["submit"]) for j in js) / 1000.0

    def total(key):
        return sum(j[key] for j in jobs)

    pass_s = sum(op_seconds(recs["op"], p["pass"]) for p in recs["pass"])
    modules = defaultdict(list)
    for j in jobs:
        modules[job_module(j)].append(j)

    put("setup.cold_s", next(s["s"] for s in recs["setup"] if s["i"] == 1), "s", per_pass=False)
    put("tables.read_jobs", len(modules["tables"]), "count")
    put("tables.read_s", job_s(modules["tables"]), "s")
    qe = [q for q in recs["qe"] if run["t0"] <= q["end"] - q["duration_ms"] <= run["t1"]]
    put("catalyst.plan_s", span_s("plan"), "s")
    put("catalyst.actions", len(qe), "count")
    put("catalyst.tracker_s", sum(q["tracker_ms"] for q in qe) / 1000.0, "s")

    catalog = workload != "etl_logs"
    build_spans = [s for s in spans if s["kind"] == "build"]
    build_jobs = [j for j in jobs if any(s["group"] == j["group"] and s["t0"] <= j["submit"] <= s["t1"]
                                         for s in build_spans)]
    put("ops.build_s", span_s("build") if catalog else 0.0, "s")
    put("ops.build_jobs", len(build_jobs) if catalog else 0, "count")
    put("ops.action_s", span_s("action"), "s")

    put("spark.jobs", len(jobs), "count")
    put("spark.stages", total("stages"), "count")
    put("spark.tasks", total("tasks"), "count")
    put("spark.sched_wait_s", sum(max(0, j["first_task"] - j["submit"]) for j in jobs if j["first_task"]) / 1000.0, "s")
    exec_run = total("run_ms") / 1000.0
    put("spark.exec_run_s", exec_run, "s")
    put("spark.exec_cpu_s", total("cpu_ns") / 1e9, "s")
    put("spark.gc_s", total("gc_ms") / 1000.0, "s")
    put("spark.slot_capacity_s", pass_s * cores, "s")
    put("spark.slot_busy_ratio", exec_run / (pass_s * cores) if pass_s else 0.0, "ratio", per_pass=False)
    for name, key in (("input_records", "in_records"), ("input_bytes", "in_bytes"),
                      ("shuffle_write_bytes", "shuffle_write"), ("shuffle_read_bytes", "shuffle_read"),
                      ("spill_bytes", "spill"), ("result_bytes", "result_bytes"),
                      ("output_bytes", "out_bytes")):
        put(f"spark.{name}", total(key), "count" if name == "input_records" else "bytes")

    etl = workload == "etl_logs"
    input_rows = meta.get("input_rows", 0) if etl else 0
    for kind in ("extract", "build", "sink"):
        put(f"etl.{kind}_s", span_s(kind) if etl else 0.0, "s")
    put("etl.input_rows", input_rows, "count", per_pass=False)
    put("etl.scan_amplification", total("in_records") / passes / input_rows if input_rows else 0.0,
        "ratio", per_pass=False)
    extra = {e["name"]: e["s"] for e in recs["extra"]}
    prev = 0.0
    for name in ETL_PREFIXES:
        t = extra.get(f"prefix.{name}", 0.0)
        put(f"etl.stage_s.{name}", t - prev, "s", per_pass=False)
        prev = t
    out_rows = total("out_records") / passes if etl else 0
    dedup_in = extra.get("dedup_in_rows", 0.0)
    put("etl.dedup_in_rows", dedup_in, "count", per_pass=False)
    put("etl.out_rows", out_rows, "count", per_pass=False)
    put("etl.dedup_keep_ratio", out_rows / dedup_in if dedup_in else 0.0, "ratio", per_pass=False)
    put("etl.out_bytes_per_row", total("out_bytes") / passes / out_rows if out_rows else 0.0,
        "bytes", per_pass=False)

    faces = recs["faces"][0] if recs["faces"] else {"pinned_mb": 0.0, "build_s": 0.0}
    put("faces.build_s", faces["build_s"], "s", per_pass=False)
    slots = {o["name"][len("face:"):]: o["s"] for o in recs["op"] if o["kind"] == "face_build"}
    for slot in FACE_SLOTS:
        put(f"faces.build_s.{slot}", slots.get(slot, 0.0), "s", per_pass=False)
    put("faces.pinned_mb", faces["pinned_mb"], "MiB", per_pass=False)

    for mod in MODULES + ["bench.action"]:
        key = mod if mod == "bench.action" else f"module.{mod}"
        put(f"{key}.jobs", len(modules[mod]), "count")
        put(f"{key}.job_s", job_s(modules[mod]), "s")

    selfs = self_times(spans, jobs)
    for kind in SPAN_KINDS:
        put(f"trace.self_s.{kind}", selfs.get(kind, 0.0) / 1000.0, "s")

    ops = recs["op"]
    failed = sum(1 for o in ops if not o["ok"])
    put("op_attempted", len(ops), "count", per_pass=False)
    put("op_fail_ratio", failed / len(ops) if ops else 0.0, "ratio", per_pass=False)
    traced_run_s = median([op_seconds(ops, p["pass"]) for p in recs["pass"]])
    put("trace.untraced_run_s", untraced_run_s, "s", per_pass=False)
    put("trace.overhead_ratio", traced_run_s / untraced_run_s if untraced_run_s else 0.0,
        "ratio", per_pass=False)
    return m
