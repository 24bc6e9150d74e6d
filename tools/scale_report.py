#!/usr/bin/env python3
"""Build a scale report (the form of history/BENCH_SCALE.md) from two
graft.Bench JSON lines (sf0.1 and sf1), printed as markdown on stdout.

Usage: python3 tools/scale_report.py /tmp/bench_sf01.json /tmp/bench_sf1.json

The interesting number per query is the sf1/sf0.1 time ratio against the
10x data ratio: <= ~10 is linear-or-better, >> 10 flags a super-linear
operator that would not survive the next 100x.
"""
import json, sys

def main(p01, p1):
    b01 = json.load(open(p01))
    b1 = json.load(open(p1))
    if not b01.get("value"):
        sys.exit(f"error: {p01} has zero/absent total 'value' — empty bench run?")
    if not b1.get("value"):
        sys.exit(f"error: {p1} has zero/absent total 'value' — empty bench run?")
    q01, q1 = b01["queries"], b1["queries"]
    rows = []
    for name in sorted(q01):
        if name not in q1:
            continue
        t0, t1 = q01[name], q1[name]
        # t0 == 0 (or a failed -1 run) has no meaningful ratio; sort it
        # last rather than letting a NaN make the ordering ill-defined
        ratio = (t1 / t0) if t0 > 0 else float("-inf")
        rows.append((name, t0, t1, ratio))
    rows.sort(key=lambda r: -r[3])
    lines = []
    lines.append("# Scale report — sf0.1 vs sf1 (10x) scale validation")
    lines.append("")
    lines.append(f"- sf0.1: **{b01['value']:.1f}s** total, {len(q01)} queries, "
                 f"{b01['failed']} failed ({b01['sf']})")
    lines.append(f"- sf1:   **{b1['value']:.1f}s** total, {len(q1)} queries, "
                 f"{b1['failed']} failed ({b1['sf']})")
    lines.append(f"- aggregate time ratio at 10x data: "
                 f"**{b1['value']/b01['value']:.2f}x**")
    lines.append("")
    lines.append("sf1 is generated by `graft.GenData` from the driver's sf0.1 "
                 "(10 key-shifted copies preserving join selectivities, dup-group "
                 "sizes, and per-copy embedding geometry — see GenData's scaladoc). "
                 f"Runs: `graft.Bench`, local[{b01.get('cpus', '?')}] at sf0.1 and "
                 f"local[{b1.get('cpus', '?')}] at sf1, min of 2 runs per query. "
                 "Sub-second queries are dominated by fixed per-query overhead "
                 "(job scheduling, codegen), so their ratios understate efficiency; "
                 "the ratio column matters for queries ≥ ~0.5s at sf1.")
    lines.append("")
    lines.append("| query | sf0.1 s | sf1 s | ratio (10x data) |")
    lines.append("|---|---|---|---|")
    for name, t0, t1, r in rows:
        flag = " ⚠" if (r > 12 and t1 > 1.0) else ""
        rs = f"{r:.1f}x" if r != float("-inf") else "n/a"
        lines.append(f"| {name} | {t0:.2f} | {t1:.2f} | {rs}{flag} |")
    print("\n".join(lines))

if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(f"usage: {sys.argv[0]} <bench_sf01.json> <bench_sf1.json>")
    main(sys.argv[1], sys.argv[2])
