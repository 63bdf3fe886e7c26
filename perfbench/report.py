#!/usr/bin/env python3
"""Per-layer report of traced runs.

Usage: python3 perfbench/report.py [--seed N] [workload ...]

Reads .bench_build/results/<workload>-seed<N>-trace1.json and its span file
(written by `run.py --trace 1`) and prints, per workload:
  * self time per layer (op, build, plan, execute, job, stage): a span's
    duration minus the part its children cover, summed over the steady ops
    and divided by their count, with the cold pass beside it;
  * the listener counts per op name (mean over its steady calls), with
    blocks.leaked;
  * the tracing overhead: the traced run's end-to-end metrics minus those
    of the untraced run of the same workload (same seed when there is one).
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

RESULTS = Path(__file__).resolve().parent.parent / ".bench_build" / "results"
LAYERS = ["op", "build", "plan", "execute", "job", "stage"]
# (metric, column header)
COUNTS = [("sched.jobs", "jobs"), ("sched.stages", "stages"),
          ("sched.stage_chain", "chain"), ("plan.executions", "executions"),
          ("plan.exchanges", "exchanges"), ("plan.broadcast_joins", "bcast_joins"),
          ("plan.sort_merge_joins", "smj"), ("codegen.compiles", "compiles"),
          ("codegen.compile_ms", "compile_ms"), ("task.cpu_frac", "cpu_frac"),
          ("shuffle.write_bytes", "shuffle_B"), ("input.rows", "in_rows"),
          ("output.rows", "out_rows"), ("spill.bytes", "spill_B"),
          ("jvm.gc_ms", "gc_ms"), ("blocks.leaked", "leaked")]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """{(phase, layer): (total self ms, op count)} for phase cold/steady."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(float)
    ops = defaultdict(int)
    for s in spans:
        phase = {"c": "cold", "s": "steady"}.get(s["op"][0], "warm-up")
        self_ms = (s["end_ms"] - s["start_ms"]) - covered(kids[s["id"]], s["start_ms"], s["end_ms"])
        out[(phase, s["kind"])] += self_ms
        if s["kind"] == "op":
            ops[phase] += 1
    return out, ops


def untraced_for(workload, seed):
    same = RESULTS / f"{workload}-seed{seed}-trace0.json"
    if same.exists():
        return same
    others = sorted(RESULTS.glob(f"{workload}-seed*-trace0.json"),
                    key=lambda p: p.stat().st_mtime)
    return others[-1] if others else None


def report(path):
    r = json.loads(path.read_text())
    w, seed = r["workload"], r["seed"]
    print(f"\n=== {w} (seed {seed}, {len(r['steady'])} steady ops, {len(r['cold'])} cold ops)")
    spans = [json.loads(line) for line in
             (RESULTS / f"{w}-seed{seed}-spans.jsonl").read_text().splitlines()]
    st, n = self_times(spans)
    print(f"\nself time per layer (ms per op)   {'steady':>12} {'cold':>12}")
    for layer in LAYERS:
        vals = [st[(ph, layer)] / n[ph] if n[ph] else 0.0 for ph in ("steady", "cold")]
        print(f"  {layer:30} {vals[0]:12.2f} {vals[1]:12.2f}")

    by_op = defaultdict(list)
    for s in r["steady"]:
        by_op[s["op"]].append(r["layers"].get(s["id"], {}))
    print("\nlistener counts per op (mean of steady calls)")
    print("  " + f"{'op':26}" + "".join(f"{h:>12}" for _, h in COUNTS))
    for op, ms in sorted(by_op.items()):
        row = [statistics.mean(m.get(c, 0.0) for m in ms) for c, _ in COUNTS]
        print("  " + f"{op:26}" + "".join(f"{v:12.4g}" for v in row))

    u = untraced_for(w, seed)
    if u is None:
        print("\ntracing overhead: no untraced run of this workload to compare")
        return
    base = json.loads(u.read_text())["end_to_end"]
    print(f"\ntracing overhead (traced - untraced, against {u.name})")
    for k, m in r["end_to_end"].items():
        if k not in base:
            continue
        b = base[k]["value"]
        d = m["value"] - b
        pct = f"{100 * d / b:+8.1f}%" if b else "        "
        print(f"  {k:18} {m['value']:14.4f} {b:14.4f} {d:+14.4f} {pct} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description="per-layer report of traced runs")
    ap.add_argument("--seed", type=int)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    files = sorted(RESULTS.glob("*-trace1.json"))
    files = [f for f in files
             if (not a.workloads or f.name.rsplit("-seed", 1)[0] in a.workloads)
             and (a.seed is None or f"-seed{a.seed}-" in f.name)]
    if not files:
        sys.exit("no traced results; run perfbench/run.py --trace 1 first")
    for f in files:
        report(f)


if __name__ == "__main__":
    main()
