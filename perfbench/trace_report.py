#!/usr/bin/env python3
"""Print self time per layer from the benchmark's span files.

    python3 perfbench/trace_report.py [span files...]

With no arguments it reads every file under .bench_build/perfbench/traces
(written by `run.py --trace 1`). A span's self time is its duration minus
the part of it its child spans cover; the table gives, per workload, the
milliseconds per operation each layer spends on its own, its share of
operation wall time, and the tracing overhead of the traced cycles
against the untraced ones of the same runs.
"""
import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "traces")


def covered(start, end, kids):
    """Microseconds of [start, end) covered by the union of the kids' intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(start, k["start_us"]), min(end, k["end_us"])) for k in kids):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(span):
    if span["layer"] == "op":
        return "driver (operation, outside any child)"
    if span["layer"] == "sched":
        return "sched: job, outside its stages"
    if span["layer"] == "exec":
        return "exec: stage wall"
    return f"{span['layer']}: {span['name']}"


def main(paths):
    paths = paths or sorted(glob.glob(os.path.join(TRACES, "*.jsonl")))
    if not paths:
        sys.exit(f"no span files (run `run.py --trace 1` first; looked in {TRACES})")
    per_wl = defaultdict(lambda: {"self": defaultdict(float), "counts": defaultdict(float),
                                  "ops": 0, "wall": 0.0, "overhead": [], "runs": 0,
                                  "kinds": defaultdict(lambda: defaultdict(float))})
    for path in paths:
        with open(path) as fh:
            meta = json.loads(fh.readline())
            spans = [json.loads(ln) for ln in fh if ln.strip()]
        agg = per_wl[meta["workload"]]
        agg["runs"] += 1
        agg["overhead"].append(meta["trace_overhead_pct"])
        kids = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)
        for s in spans:
            self_us = s["end_us"] - s["start_us"] - covered(s["start_us"], s["end_us"], kids[s["id"]])
            agg["self"][layer_of(s)] += self_us / 1000.0
            if s["layer"] == "op":
                agg["ops"] += 1
                agg["wall"] += (s["end_us"] - s["start_us"]) / 1000.0
                kind = agg["kinds"][s["name"]]
                kind["ops"] += 1
                kind["ms"] += (s["end_us"] - s["start_us"]) / 1000.0
                kind["compiles"] += s["counts"].get("compiles", 0)
                mine = [k for k in spans if k["op"] == s["op"]]
                kind["jobs"] += sum(1 for k in mine if k["layer"] == "sched")
                kind["rows_read"] += sum(k["counts"].get("rows_read", 0) for k in mine)
                kind["rows_out"] += s["counts"].get("rows_out", 0)
            for k, v in s.get("counts", {}).items():
                agg["counts"][k] += v
    for wl, agg in sorted(per_wl.items()):
        ops = max(1, agg["ops"])
        over = sorted(agg["overhead"])
        print(f"== {wl}: {agg['runs']} run(s), {agg['ops']} traced operations, "
              f"{agg['wall'] / ops:.1f} ms per operation; tracing overhead "
              f"{over[len(over) // 2]:+.1f}% (median over runs)")
        print(f"   {'self ms/op':>10} {'share':>6}  layer")
        for name, ms in sorted(agg["self"].items(), key=lambda kv: -kv[1]):
            print(f"   {ms / ops:10.2f} {100 * ms / max(agg['wall'], 1e-9):5.1f}%  {name}")
        counts = ", ".join(f"{k}={v / ops:.4g}" for k, v in sorted(agg["counts"].items()))
        print(f"   per operation: {counts}")
        print(f"   {'kind':<22} {'ops':>4} {'ms/op':>9} {'compiles/op':>12} {'jobs/op':>8} "
              f"{'rows read/row out':>18}")
        for name, k in sorted(agg["kinds"].items()):
            print(f"   {name:<22} {k['ops']:4.0f} {k['ms'] / k['ops']:9.1f} "
                  f"{k['compiles'] / k['ops']:12.2f} {k['jobs'] / k['ops']:8.2f} "
                  f"{k['rows_read'] / max(1, k['rows_out']):18.1f}")


if __name__ == "__main__":
    main(sys.argv[1:])
