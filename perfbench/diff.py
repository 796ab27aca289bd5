#!/usr/bin/env python3
"""Per-layer diff of two sets of traced benchmark runs.

    python3 perfbench/run.py --workload curate_batch --seed 1 --trace 1 > before.txt
    ... (change the code, run again) ...          > after.txt
    python3 perfbench/diff.py before.txt after.txt

Each input file holds the standard output of one or more traced runs
(`--trace 1`), one workload each, concatenated in any order. For every
workload present in both files and every span that ran, it prints the
before and after values and the change of: self time (the span's wall
time minus its child spans'), plan_ms, jobs and shuffle_bytes; then the
cache and commit counters. When a file holds several runs of a workload,
the per-run values are combined by their median.
"""
import json
import statistics
import sys

MEASURES = ["self_ms", "plan_ms", "jobs", "shuffle_bytes"]
COUNTERS = ["core.cache.hits", "core.cache.misses", "core.cache.bytes_written",
            "streaming.commit.files_written"]


def load(path):
    """workload -> list of {"info": trace info line, "metrics": {name: value}}."""
    runs = {}
    info = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "trace_overhead" in obj:
                info = obj
            elif "metrics" in obj and info is not None:
                metrics = {k: v["value"] for k, v in obj["metrics"].items()}
                runs.setdefault(info["workload"], []).append(
                    {"info": info, "metrics": metrics})
                info = None
    return runs


def values(runs):
    """Median over runs of every per-span measure and counter."""
    spans = {}
    for r in runs:
        for name, ms in r["info"]["self_ms"].items():
            spans.setdefault(name, {}).setdefault("self_ms", []).append(ms)
        for key, v in r["metrics"].items():
            for m in MEASURES[1:]:
                if key.endswith("." + m):
                    spans.setdefault(key[: -len(m) - 1], {}).setdefault(m, []).append(v)
    out = {s: {m: statistics.median(v) for m, v in ms.items()} for s, ms in spans.items()}
    counters = {c: statistics.median([r["metrics"].get(c, 0.0) for r in runs]) for c in COUNTERS}
    return out, counters


def fmt(v):
    return f"{v:,.1f}" if abs(v) < 1e6 else f"{v:,.0f}"


def change(a, b):
    d = b - a
    pct = f" ({d / a:+.1%})" if a else ""
    return f"{fmt(a)} -> {fmt(b)}  {d:+,.1f}{pct}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    shared = sorted(set(before) & set(after))
    if not shared:
        sys.exit("no workload appears in both files")
    for wl in shared:
        (sa, ca), (sb, cb) = values(before[wl]), values(after[wl])
        ran = [s for s in sorted(set(sa) | set(sb))
               if sa.get(s, {}).get("self_ms") or sb.get(s, {}).get("self_ms")]
        overhead = [r["info"]["trace_overhead"] for r in after[wl]]
        print(f"== {wl}  ({len(before[wl])} vs {len(after[wl])} traced runs; "
              f"tracing overhead after: {statistics.median(overhead):.2f}x)")
        for s in ran:
            print(f"  {s}")
            for m in MEASURES:
                print(f"    {m:14s} {change(sa.get(s, {}).get(m, 0.0), sb.get(s, {}).get(m, 0.0))}")
        print("  counters (per timed step)")
        for c in COUNTERS:
            print(f"    {c:32s} {change(ca[c], cb[c])}")


if __name__ == "__main__":
    main()
