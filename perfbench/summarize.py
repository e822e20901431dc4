"""Median and quartiles per metric over whole runs recorded by ``run.py``.

    python3 perfbench/summarize.py [--last N] [--workload W]

Reads ``perfbench/.work/runs.jsonl`` and groups runs by code fingerprint,
workload and trace mode. Every statistic is taken over whole runs; nothing is
assembled from per-op minima of different runs. For end-to-end metrics the
spread (q3 - q1) / median is shown next to the metric's bound, and tracing
overhead is the traced median ``trace.run_s`` minus the untraced median
``run_s`` of the same code and workload.
"""

from __future__ import annotations

import argparse
import json
import os
from collections import defaultdict

from metrics import summary

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", default=os.path.join(BENCH_DIR, ".work", "runs.jsonl"))
    ap.add_argument("--last", type=int, default=0, help="only the newest N runs")
    ap.add_argument("--workload")
    args = ap.parse_args(argv)

    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    with open(args.runs) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    runs = runs[-args.last:] if args.last else runs
    groups = defaultdict(list)
    for r in runs:
        if args.workload in (None, r["workload"]):
            groups[(r["code_fingerprint"], r["workload"], r["trace"])].append(r)

    for (fp, wl, trace), rs in sorted(groups.items()):
        failed = sum(1 for r in rs if r["failures"])
        print(f"\n== {wl} trace={trace} code={fp} runs={len(rs)} with-failures={failed} "
              f"seeds={sorted({r['seed'] for r in rs})}")
        for key in ("loadavg_before", "cpu_per_wall", "wall_s"):
            s = summary(r[key] for r in rs)
            print(f"   {key:42s} median {s['median']:12.4g}  q1 {s['q1']:12.4g}  q3 {s['q3']:12.4g}")
        for name in rs[0]["metrics"]:
            s = summary(r["metrics"][name] for r in rs)
            bound = bounds.get(name)
            flag = ""
            if bound is not None:
                flag = f"bound {bound:.2f} {'ok' if s['spread'] < bound / 3 else 'WIDE'}"
            print(f"   {name:42s} median {s['median']:12.4g}  q1 {s['q1']:12.4g}  "
                  f"q3 {s['q3']:12.4g}  spread {s['spread']:6.3f}  {flag}")
        if trace:
            plain = groups.get((fp, wl, 0))
            if plain:
                traced = summary(r["metrics"]["trace.run_s"] for r in rs)["median"]
                untraced = summary(r["metrics"]["run_s"] for r in plain)["median"]
                print(f"   tracing overhead: {traced - untraced:+.3f} s "
                      f"({(traced - untraced) / untraced:+.1%} of untraced run_s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
