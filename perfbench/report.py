"""Summarize run artifacts: tracing overhead and layer accounting.

    python3 perfbench/report.py [--cores N]

For each workload, pairs the newest traced artifact in ``perfbench/runs/``
with the newest untraced one of the same seed and core count, and prints:

- tracing overhead: traced / untraced - 1 for each end-to-end metric;
- ``curate``: per query, ``build_s + plan_ms + exec_s`` of the traced run
  against the same query's untraced time, and the five largest build times;
- ``ingest``: the share of trigger time that the listener's ``durationMs``
  phases account for.
"""

from __future__ import annotations

import argparse
import glob
import json
import os

from harness import median

HERE = os.path.dirname(os.path.abspath(__file__))


def _artifacts() -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(HERE, "runs", "*.json"))):
        with open(path) as f:
            a = json.load(f)
        a["_file"] = os.path.basename(path)
        out.append(a)
    return out


def _pair(arts, workload, master):
    traced = [a for a in arts if a["workload"] == workload and a["trace"] == 1
              and a["master"] == master and a["correct"]]
    for t in reversed(traced):
        plain = [a for a in arts if a["workload"] == workload and a["trace"] == 0
                 and a["master"] == master and a["seed"] == t["seed"] and a["correct"]]
        if plain:
            return t, plain[-1]
    return None, None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    master = f"local[{ap.parse_args().cores}]"
    arts = _artifacts()
    for wl in ("ingest", "curate"):
        traced, plain = _pair(arts, wl, master)
        if traced is None:
            print(f"{wl}: no traced/untraced pair with the same seed on {master}")
            continue
        print(f"{wl} (seed {traced['seed']}, {master}): {traced['_file']} vs {plain['_file']}")
        for k, v in plain["end_to_end"].items():
            print(f"  overhead {k:<20} {traced['end_to_end'][k] / v - 1:+.1%}"
                  f"  ({v:.4g} → {traced['end_to_end'][k]:.4g})")
        if wl == "curate":
            runs_t, per_q = traced["detail"]["runs"], plain["detail"]["per_query_s"]
            print("  query                          layers_s  untraced_s  diff")
            for q, rs in runs_t.items():
                mid = median([r["build_s"] + r["plan_ms"] / 1000 + r["exec_s"] for r in rs])
                print(f"  {q:<30} {mid:8.3f}  {per_q[q]:10.3f}  {mid / per_q[q] - 1:+.1%}")
            print("  largest build_s:", ", ".join(f"{q} {s:.3f}" for q, s in traced["detail"]["build_ledger"]))
        if wl == "ingest":
            print(f"  trigger time covered by durationMs phases: "
                  f"{traced['detail']['trigger_phase_coverage']:.1%}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
