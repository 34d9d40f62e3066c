"""Reconcile a traced headline_batch run with untraced ones.

The traced run's layer times (stages, jobs outside stages, Catalyst
phases outside jobs, and the rest of each query's build and run) must
add up to the untraced pass total within TOLERANCE; the difference
between the traced and the untraced pass total is the tracing
overhead.

    python3 perfbench/reconcile.py perfbench/traces/TRACE_headline_batch.json runs.jsonl

``runs.jsonl`` holds untraced result lines as ``stability.py --out``
writes them; the median of their pass totals is the untraced
reference.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import covered_time  # noqa: E402

TOLERANCE = 0.15
ROOTS = ("queries.build", "queries.run")
# innermost first: an instant covered by a stage counts as stage time,
# else by a job, else by a Catalyst phase, else as the root's own time
LEVELS = [("exec.stage", ("exec.stage",)),
          ("exec.job", ("exec.stage", "exec.job")),
          ("plans", ("exec.stage", "exec.job", "plans.analysis", "plans.optimization", "plans.planning"))]


def layer_times(spans: list[dict]) -> dict[str, float]:
    """Split every build and run span of the pass into time covered by
    stages, by jobs outside stages, by Catalyst phases outside jobs, and
    the rest (driver-side Python and py4j); the parts sum to the pass."""
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] is not None and s["name"] not in ROOTS:
            s = by_id[s["parent"]]
        return s if s["name"] in ROOTS else None

    under: dict[int, list[dict]] = {}
    for s in spans:
        r = root_of(s)
        if r is not None and r is not s:
            under.setdefault(r["id"], []).append(s)
    out = {"exec.stage": 0.0, "exec.job": 0.0, "plans": 0.0, "queries.build": 0.0, "queries.run": 0.0}
    for r in (s for s in spans if s["name"] in ROOTS):
        kids = under.get(r["id"], [])
        covered_prev = 0.0
        for level, names in LEVELS:
            c = covered_time([(k["start"], k["end"]) for k in kids if k["name"] in names], r["start"], r["end"])
            out[level] += c - covered_prev
            covered_prev = c
        out[r["name"]] += (r["end"] - r["start"]) - covered_prev
    return out


def reconcile(trace: dict, untraced_total_s: float) -> dict:
    parts = layer_times(trace["spans"])
    layer_sum = sum(parts.values())
    traced_total = trace["per_layer"]["queries.batch_total_s"]
    return {
        "layer_time_s": parts,
        "layer_sum_s": layer_sum,
        "traced_batch_total_s": traced_total,
        "untraced_batch_total_s": untraced_total_s,
        "layer_sum_over_untraced": layer_sum / untraced_total_s,
        "tracing_overhead_s": traced_total - untraced_total_s,
        "tolerance": TOLERANCE,
        "within_tolerance": abs(layer_sum / untraced_total_s - 1) <= TOLERANCE,
    }


def main() -> int:
    with open(sys.argv[1]) as fh:
        trace = json.load(fh)
    with open(sys.argv[2]) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    totals = [sum(r["details"]["query_wall_s"].values()) for r in runs
              if r["workload"] == "headline_batch"]
    out = reconcile(trace, statistics.median(totals))
    print(json.dumps(out, indent=1))
    return 0 if out["within_tolerance"] else 1


if __name__ == "__main__":
    sys.exit(main())
