"""Run-to-run spread of the end-to-end metrics.

Runs ``perfbench/run.py`` once per seed on one workload and prints, for
each end-to-end metric of BENCHMARK.json, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the interquartile distance
as a share of the median next to the metric's bound.

    python3 perfbench/stability.py --workload webhook_steady --seeds 1 2 3 4 5 --out runs.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spreads(results: list[dict], spec: dict) -> list[tuple[str, float, float, float, float, float]]:
    """(name, median, q1, q3, spread, bound) per end-to-end metric."""
    out = []
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out.append((m["name"], med, q1, q3, (q3 - q1) / med if med else float("inf"), m["bound"]))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=None, help="append each run's result line to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    results = []
    for seed in a.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        if a.out:
            # run.py also prints its run details to stderr as one JSON line
            detail = [json.loads(x) for x in proc.stderr.splitlines() if x.startswith('{"workload"')]
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **res,
                                     "details": detail[-1]["details"] if detail else {}}) + "\n")
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{'metric':<18} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for name, med, q1, q3, spread, bound in spreads(results, spec):
        print(f"{name:<18} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} {bound:>6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
