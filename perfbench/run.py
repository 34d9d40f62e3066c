"""The engine's benchmark: one command per workload.

    python3 perfbench/run.py --workload headline_batch --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  headline_batch   the 19 registry headline queries on seeded sf0.1 tables
  webhook_steady   open-loop webhook POSTs at a fixed rate through the
                   connector's stream; emit latency from each due time

Prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A traced run also writes its spans and counters to
``--trace-out`` (default .perfbench_out/TRACE_<workload>.json).
Exits non-zero without a result when the engine is missing, a workload
cannot run, or the load generator fell behind its schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("headline_batch", "webhook_steady")


class Context:
    """What a workload reads (seed, seconds, run directory, tracer) and
    what it fills in (metrics, check results, cleanups). A workload calls
    ``rss.stop()`` where its timed region ends, before its checks."""

    def __init__(self, seed: int, seconds: int, trace: bool, run_dir: common.RunDir, rss: common.PeakRss):
        self.seed, self.seconds, self.run_dir, self.rss = seed, seconds, run_dir, rss
        self.tracer = common.Tracer(trace)
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.details: dict = {}
        self.cleanups: list = []
        self.spark = None
        self.setup_s = 0.0
        self.attempted = self.failed = 0
        self.correct = False
        self.invalid: str | None = None


def spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(name: str, ctx: Context) -> None:
    if name == "headline_batch":
        import headline

        headline.run(ctx)
    else:
        import webhook

        webhook.run(ctx)


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it Spark's
    Python workers) to exit, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)
    if not common.engine_present():
        print(f"error: engine sources ({common.ENGINE}/, tools/check.py) not found under {common.ROOT}",
              file=sys.stderr)
        return 2
    bench = spec()

    run_dir = common.RunDir()
    common.configure_env(run_dir)
    rss = common.PeakRss().start()
    ctx = Context(args.seed, args.seconds, bool(args.trace), run_dir, rss)
    t_start = time.time()
    try:
        run_workload(args.workload, ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        for fn in reversed(ctx.cleanups):
            try:
                fn()
            except Exception:
                traceback.print_exc()
        if ctx.spark is not None:
            ctx.spark.stop()
        peak_mb = rss.stop()
        ctx.details["peak_rss_split_mb"] = {k: round(v / 2**20) for k, v in rss.split.items()}
        stop_jvm()
        run_dir.close()
    if ctx.invalid:
        print(f"error: invalid run: {ctx.invalid}", file=sys.stderr)
        return 3

    ctx.e2e.update({
        "setup_s": ctx.setup_s,
        "ops_ok_frac": 1.0 - ctx.failed / ctx.attempted if ctx.attempted else 0.0,
        "peak_rss_mb": peak_mb,
    })
    kind = "per_layer" if args.trace else "end_to_end"
    values = ctx.layer if args.trace else ctx.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench[kind]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "wall_s": time.time() - t_start,
                      "e2e": ctx.e2e, "details": ctx.details}, default=str), file=sys.stderr)
    if args.trace:
        out = args.trace_out or os.path.join(common.ROOT, ".perfbench_out", f"TRACE_{args.workload}.json")
        ctx.tracer.write(out, {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                               "cpus": common.cpus(), "end_to_end": ctx.e2e, "per_layer": ctx.layer,
                               "details": ctx.details})
    print(json.dumps({"correct": bool(ctx.correct), "attempted": int(ctx.attempted),
                      "failed": int(ctx.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
