"""``webhook_steady``: the reference connector's path, end to end, under
an open-loop webhook load.

    load generator --POST--> sources/http_bridge.WebhookBridge --spool-->
    sources/readers.webhook_replay_stream (processingTime trigger)
    -> pipeline/tracks.transform_features
    -> streaming/jobs.flatten_features_for_state + stateful_track_cache
    -> foreachBatch: streaming/sinks.http_submit_sink --POST--> Receiver

The stream is built here with its own ``writeStream`` and a checkpoint
in the run directory (``streaming/jobs.run_to_table`` changes
``spark.sql.shuffle.partitions`` and leaves checkpoint dirs behind).
The receiver records when each cache row arrives; a delivery's emit
latency is that arrival minus the time it was due.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd

import common
import datagen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
TRIGGER_S = 5
TRIGGER = f"{TRIGGER_S} seconds"
WARMUP = 100  # deliveries POSTed closed-loop through the stream before timing
DRAIN_TIMEOUT_S = 60.0
GEN_LATE_BOUND_MS = 100.0  # a run whose generator ran later than this at p99 is invalid
STEADY_RATE = 50.0
RETENTION_MS = 3_600_000


class Receiver:
    """The submit endpoint: records (feature id, msg_id, arrival) for
    every feature of every FeatureCollection POSTed to it. ``stall_s``
    delays each reply (used by the benchmark's own tests)."""

    def __init__(self, stall_s: float = 0.0) -> None:
        self.rows: list[tuple[str, int, float, dict]] = []
        lock = threading.Lock()
        rec = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (stdlib casing)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                t = time.time()
                if stall_s:
                    time.sleep(stall_s)
                feats = json.loads(body)["features"]
                with lock:
                    rec.rows.extend((f["id"], int(f["msg_id"]), t, f) for f in feats)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/cloudtak-submit"

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()

    def first_arrivals(self) -> dict[int, tuple[str, float]]:
        """msg_id -> (feature id, first arrival); replays are ignored."""
        out: dict[int, tuple[str, float]] = {}
        for fid, m, t, _ in list(self.rows):
            if m not in out or t < out[m][1]:
                out[m] = (fid, t)
        return out


def emit_latencies_ms(due: dict[int, float], arrivals: dict[int, tuple[str, float]]) -> list[float]:
    """Per emitted cache row: arrival minus the delivery's due time."""
    return [(t - due[m]) * 1e3 for m, (_, t) in arrivals.items() if m in due]


def unresolved(plan: dict[int, str], arrivals: dict[int, tuple[str, float]]) -> list[int]:
    """Deliveries (msg_id -> feature id) that were neither emitted nor
    superseded by a later emitted row of the same device."""
    newest: dict[str, int] = {}
    for m, (fid, _) in arrivals.items():
        newest[fid] = max(newest.get(fid, 0), m)
    return [m for m, fid in plan.items() if newest.get(fid, 0) < m]


def run_loadgen(ctx, url: str, first: int, count: int, rate: float, t0: float) -> dict:
    """Run the generator process to completion and return its record."""
    out = os.path.join(ctx.run_dir.path, f"gen-{first}.json")
    cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--url", url, "--seed", str(ctx.seed),
           "--first", str(first), "--count", str(count), "--rate", str(rate), "--t0", repr(t0),
           "--out", out]
    proc = subprocess.Popen(cmd)
    ctx.rss.exclude.add(proc.pid)
    try:
        proc.wait(timeout=count / rate + 60 if rate else 120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


class Stream:
    """The connector's streaming query over one spool directory. Sink
    calls are traced once ``warm_batch`` (the last warm-up batch) is set;
    the warm-up batches are set-up."""

    def __init__(self, ctx, spark, spool: str, url: str) -> None:
        from pyspark.sql import functions as F

        from etl_everywhere_hub_spark.pipeline.tracks import everywhere_item_schema, transform_features
        from etl_everywhere_hub_spark.sources.readers import webhook_replay_stream
        from etl_everywhere_hub_spark.streaming.jobs import flatten_features_for_state, stateful_track_cache
        from etl_everywhere_hub_spark.streaming.sinks import http_submit_sink

        self.sink_calls, self.warm_batch, tr = [], None, ctx.tracer
        stream = webhook_replay_stream(spark, spool, everywhere_item_schema())
        cache = stateful_track_cache(flatten_features_for_state(transform_features(stream, path="webhook")))

        def submit(df, batch_id: int) -> None:
            t = time.time()
            timed = self.warm_batch is not None
            with tr.span("streaming.sinks.http_submit", req=f"steady:{batch_id}") if timed \
                    else contextlib.nullcontext():
                http_submit_sink(df.select(F.to_json(F.struct(*df.columns)).alias("feature_json")), url)
            self.sink_calls.append((batch_id, t, time.time()))

        self.query = (
            cache.writeStream.outputMode("update")
            .foreachBatch(submit)
            .option("checkpointLocation", ctx.run_dir.sub("checkpoint"))
            .trigger(processingTime=TRIGGER)
            .start()
        )

    def stop(self) -> list:
        progress = list(self.query.recentProgress)
        self.query.stop()
        return progress


def wait_for(pred, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(0.05)
    return pred()


def feature_ids(seed: int, first: int, count: int) -> dict[int, str]:
    devs, _ = datagen.delivery_plan(seed, first + count - 1)
    return {m: f"inreach-{10_000 + int(devs[m - 1])}" for m in range(first, first + count)}


def bodies(seed: int, first: int, due: list[float]) -> list[dict]:
    devs, em = datagen.delivery_plan(seed, first + len(due) - 1)
    return [datagen.delivery(first + i, int(devs[first + i - 1]), bool(em[first + i - 1]),
                             datagen.stamp_ms(d)) for i, d in enumerate(due)]


def check_cache(spark, items: list[dict], got_rows: list[dict], now_ms: int) -> str | None:
    """The receiver's final cache (latest row per id, TTL applied) must
    equal ``device_cache_snapshot`` over the same deliveries."""
    from etl_everywhere_hub_spark.pipeline.tracks import (
        device_cache_snapshot,
        everywhere_item_schema,
        transform_features,
    )
    from etl_everywhere_hub_spark.streaming.jobs import flatten_features_for_state

    feats = transform_features(spark.createDataFrame(items, everywhere_item_schema()), path="webhook")
    want = flatten_features_for_state(device_cache_snapshot(feats, now_ms, RETENTION_MS)).toPandas()
    latest: dict[str, dict] = {}
    for r in got_rows:
        if r["id"] not in latest or r["msg_id"] > latest[r["id"]]["msg_id"]:
            latest[r["id"]] = r
    got = pd.DataFrame([r for r in latest.values()
                        if (r["time_ms"] or 0) >= now_ms - RETENTION_MS], columns=list(want.columns))
    return oracle.compare(got, want)


def run(ctx) -> None:
    """webhook_steady: STEADY_RATE deliveries/s for ``ctx.seconds``."""
    tr, layer = ctx.tracer, ctx.layer
    t0 = time.time()
    with tr.span("session.get_spark"):
        from etl_everywhere_hub_spark.session import get_spark
        from etl_everywhere_hub_spark.sources.http_bridge import WebhookBridge

        spark = ctx.spark = get_spark("perfbench-webhook")
    layer["session.get_spark_s"] = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    receiver = Receiver()
    ctx.cleanups.append(receiver.stop)
    spool = ctx.run_dir.sub("spool")
    bridge = WebhookBridge(spool)
    host, port = bridge.start()
    ctx.cleanups.append(bridge.stop)
    url = f"http://{host}:{port}/wh-perfbench"
    # warm-up: WARMUP deliveries POSTed closed-loop before the stream
    # starts, so its first (cold) batch picks them up at once
    warm = run_loadgen(ctx, url, 1, WARMUP, 0.0, 0.0)
    stream = Stream(ctx, spark, spool, receiver.url)
    ctx.cleanups.append(stream.query.stop)
    warm_ids = feature_ids(ctx.seed, 1, WARMUP)
    wait_for(lambda: not unresolved(warm_ids, receiver.first_arrivals()), DRAIN_TIMEOUT_S)
    wait_for(lambda: stream.sink_calls and not stream.query.status["isTriggerActive"], DRAIN_TIMEOUT_S)
    warm_batch = stream.warm_batch = max(b for b, _, _ in stream.sink_calls)
    ex = common.ExecReader(spark, tr) if tr.enabled else None
    sql = common.SqlMetrics(spark) if tr.enabled else None
    ctx.setup_s = time.time() - t0

    first, count = WARMUP + 1, int(round(STEADY_RATE * ctx.seconds))
    # Spark fires processingTime triggers at multiples of the interval
    # since the epoch; starting the schedule at a fixed phase of that
    # grid makes every run see the same batch boundaries.
    start = (time.time() + 0.7) // TRIGGER_S * TRIGGER_S + TRIGGER_S + 0.5
    with tr.span("gen.open_loop", rate=STEADY_RATE):
        gen = run_loadgen(ctx, url, first, count, STEADY_RATE, start)
    ids = feature_ids(ctx.seed, first, count)
    with tr.span("streaming.drain"):
        wait_for(lambda: not unresolved(ids, receiver.first_arrivals()), DRAIN_TIMEOUT_S)
    wait_for(lambda: not stream.query.status["isTriggerActive"], DRAIN_TIMEOUT_S)  # last progress
    progress = [p for p in stream.stop() if p.batchId > warm_batch]
    ctx.rss.stop()
    if tr.enabled:  # before check_cache, whose Spark jobs are not the stream's
        common.sum_stages(ex.collect(None, "steady"), layer)
        layer["exec.jobs"] = ex.jobs
        common.sum_python(sql.since_last(), layer)

    # -- results and checks (outside the timed region) --------------------
    all_arrivals = receiver.first_arrivals()
    arrivals = {m: a for m, a in all_arrivals.items() if m in ids}
    due = {first + i: d for i, d in enumerate(gen["due"])}
    lost = unresolved(ids, all_arrivals)
    bad = {first + i for i, st in enumerate(gen["status"]) if st != 200}
    bad |= {1 + i for i, st in enumerate(warm["status"]) if st != 200}
    gen_late_p99 = common.pct([(s - d) * 1e3 for s, d in zip(gen["sent"], gen["due"])], 99)
    cache_diff = check_cache(spark, bodies(ctx.seed, 1, warm["due"] + gen["due"]),
                             [r[3] for r in list(receiver.rows)], datagen.stamp_ms(time.time()))
    lat = emit_latencies_ms(due, arrivals)
    last = max((t for _, t in arrivals.values()), default=start)
    ctx.attempted = WARMUP + count
    ctx.failed = len(set(lost) | bad)
    ctx.correct = cache_diff is None and ctx.failed == 0
    ctx.details.update({"lost": len(lost), "bad_posts": len(bad), "cache_diff": cache_diff,
                        "gen_late_p99_ms": gen_late_p99, "latency_samples": len(lat)})
    if gen_late_p99 > GEN_LATE_BOUND_MS:
        ctx.invalid = f"generator ran {gen_late_p99:.0f} ms late at p99 (bound {GEN_LATE_BOUND_MS:.0f} ms)"
    ctx.e2e.update({
        "throughput_per_s": (count - len(lost)) / (last - gen["due"][0]),
        "latency_p50_ms": common.median(lat),
        "latency_p99_ms": common.pct(lat, 99),
    })
    if tr.enabled:
        stream_layers(layer, progress, gen, warm, arrivals, stream, count, warm_batch)
        batch_spans(tr, progress)
        layer["gen.late_p99_ms"] = gen_late_p99


# micro-batch phases as recentProgress reports them, in execution order
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def batch_spans(tracer, progress) -> None:
    """A ``streaming.batch`` span per micro-batch, from its trigger time
    and triggerExecution duration, with one child per phase. Spark
    reports phase durations but not their start times, so the children
    are laid end to end in execution order from the batch start. The
    sink span of the batch moves under its ``addBatch`` phase. Each Spark
    job of the batch moves under the innermost of the sink span, a phase
    span or the batch span that its start falls in (the file source's
    job runs in ``getBatch``)."""
    sink = {s["req"]: s for s in tracer.spans if s["name"] == "streaming.sinks.http_submit"}
    jobs = [s for s in tracer.spans if s["name"] == "exec.job" and s["parent"] is None]
    for p in progress:
        start = pd.Timestamp(p.timestamp).timestamp()
        end = start + p.durationMs.get("triggerExecution", 0) / 1e3
        req = f"steady:{p.batchId}"
        bid = tracer.add("streaming.batch", start, end, None, req, rows=p.numInputRows)
        owners = [(sink[req]["start"], sink[req]["end"], sink[req]["id"])] if req in sink else []
        t = start
        for ph in PHASES:
            d = p.durationMs.get(ph, 0) / 1e3
            pid = tracer.add(f"streaming.{ph}", t, t + d, bid, req)
            if ph == "addBatch" and req in sink:
                sink[req]["parent"] = pid
            owners.append((t, t + d, pid))
            t += d
        owners.append((start, end, bid))
        for j in jobs:
            owner = next((o for lo, hi, o in owners if lo <= j["start"] <= hi), None)
            if j["parent"] is None and owner is not None:
                j["parent"], j["req"] = owner, req


def stream_layers(layer, progress, gen, warm, arrivals, stream, count, warm_batch) -> None:
    """Per-layer metrics from the generator record, the receiver and the
    stream's recentProgress, over the batches after ``warm_batch``."""
    acks = [(a - s) * 1e3 for a, s in zip(gen["acked"], gen["sent"])]
    layer["sources.http_bridge.ack_p50_ms"] = common.median(acks)
    layer["sources.http_bridge.ack_p99_ms"] = common.pct(acks, 99)
    layer["sources.http_bridge.post_per_s"] = WARMUP / (max(warm["acked"]) - min(warm["sent"]))
    layer["sources.spool.files"] = count
    batches = [p for p in progress if p.numInputRows > 0]
    layer["streaming.batches"] = len(batches)
    layer["streaming.rows_per_batch_p50"] = common.median([p.numInputRows for p in batches])
    for ph in PHASES:
        vals = [p.durationMs.get(ph, 0) for p in batches]
        layer[f"streaming.{ph}_ms"] = float(sum(vals))
        layer[f"streaming.{ph}_ms_p50"] = common.median(vals)
    files = sum(p.numInputRows for p in batches)
    layer["streaming.getBatch_ms_per_file"] = layer["streaming.getBatch_ms"] / files if files else 0.0
    layer["streaming.files_read"] = files
    ops = [p.stateOperators[0] for p in batches if p.stateOperators]
    layer["streaming.state_rows"] = max((o.numRowsTotal for o in ops), default=0)
    layer["streaming.state_memory_bytes"] = max((o.memoryUsedBytes for o in ops), default=0)
    # backlog: files acknowledged by the bridge but not yet read, at each trigger
    acked = sorted(gen["acked"])
    consumed, backlog = 0, 0
    for p in batches:
        t = pd.Timestamp(p.timestamp).timestamp()
        backlog = max(backlog, sum(1 for a in acked if a <= t) - consumed)
        consumed += p.numInputRows
    layer["sources.spool.backlog_max_files"] = backlog
    layer["streaming.sinks.http_submit_ms"] = sum(e - s for b, s, e in stream.sink_calls if b > warm_batch) * 1e3
    layer["streaming.sinks.features_posted"] = len(arrivals)
    layer["pipeline.tracks.results_per_event"] = len(arrivals) / count
