"""The benchmark's own tests: its checks catch a corrupted result, its
open-loop timing counts a stall from each delivery's due time, and its
inputs are a pure function of the seed. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import common  # noqa: E402
import datagen  # noqa: E402
import loadgen  # noqa: E402
import oracle  # noqa: E402
import webhook  # noqa: E402


@pytest.mark.parametrize("rows", [5, 60_000])
def test_compare_fails_on_a_corrupted_result(rows):
    """Both comparison paths (canon_df rows and the sorted numeric fast
    path for large all-numeric results) accept a reordered copy and
    reject a copy with one corrupted cell."""
    rng = np.random.default_rng(0)
    want = pd.DataFrame({"id_a": np.arange(rows), "id_b": rng.integers(0, 9, rows),
                         "dist_sq": rng.random(rows)})
    got = want.sample(frac=1.0, random_state=1).reset_index(drop=True)[["dist_sq", "id_b", "id_a"]]
    assert oracle.compare(got, want) is None
    bad = got.copy()
    bad.loc[rows // 2, "dist_sq"] += 1e-9
    assert oracle.compare(bad, want) is not None
    assert oracle.compare(got.iloc[1:], want) is not None
    assert oracle.compare(got.rename(columns={"id_a": "x"}), want) is not None


def test_compare_fails_on_a_corrupted_string_result():
    want = pd.DataFrame({"id": ["inreach-1", "inreach-2"], "msg_id": [3, 4], "cot_type": ["a", None]})
    assert oracle.compare(want.iloc[::-1], want) is None
    bad = want.copy()
    bad.loc[0, "cot_type"] = "b-a-o-tbl"
    assert oracle.compare(bad, want) is not None


class _StallingBridge:
    """A bridge stand-in whose first reply stalls for ``stall_s``."""

    def __init__(self, stall_s: float) -> None:
        self.calls = 0
        outer = self

        class H(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                self.rfile.read(int(self.headers.get("Content-Length", 0)))
                outer.calls += 1
                if outer.calls == 1:
                    time.sleep(stall_s)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *a):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/wh"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def test_stalled_bridge_is_timed_from_due_time():
    """Open loop: with one connection and a 0.6 s stall on the first
    POST, the deliveries due during the stall are sent late; their
    round trip measured from the due time includes the wait, and the
    generator reports how late it ran."""
    bridge = _StallingBridge(0.6)
    try:
        t0 = time.time() + 0.2
        rec = loadgen.run(bridge.url, seed=1, first=1, count=30, rate=20.0, t0=t0, devices=50, conns=1)
    finally:
        bridge.close()
    assert rec["status"] == [200] * 30
    assert rec["due"] == pytest.approx([t0 + i / 20.0 for i in range(30)])
    from_due = [a - d for a, d in zip(rec["acked"], rec["due"])]
    from_send = [a - s for a, s in zip(rec["acked"], rec["sent"])]
    # delivery 1 (due 0.05 s after the stalled one) waited for the stall
    assert from_due[1] >= 0.5 and from_send[1] < 0.3
    assert max(s - d for s, d in zip(rec["sent"], rec["due"])) >= 0.5  # generator lateness
    assert from_due[-1] < 0.3  # the backlog drained once the stall ended


def test_stalled_receiver_delays_emit_latency_from_due():
    """A receiver that stalls each reply holds back the sender's next
    POST; emit latency is arrival minus due time, so the queue the
    stall builds shows in every later delivery."""
    receiver = webhook.Receiver(stall_s=0.2)
    try:
        t0 = time.time() + 0.1
        due = {m: t0 + (m - 1) * 0.05 for m in range(1, 7)}
        for m, d in due.items():
            time.sleep(max(0.0, d - time.time()))
            loadgen.post(receiver.url, json.dumps(
                {"type": "FeatureCollection", "features": [{"id": f"inreach-{m}", "msg_id": m}]}).encode())
        lat = webhook.emit_latencies_ms(due, receiver.first_arrivals())
    finally:
        receiver.stop()
    assert len(lat) == 6
    assert lat[-1] >= 5 * (200 - 50) * 0.9  # five stalls queued ahead of it
    assert lat == sorted(lat)


def test_unresolved_counts_superseded_deliveries_as_done():
    plan = {1: "inreach-a", 2: "inreach-b", 3: "inreach-a", 4: "inreach-c"}
    arrivals = {2: ("inreach-b", 1.0), 3: ("inreach-a", 1.0)}  # 1 superseded by 3
    assert webhook.unresolved(plan, arrivals) == [4]


def test_inputs_are_a_pure_function_of_the_seed(tmp_path):
    for d in ("a", "b"):
        datagen.write_tables(str(tmp_path / d), seed=7, sf=0.01)
    for name in oracle.TABLES:
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes(), name
    datagen.write_tables(str(tmp_path / "c"), seed=8, sf=0.01)
    assert (tmp_path / "c" / "lineitem.parquet").read_bytes() != (tmp_path / "a" / "lineitem.parquet").read_bytes()
    short, long_ = datagen.delivery_plan(3, 100, 4000), datagen.delivery_plan(3, 500, 4000)
    assert (short[0] == long_[0][:100]).all() and (short[1] == long_[1][:100]).all()


def test_self_time_subtracts_covered_child_time():
    tr = common.Tracer(True)
    root = tr.add("queries.run", 0.0, 10.0)
    tr.add("exec.stage", 1.0, 4.0, root)
    tr.add("exec.stage", 3.0, 5.0, root)  # overlaps the first
    tr.add("exec.stage", 9.0, 12.0, root)  # runs past the parent's end
    assert tr.self_times()["queries.run"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert common.covered_time([(1.0, 4.0), (3.0, 5.0)], 0.0, 10.0) == pytest.approx(4.0)


def test_batch_jobs_go_under_the_span_they_started_in():
    """A micro-batch's Spark jobs move under the sink span when they
    start inside the sink call, else under the phase they started in;
    the sink span moves under ``addBatch``."""
    from types import SimpleNamespace

    tr = common.Tracer(True)
    t0 = 1_700_000_000.0
    sink = tr.add("streaming.sinks.http_submit", t0 + 2.1, t0 + 2.9, None, "steady:3")
    in_get = tr.add("exec.job", t0 + 0.5, t0 + 1.4, None, "steady")
    in_sink = tr.add("exec.job", t0 + 2.2, t0 + 2.8, None, "steady")
    other = tr.add("exec.job", t0 + 9.0, t0 + 9.5, None, "steady")
    progress = [SimpleNamespace(
        batchId=3, numInputRows=10, timestamp=pd.Timestamp(t0, unit="s").isoformat() + "Z",
        durationMs={"triggerExecution": 3000, "latestOffset": 100, "walCommit": 100, "getBatch": 1500,
                    "queryPlanning": 100, "addBatch": 1000, "commitOffsets": 100})]
    webhook.batch_spans(tr, progress)
    names = {s["id"]: s["name"] for s in tr.spans}
    assert names[tr.spans[in_get]["parent"]] == "streaming.getBatch"
    assert tr.spans[in_sink]["parent"] == sink
    assert names[tr.spans[sink]["parent"]] == "streaming.addBatch"
    assert tr.spans[other]["parent"] is None
    assert tr.spans[in_get]["req"] == tr.spans[in_sink]["req"] == "steady:3"
