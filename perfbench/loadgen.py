"""Webhook load generator: one process, at most CONNS concurrent
connections (capped at the core count), over the ``datagen.DEVICES``
device keys.

Open loop (``--rate R``): delivery i is due at ``t0 + i / R`` and is
stamped with its due time (``trackPoint.time``); it waits for a free
connection if all are busy, and its lateness is the send time minus
the due time. Closed loop (``--rate 0``): each connection sends its
next delivery as soon as the previous one is acknowledged; due time is
the send time.

Writes {"due", "sent", "acked", "status"} arrays (epoch seconds, one
entry per delivery, in msg_id order) to ``--out``.

    python3 perfbench/loadgen.py --url http://127.0.0.1:8080/wh --seed 1 \\
        --first 1 --count 1000 --rate 40 --t0 1700000000.0 --out gen.json
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import sys
import threading
import time
from urllib.parse import urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

CONNS = 2


def post(url: str, body: bytes) -> int:
    u = urlparse(url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=60)
    try:
        conn.request("POST", u.path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    except OSError:
        return 0
    finally:
        conn.close()


def run(url: str, seed: int, first: int, count: int, rate: float, t0: float,
        devices: int, conns: int) -> dict:
    """Send deliveries msg_id ``first`` .. ``first + count - 1`` of the
    seeded plan; returns the per-delivery timing record."""
    plan_dev, plan_em = datagen.delivery_plan(seed, first + count - 1, devices)
    due = [t0 + i / rate if rate > 0 else 0.0 for i in range(count)]
    sent, acked, status = [0.0] * count, [0.0] * count, [0] * count
    work: queue.Queue = queue.Queue()

    def send(i: int) -> None:
        m = first + i
        sent[i] = time.time()
        if rate <= 0:
            due[i] = sent[i]
        body = datagen.delivery(m, int(plan_dev[m - 1]), bool(plan_em[m - 1]), datagen.stamp_ms(due[i]))
        status[i] = post(url, json.dumps(body).encode())
        acked[i] = time.time()

    def worker() -> None:
        while True:
            i = work.get()
            if i is None:
                return
            send(i)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for i in range(count):
        if rate > 0:
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
        work.put(i)
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return {"due": due, "sent": sent, "acked": acked, "status": status}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--url", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, default=1)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    ap.add_argument("--t0", type=float, default=0.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    conns = min(CONNS, len(os.sched_getaffinity(0)))
    rec = run(a.url, a.seed, a.first, a.count, a.rate, a.t0 or time.time(), datagen.DEVICES, conns)
    with open(a.out, "w") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
