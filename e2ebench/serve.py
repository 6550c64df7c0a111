"""The ``streaming.serving`` leg of the ``index`` workload.

A serving stream (``register_serving_source`` → ``upper(text)`` reply →
``serving_sink`` at its default trigger) starts during the warm-up and
stays up for the run. Each step ends with one leg: evenly spaced
requests, open loop, over at most ``nproc`` keep-alive connections in
this process, first at the ``lo`` rate, where most micro-batches carry
one request, then at the ``hi`` rate, where most carry several. Latency
is timed from each request's due time, so a late load generator shows
as latency (and in ``serve.late_max_s``). Replies are checked after the
timed window: each must be a 200 whose body is ``upper(text)``; a
timeout or any other status is a failure.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import statistics
import sys
import threading
import time
from datetime import datetime

from pyspark.sql import functions as F

from mmlspark_spark.streaming import (make_reply, register_serving_source,
                                      serving_sink)
from mmlspark_spark.streaming.serving import (get_server_token,
                                              start_serving_server,
                                              stop_server)

NAME = "e2ebench"
# rate name -> (requests per leg, requests per second)
RATES = {"lo": (6, 5.0), "hi": (30, 15.0)}
CLIENTS = min(os.cpu_count() or 1, 4)
TIMEOUT_S = 10.0
LIMIT_S = 0.5  # a reply later than this is correct but not "within limit"
# StreamingQueryProgress.durationMs parts, reported per rate
PARTS = {"batch_s": "triggerExecution", "latest_offset_s": "latestOffset",
         "get_batch_s": "getBatch", "query_planning_s": "queryPlanning",
         "add_batch_s": "addBatch", "wal_commit_s": "walCommit"}


def _iso(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class Serve:
    def __init__(self, spark, tracer, words, inject, checkpoint):
        self.spark, self.tr, self.words = spark, tracer, words
        self.inject, self.checkpoint = inject, checkpoint
        self.query = None
        # leg tag -> rate -> [(due, sent, done, status, body, text)]
        self.sent: dict[str, dict[str, list]] = {}
        # leg tag -> rate -> (wall start, wall end), traced legs only
        self.windows: dict[str, dict[str, tuple[float, float]]] = {}
        self.progress: dict[int, dict] = {}  # batch id -> progress

    def start(self) -> None:
        """Warm-up task: start the server and the stream, then send one
        untimed leg so the reply plan is compiled."""
        register_serving_source(self.spark)
        port = start_serving_server(NAME)
        req = (self.spark.readStream.format("http_serving")
               .option("port", str(port))
               .option("drainToken", get_server_token(NAME)).load())
        logic = req.select("id", make_reply(F.upper(F.get_json_object(
            F.col("body").cast("string"), "$.text"))).alias("reply"))
        self.port = port
        self.query = serving_sink(logic, NAME, checkpoint=self.checkpoint)
        self.leg("warm")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        stop_server(NAME)

    def leg(self, tag: str) -> int:
        """One leg, ``lo`` then ``hi``; returns the requests attempted."""
        self.sent[tag] = {}
        for rate, (n, per_s) in RATES.items():
            w0 = time.time()
            with self.tr.span("serve", op=f"{tag}.serve.{rate}", rate=rate):
                self.sent[tag][rate] = self._burst(tag, rate, n, per_s)
            if self.tr.active:
                self.windows.setdefault(tag, {})[rate] = (w0, time.time())
        if self.tr.active:
            with self.tr.untraced():
                for p in self.query.recentProgress:
                    self.progress[p["batchId"]] = p
        return sum(n for n, _ in RATES.values())

    def _burst(self, tag, rate, n, per_s) -> list:
        t0 = time.perf_counter() + 0.005
        out: list = [None] * n
        # injected fault: the first timed hi request gives up at once
        bad = 0 if (self.inject == "failed_request" and tag == "c0"
                    and rate == "hi") else None

        def client(c: int) -> None:
            conn = None
            for i in range(c, n, CLIENTS):
                due = t0 + i / per_s
                if due > time.perf_counter():
                    time.sleep(due - time.perf_counter())
                sent = time.perf_counter()
                text = f"{self.words[i % len(self.words)]} {tag}-{rate}-{i}"
                status, body = None, b""
                try:
                    if conn is None:
                        conn = http.client.HTTPConnection(
                            "127.0.0.1", self.port, timeout=TIMEOUT_S)
                    conn.request("POST", "/score", json.dumps({"text": text}),
                                 {"Content-Type": "application/json"})
                    if i == bad:
                        conn.sock.settimeout(0.001)
                    r = conn.getresponse()
                    status, body = r.status, r.read()
                except (OSError, http.client.HTTPException):
                    conn.close()
                    conn = None
                out[i] = (due, sent, time.perf_counter(), status, body, text)
            if conn is not None:
                conn.close()

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(min(CLIENTS, n))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    @staticmethod
    def _ok(rec) -> bool:
        _, _, _, status, body, text = rec
        if status != 200:
            return False
        try:
            return json.loads(body) == {"value": text.upper()}
        except ValueError:
            return False

    def good(self) -> int:
        """Untimed check: correct replies over the timed legs."""
        bad = [(tag, rate, i) for tag, legs in self.sent.items()
               for rate, recs in legs.items()
               for i, rec in enumerate(recs) if not self._ok(rec)]
        for b in bad:
            print(f"# check FAILED: serve {b}", file=sys.stderr)
        return sum(1 for tag, legs in self.sent.items() if tag != "warm"
                   for recs in legs.values() for rec in recs
                   if self._ok(rec))

    def layers(self, traced_tags: set[str]) -> dict[str, list[float]]:
        """Per-rate latency and micro-batch breakdown of the traced legs:
        each value is a list whose median is the reported figure."""
        out: dict[str, list[float]] = {}
        late = []
        for rate in RATES:
            recs = [r for tag in traced_tags
                    for r in self.sent.get(tag, {}).get(rate, [])]
            wins = [self.windows[tag][rate] for tag in traced_tags
                    if tag in self.windows]
            lat = sorted(done - due for due, _, done, *_ in recs)
            late += [sent - due for due, sent, *_ in recs]
            batches = [p for p in self.progress.values()
                       if p["numInputRows"] > 0
                       and any(w0 <= _iso(p["timestamp"]) <= w1
                               for w0, w1 in wins)]
            pre = f"serve.{rate}."
            out[pre + "p50_s"] = lat
            out[pre + "rows_per_batch"] = [float(p["numInputRows"])
                                           for p in batches]
            out[pre + "batches_per_100_req"] = [
                100.0 * len(batches) / max(len(recs), 1)]
            for k, part in PARTS.items():
                out[pre + k] = [p["durationMs"].get(part, 0) / 1e3
                                for p in batches]
            if lat and batches:
                # latency beyond the batch that answered, in medians
                out[pre + "trigger_wait_s"] = [
                    statistics.median(lat)
                    - statistics.median(out[pre + "batch_s"])]
            within = sum(1 for r in recs
                         if r[2] - r[0] <= LIMIT_S and self._ok(r))
            legs = sum(w1 - w0 for w0, w1 in wins)
            out[pre + "goodput_per_s"] = [within / legs] if legs else []
            if rate == "hi" and len(lat) > 10:
                # the highest percentile with at least 10 samples beyond
                # it; the key names the percentile and the sample count
                pct = math.floor(100.0 * (len(lat) - 10) / len(lat))
                out[f"serve.hi.p{pct}_of_{len(lat)}_s"] = [lat[-11]]
        out["serve.late_max_s"] = [max(late)] if late else []
        return out
