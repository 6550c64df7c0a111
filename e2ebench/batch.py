"""``batch`` workload: closed loop, one driver thread. Each pass runs the
data-bound headline lanes in a seed-permuted order, each as builder call
+ ``count()`` + ``release_intermediates``."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback

from mmlspark_spark.core.cache import release_intermediates
from mmlspark_spark.plans.catalog import CATALOG

from e2ebench import checks

# The headline lanes whose cost grows with the data. ngram_jaccard,
# minhash_dedup and sar_item_similarity are left out: in a plain session
# they cost 4-7 s a pass at any scale from sf0.001 to sf0.1 (shuffle-stage
# overhead, not data), which alone would exceed the run budget; the
# MinHash family is measured by the index workload instead.
LANES = ("tpch_q1", "summarize_data_approx", "broadcast_join_revenue",
         "sessionize", "text_featurize_pipeline", "knn_bruteforce")
# row counts of the lanes without a DuckDB oracle
ROWS_ONLY = {"summarize_data_approx": 4}  # one row per summarized column
TABLES = ("lineitem", "part", "events", "documents", "embeddings")


class Batch:
    # the first timed passes still speed up; a fixed count keeps the
    # median comparable from run to run
    min_steps = 3

    def __init__(self, spark, tracer, data, rng, inject):
        self.spark, self.tr, self.data = spark, tracer, data
        self.order = [LANES[i] for i in rng.permutation(len(LANES))]
        # injected fault: the first lane of the order returns one extra row
        self.wrong = self.order[0] if inject == "wrong_lane" else None
        self.observed: list[tuple[str, int | None]] = []
        self.digests: dict[str, dict] = {}  # lane -> rows and sha256

    def _build(self, lane):
        df = CATALOG[lane].fn(self.spark, self.data)
        return df.union(df.limit(1)) if lane == self.wrong else df

    def _lane(self, lane, tag) -> int | None:
        tr = self.tr
        try:
            with tr.span("lane", op=f"{tag}.{lane}", lane=lane):
                with tr.span("plans.build"):
                    df = self._build(lane)
                try:
                    with tr.span("plans.action"):
                        return df.count()
                finally:
                    with tr.span("core.release"):
                        release_intermediates(df)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None

    def _digest(self, lane) -> None:
        """Collect one lane's rows and keep their count and digest."""
        try:
            df = self._build(lane)
            rows = checks.spark_rows(df)
            release_intermediates(df)
            self.digests[lane] = {"rows": len(rows), "sha256": _sha(rows)}
        except Exception:
            traceback.print_exc(file=sys.stderr)

    def warm_tasks(self) -> list:
        """Each lane twice, the lanes on parallel threads: after a single
        warm run the first timed pass was still 15-25% slower than the
        second."""
        return [lambda lane=lane: (self._lane(lane, "warm"),
                                   self._lane(lane, "warm"))
                for lane in self.order]

    def step(self, i: int) -> int:
        """One timed pass; returns the number of operations attempted."""
        for lane in self.order:
            self.observed.append((lane, self._lane(lane, f"pass{i}")))
        return len(self.order)

    def finish(self) -> int:
        """Untimed checks after the timed passes: each lane's rows,
        collected once more here, against its DuckDB oracle (or its known
        row count), then every timed count against the oracle's row count.
        Returns the number of correct timed operations."""
        from e2ebench.harness import warm_concurrently

        warm_concurrently([lambda lane=lane: self._digest(lane)
                           for lane in self.order])
        want = _expected(self.data)
        ok = {}
        for lane in LANES:
            got = self.digests.get(lane)
            ok[lane] = got is not None and (
                got == want[lane] if "sha256" in want[lane]
                else got["rows"] == want[lane]["rows"])
            if not ok[lane]:
                print(f"# check FAILED: {lane}", file=sys.stderr)
        return sum(1 for lane, n in self.observed
                   if ok[lane] and n == want[lane]["rows"])

    def layers(self, spans, timed: set[int]) -> dict[str, list[float]]:
        """Per-lane wall times of the timed passes (trace file only)."""
        out: dict[str, list[float]] = {}
        for s in spans:
            if s["name"] == "lane" and s["id"] in timed:
                out.setdefault(f"batch.{s['lane']}_s", []).append(s["s"])
        return out


def _sha(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _expected(data: str) -> dict[str, dict]:
    """Each lane's expected row count and, where the catalog has a DuckDB
    oracle, the digest of the oracle's normalized rows. The corpus is
    fixed, so the oracles run once per corpus and oracle text (some take
    tens of seconds) and the result is kept beside the corpus."""
    key = hashlib.sha256(repr([(lane, CATALOG[lane].oracle)
                               for lane in LANES]).encode()).hexdigest()
    path = os.path.join(data, f"batch-expected-{key[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = checks.duck_con(data, {t: "" for t in TABLES})
    out = {}
    for lane in LANES:
        oracle = CATALOG[lane].oracle
        if oracle is None:
            out[lane] = {"rows": ROWS_ONLY[lane]}
        else:
            rows = checks.oracle_rows(con, oracle)
            out[lane] = {"rows": len(rows), "sha256": _sha(rows)}
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
