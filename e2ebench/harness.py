"""Session start, spans and per-layer counters for the benchmark.

Every layer is measured from outside the package: spans wrap the
benchmark's own calls into the package's public functions, py4j round
trips are counted by wrapping the gateway client in this process, and
Spark's jobs and stages are read back from the application's status REST
endpoint (the plain session's UI is on by default) and attributed to the
span during which each job was submitted. Ops run one at a time on one
driver thread, so submission time identifies the span even for jobs the
package launches from its own worker threads, which do not inherit the
job group the benchmark sets.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import tempfile
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# The session carries only harness settings. Catalog lanes apply
# configure_session to whatever session they are given, so a conf-only
# change to get_spark moves no metric.
DRIVER_MEMORY = "2g"


def start_session(root: str, work: str):
    """A plain ``SparkSession``: ``local[nproc]`` plus the harness's own
    local dirs, driver memory and worker PYTHONPATH — nothing else."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the harness's local dir, not one inherited from the environment
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    spark = (SparkSession.builder
             .master(f"local[{os.cpu_count()}]")
             .appName("e2ebench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .config("spark.executorEnv.PYTHONPATH", root)
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_workers(spark) -> None:
    """Start the python workers (one task per core) and import pandas
    and pyarrow in them, so the first lane does not pay for it."""
    import pandas as pd

    def touch(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    n = os.cpu_count()
    spark.range(0, n, 1, n).mapInPandas(touch, "id long").count()


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver python, JVM) peak resident set size in MB."""
    driver = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return driver, jvm


class Py4jCounter:
    """Counts round trips through this process's py4j gateway client and
    the time spent in them. Installed only for traced runs."""

    def __init__(self, spark):
        self.calls = 0
        self.seconds = 0.0
        self.paused = False
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.paused:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.calls += 1
                    self.seconds += dt

        client.send_command = counted

    def read(self) -> tuple[int, float]:
        with self._lock:
            return self.calls, self.seconds


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class StatusReader:
    """Reads finished jobs and stages from the status REST endpoint."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self._bus = sc._jsc.sc().listenerBus()
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def refresh(self) -> None:
        self._bus.waitUntilEmpty()
        for j in self._get("jobs"):
            self.jobs[j["jobId"]] = {
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "stages": j["stageIds"]}
        for s in self._get("stages?status=complete"):
            self.stages[s["stageId"]] = s


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans with name, start, end, parent and operation id. When
    ``enabled`` each span also records py4j calls and seconds; Spark
    counters are attached afterwards by :meth:`attach_spark`. Spans stay
    in memory and are written out by :meth:`dump`.

    ``active`` says whether the current step is a traced one: only then
    are py4j calls counted, jobs labelled and other tracing work done, so
    the untraced steps of a traced run carry no tracing cost."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self._active = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self.py4j = Py4jCounter(spark) if enabled else None
        self.status = StatusReader(spark) if enabled else None

    @property
    def active(self) -> bool:
        return self._active

    @active.setter
    def active(self, on: bool) -> None:
        self._active = self.enabled and on
        if self.py4j:
            self.py4j.paused = not self._active

    @property
    def _stack(self) -> list[int]:
        return self._local.__dict__.setdefault("stack", [])

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "wall_start": time.time(), "start": time.perf_counter(),
               **attrs}
        if self.py4j:
            rec["py4j0"] = self.py4j.read()
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._active and name in OP_SPANS:
            with self.untraced():  # label the op's jobs in Spark
                self.spark.sparkContext.setJobGroup(op, op)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            rec["s"] = rec["end"] - rec["start"]
            if self.py4j:
                c0, s0 = rec.pop("py4j0")
                c1, s1 = self.py4j.read()
                rec["py4j.calls"] = c1 - c0
                rec["py4j.s"] = s1 - s0

    @contextmanager
    def untraced(self):
        """Benchmark bookkeeping between ops: not counted as py4j work."""
        if not self.py4j:
            yield
            return
        was, self.py4j.paused = self.py4j.paused, True
        try:
            yield
        finally:
            self.py4j.paused = was

    def attach_spark(self) -> None:
        """Attach Spark job and stage counters to every op span. A job
        belongs to the op that was running when it was submitted."""
        with self.untraced():
            self.status.refresh()
        spans = [s for s in self.spans if s["name"] in OP_SPANS
                 and "end" in s]
        for s in spans:
            s.update({k: 0.0 for k in SPARK_KEYS})
            s["_jobs"] = []
        for jid, j in self.status.jobs.items():
            if j["start"] is None:
                continue
            owner = None
            for s in spans:
                if s["wall_start"] <= j["start"] <= s["wall_end"] and (
                        owner is None or s["wall_start"] >= owner["wall_start"]):
                    owner = s
            if owner is not None:
                owner["_jobs"].append(j)
        for s in spans:
            jobs = s.pop("_jobs")
            s["spark.jobs"] = float(len(jobs))
            s["spark.job_s"] = _union([
                (max(j["start"], s["wall_start"]),
                 min(j["end"] or s["wall_end"], s["wall_end"]))
                for j in jobs])
            s["driver.self_s"] = max(s["s"] - s["spark.job_s"], 0.0)
            for j in jobs:
                for sid in j["stages"]:
                    st = self.status.stages.get(sid)
                    if st is None:  # skipped: its shuffle output was reused
                        continue
                    s["spark.stages"] += 1
                    s["spark.tasks"] += st["numCompleteTasks"]
                    s["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                    s["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    s["spark.gc_s"] += st["jvmGcTime"] / 1e3
                    s["spark.input_mb"] += st["inputBytes"] / 2**20
                    s["spark.shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                    s["spark.shuffle_write_mb"] += \
                        st["shuffleWriteBytes"] / 2**20
                    s["spark.spill_mb"] += (st["memoryBytesSpilled"]
                                            + st["diskBytesSpilled"]) / 2**20
                    s["spark.output_mb"] += st["outputBytes"] / 2**20

    def self_times(self) -> None:
        """Self time: span time minus the part its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if "end" in s:
                s["self_s"] = s["s"] - _union(
                    [(c["start"], c["end"]) for c in kids.get(s["id"], [])
                     if "end" in c])

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


OP_SPANS = ("lane", "phase", "serve")
SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
              "driver.self_s", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.gc_s", "spark.input_mb",
              "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.spill_mb", "spark.output_mb")


def warm_concurrently(tasks) -> None:
    """Run untimed tasks on parallel driver threads: the warm-up, which
    only starts the python workers, loads classes, JIT-compiles and
    generates code, all process-wide, so it need not run in order; and
    the collects of the content checks."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        for fut in [pool.submit(t) for t in tasks]:
            fut.result()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
