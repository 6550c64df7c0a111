"""Run one benchmark workload and print its metrics as one JSON line.

    python3 e2ebench/run.py --workload batch|index --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the synthetic corpus
under ``.e2ebench_work/`` (untimed). Each run starts a plain
``SparkSession`` (``local[nproc]``), runs an untimed warm-up (batch:
each lane twice, index: one cycle), then times whole passes or cycles
until ``--seconds`` have passed and at least the workload's minimum has
run (batch: 3 passes, index: 1 cycle; twice that with ``--trace 1``).
An index cycle ends with a leg of requests through
``streaming.serving``. Outputs are checked after the timed window; a wrong or failed operation counts as
attempted and not as good. With ``--trace 1`` the timed steps alternate
untraced and traced, the per-layer metrics come from the traced steps,
the spans are written to ``.e2ebench_work/trace/`` and the tracing
overhead compares each traced step with its untraced neighbours.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".e2ebench_work")
# stop starting timed steps after this long (once the minimum has run),
# so a run on a slow host still ends within three minutes
DEADLINE_S = 110.0


def _units(kind: str) -> dict[str, str]:
    """Metric names and units, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("batch", "index"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: a small corpus and injected faults
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    p.add_argument("--inject",
                   choices=("wrong_lane", "failed_phase", "failed_request"))
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mmlspark_spark")):
        print(f"e2ebench: no mmlspark_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import numpy as np

    from e2ebench import corpus, harness

    g0 = time.perf_counter()
    data = corpus.ensure(WORK, args.scale)
    gen_s = time.perf_counter() - g0
    host = {"nproc": os.cpu_count(), "load_start": os.getloadavg()}
    rng = np.random.default_rng(args.seed)

    s0 = time.perf_counter()
    spark = harness.start_session(ROOT, WORK)
    session_s = time.perf_counter() - s0
    try:
        tr = harness.Tracer(spark, enabled=bool(args.trace))
        if args.workload == "batch":
            from e2ebench.batch import Batch
            wl = Batch(spark, tr, data, rng, args.inject)
        else:
            from e2ebench.index import Index
            wl = Index(spark, tr, data, rng, args.inject, WORK)
        workers = {}

        def start_workers():
            with tr.span("core.workers") as sp:
                harness.start_workers(spark)
            workers.update(sp)

        with tr.span("core.warm") as warm:
            harness.warm_concurrently([start_workers] + wl.warm_tasks())
        setup_s = time.perf_counter() - T0 - gen_s

        steps = []  # (seconds, traced, span id)
        attempted = 0
        need = wl.min_steps * (2 if args.trace else 1)
        t_win = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(steps) % 2 == 1
            tr.active = traced
            with tr.span("step", op=f"step{len(steps)}") as st:
                attempted += wl.step(len(steps))
            steps.append((st["s"], traced, st["id"]))
            now = time.perf_counter()
            if len(steps) >= need and (now - t_win >= args.seconds
                                       or now - T0 > DEADLINE_S):
                break
        tr.active = False
        c0 = time.perf_counter()
        good = wl.finish()
        check_s = time.perf_counter() - c0
        driver_mb, jvm_mb = harness.peak_rss_mb(spark)
        host["load_end"] = os.getloadavg()
        print(f"# {args.workload} seed={args.seed} host={host} "
              f"steps={[round(s, 3) for s, _, _ in steps]} "
              f"attempted={attempted} good={good} setup_s={setup_s:.3f} "
              f"corpus_s={gen_s:.3f} check_s={check_s:.3f}", file=sys.stderr)

        if not args.trace:
            plain = [s for s, _, _ in steps]
            metrics = {
                "latency_s": harness.median(plain),
                "setup_s": setup_s,
                "goodput_per_s": good / sum(plain),
                "peak_rss_mb": driver_mb + jvm_mb,
            }
            units = _units("end_to_end")
        else:
            metrics = _layers(tr, wl, steps, session_s, workers, warm,
                              driver_mb, jvm_mb, host, args)
            units = _units("per_layer")
    finally:
        _stop(spark)
    print(json.dumps({
        "correct": good == attempted, "attempted": attempted,
        "failed": attempted - good,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


def _layers(tr, wl, steps, session_s, workers, warm, driver_mb, jvm_mb,
            host, args) -> dict[str, float]:
    """Per-layer metrics: medians over the traced steps of each step's
    totals; the per-lane / per-phase breakdown goes to the trace file."""
    from e2ebench import harness

    tr.attach_spark()
    tr.self_times()
    kids: dict[int, list[dict]] = {}
    for s in tr.spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(root_id):
        out, todo = [], [root_id]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c["id"])
        return out

    traced = [sid for _, t, sid in steps if t]
    per_step: dict[str, list[float]] = {}
    timed_ids: set[int] = set()
    for sid in traced:
        desc = under(sid)
        timed_ids.update(d["id"] for d in desc)
        ops = [d for d in desc if d["name"] in harness.OP_SPANS]
        row = {
            "core.release_s": sum(d["s"] for d in desc
                                  if d["name"] == "core.release"),
            "plans.build_s": sum(d["s"] for d in desc
                                 if d["name"] == "plans.build"),
            "plans.action_s": sum(d["s"] for d in desc
                                  if d["name"] == "plans.action"),
            "py4j.calls": float(tr.spans[sid]["py4j.calls"]),
            "py4j.s": tr.spans[sid]["py4j.s"],
        }
        for k in harness.SPARK_KEYS:
            row[k] = sum(d.get(k, 0.0) for d in ops)
        for k, v in row.items():
            per_step.setdefault(k, []).append(v)
    # each traced step against the mean of its untraced neighbours, so a
    # steady speed-up across the run does not read as tracing overhead
    ratios = []
    for i, (s, t, _) in enumerate(steps):
        near = [steps[j][0] for j in (i - 1, i + 1)
                if t and 0 <= j < len(steps) and not steps[j][1]]
        if near:
            ratios.append(s / (sum(near) / len(near)))
    metrics = {k: harness.median(v) for k, v in per_step.items()}
    metrics.update({
        "core.session_s": session_s,
        "core.workers_s": workers["s"],
        "core.warm_s": warm["s"],
        "mem.driver_rss_mb": driver_mb,
        "mem.jvm_rss_mb": jvm_mb,
        "trace.overhead_pct": 100.0 * (harness.median(ratios) - 1.0),
    })
    detail = {k: harness.median(v)
              for k, v in wl.layers(tr.spans, timed_ids).items() if v}
    for k in sorted(detail):
        print(f"# {k}: {detail[k]:.4f}", file=sys.stderr)
    print(f"# tracing overhead: {metrics['trace.overhead_pct']:.2f}% "
          f"(steps {[(round(s, 3), t) for s, t, _ in steps]})",
          file=sys.stderr)
    tr.dump(os.path.join(WORK, "trace",
                         f"{args.workload}-seed{args.seed}-{os.getpid()}"
                         ".json"),
            {"workload": args.workload, "seed": args.seed, "host": host,
             "per_layer": metrics, "detail": detail,
             "steps": [{"s": s, "traced": t} for s, t, _ in steps]})
    return metrics


if __name__ == "__main__":
    sys.exit(main())
