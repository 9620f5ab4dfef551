"""Benchmark of the market engine: one named workload, one seed.

    python3 perfbench/run.py --workload market_tick --seed 1 --seconds 12 --trace 0

Workloads (closed loop, one client, Spark at local[nproc]):

* market_tick: backfill a warehouse, then hourly ticks on a simulated
  clock (update_all, premium/WMA-120, one alert micro-batch, gap audit);
* query_suite: passes over registry rows in a seeded order, noop sink.

Set-up (session start, input generation and seeding, the backfill) is
timed, and repeated where it is cheap. Warm-up operations follow,
untimed; they also produce outputs that are checked. Then rounds of
operations (one tick, one pass over the rows) run back to back: one
round, then more while the next should end within ``--seconds``.

End-to-end metrics, the same four on every workload:

* ``setup_s``: session start plus the median set-up;
* ``op_p50_s``: median time of one operation (a tick, a query);
* ``pass_s``: sum over the operation's steps of each step's median
  (the four tick steps; each query row, so the suite time);
* ``result_p50_s``: median time from an operation's start until its
  output reached the user: the alert at ``notify`` on market_tick, the
  end of the query on query_suite.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the metrics are the per-layer
ones, from the traced rounds of the workload's ``trace_pattern``.
query_suite runs plain, traced, traced, plain passes, so the tracing
overhead compares matched rounds and a steady drift from one pass to
the next cancels. market_tick traces its one tick and does not measure
the overhead: its ticks drift from one to the next by more than tracing
costs, and a matched set of ticks does not fit the run time. A metric
that does not apply to the workload reads 0 and is listed under
``not_measured``. The line before the result holds the details: seed,
cpus, host calibration, error rate, failures, per-op and tail latency,
peak memory, per-step medians, and in a traced run the end-to-end
metric each layer metric is predicted to move on this workload.

All generated data, warehouses, Spark scratch space and event logs live
under ``.perfbench_work/`` in the checkout and are removed at the start
of each run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# predictions shared by every workload; each workload adds its own
COMMON_PREDICTS = {
    "session.start_s": "setup_s", "catalyst.plan_s": "op_p50_s",
    "spark.jobs": "pass_s", "spark.stages": "pass_s", "spark.tasks": "pass_s",
    "spark.sched_s": "pass_s", "driver.self_s": "pass_s", "sink.write_s": "op_p50_s",
    "exec.task_s": "pass_s", "exec.cpu_s": "pass_s", "exec.gc_s": "pass_s",
}


def host_env() -> int:
    """Fit Spark to this host before the package is imported."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        # every JVM, the launcher included, keeps its temp files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers (mapInPandas fetches) import the package and
        # the benchmark's feeds from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    sys.path.insert(0, ROOT)
    return cpus


def tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (1 - 10 / n))
    s = sorted(values)
    return {"percentile": p, "samples": n,
            "value": s[min(n - 1, math.ceil(p / 100 * n) - 1)]}


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python process and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}


def run_round(wl) -> list[dict]:
    """One round of ``wl.round_ops()`` operations."""
    out = []
    for _ in range(wl.round_ops()):
        res = wl.run_op()
        if res is not None:
            res["run"] = wl.next_op - 1
            out.append(res)
    return out


def run_cycles(wl, seconds: float, pattern=(False,), on=None, off=None) -> list[list[dict]]:
    """Cycles of rounds, back to back: one cycle, then more while the
    next should end within ``seconds`` (judged by the last one) and the
    workload has operations left. ``pattern`` says which rounds of a
    cycle are traced; ``on`` and ``off`` bracket those. Returns the
    results of each round, in the order of ``pattern``."""
    out: list[list[dict]] = [[] for _ in pattern]
    t0 = time.perf_counter()
    last = None
    while last is None or (time.perf_counter() - t0 + last <= seconds
                           and wl.ops_left() >= len(pattern) * wl.round_ops()):
        start = time.perf_counter()
        for k, traced in enumerate(pattern):
            if traced:
                on()
            try:
                out[k].extend(run_round(wl))
            finally:
                if traced:
                    off()
        last = time.perf_counter() - start
        if len(wl.failures) > 20:
            break
    return out


def step_medians(ops: list[dict]) -> dict[str, float]:
    steps: dict[str, list[float]] = {}
    for r in ops:
        for k, v in r["steps"].items():
            steps.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in steps.items()}


def end_to_end(ops: list[dict], setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(r["latency"] for r in ops),
        "pass_s": sum(step_medians(ops).values()),
        "result_p50_s": statistics.median(r["result"] for r in ops),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    cpus = host_env()

    from bench import host_calibration
    from binancedatapipeline_spark.session import get_session
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(WORK, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    tracer = trace.Tracer()
    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0

    wl = WORKLOADS[args.workload](spark, WORK, args.seed, tracer, cpus)
    setups = []
    for k in range(wl.setup_repeats):
        t0 = time.perf_counter()
        wl.setup(k)
        setups.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(setups)
    wl.warm()

    if args.trace:
        def on() -> None:
            wl.trace_on(tracer)
            tracer.active = True

        def off() -> None:
            tracer.active = False
            tracer.unwrap_all()
            wl.trace_off()

        # the planning listener stays registered for the plain rounds
        # too: its callbacks run off the query's thread
        tracer.listen_planning(spark)
        pattern = wl.trace_pattern
        rounds = run_cycles(wl, args.seconds, pattern, on, off)
        plain = [r for k, rs in enumerate(rounds) if not pattern[k] for r in rs]
        traced = [r for k, rs in enumerate(rounds) if pattern[k] for r in rs]
        ops = plain + traced
    else:
        (ops,) = run_cycles(wl, args.seconds)
    wl.check()
    rss = peak_rss_mb(spark)
    calibration = host_calibration(repeats=1)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)

    e2e_units, layer_units = declared()
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "host_calibration": calibration, "seconds": args.seconds, "trace": args.trace,
        "error_rate": len(wl.failures) / max(wl.attempted, 1),
        "failures": wl.failures[:20], "setups_s": setups,
        "op_s": {r["run"]: r["latency"] for r in sorted(ops, key=lambda r: r["run"])},
        "step_p50_s": step_medians(ops), "op_tail": tail([r["latency"] for r in ops]),
        "peak_rss_mb": rss,
    }
    if args.trace:
        detail["spans"] = os.path.join(WORK, "spans.jsonl")
        tracer.write(detail["spans"])
        a = trace.Attribution(tracer, trace.read_event_log(events),
                              {r["run"] for r in traced})
        n = a.n_ops()
        layers = {"session.start_s": session_s, "peak_rss_mb": sum(rss.values()),
                  "sink.write_s": a.total("sink.write") / n}
        layers.update({k: v / n for k, v in a.spark_split().items()})
        layers.update(wl.layers(a, [r["run"] for r in traced]))
        if plain:
            # plain and traced rounds run the same operations, so their
            # summed times compare like with like
            layers["trace.overhead_ratio"] = (
                sum(r["latency"] for r in traced) / sum(r["latency"] for r in plain) - 1
            )
        predicts = {**COMMON_PREDICTS, **wl.predicts}
        detail["predicts"] = {k: predicts.get(k, "no change") for k in layer_units}
        detail["not_measured"] = [k for k in layer_units if k not in layers]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in layer_units.items()}
    else:
        e2e = end_to_end(ops, setup_s)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
