"""Benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload job_resume --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the
measuring time between untraced passes and traced ones (spans plus a Spark
event log), adds the per-layer probes, and prints the per-layer metrics.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (name ->
value and unit).  The line before it starts with ``# run`` and records
cores, input shape, seed, every pass and set-up time and the failed
fraction.

Protocol, closed loop with one client on ``local[<cores>]``:

1. make the inputs from ``--seed`` (cached under ``perfbench/.work``);
2. one untimed warm pass, which brings the JVM close to steady state and
   keeps the outputs that the correctness check reads;
3. timed passes back to back until they add up to ``--seconds``, and at
   least three, so that the median drops the slowest one, each on
   a fresh session, the way each ``spark-submit`` of a job starts anew and
   so that no kernel memo holds a document of the pass.  Set-up = session
   restart plus forking one Python worker per core; it runs before every
   timed pass, and at least three times;
4. the correctness check, outside the timed region.

Every reported time is the median of its samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import launch

MIN_SETUPS = 3
# pass times still fall over the first passes after the warm pass (by ~15%
# from the first to the second on a 4-core box): the median of three drops it
MIN_PASSES = 3
RUN_TIMEOUT_S = 170  # a run must end within 180 s
END_TO_END = (("docs_per_s", "1/s", "higher"), ("run_s", "s", "lower"),
              ("setup_s", "s", "lower"))


class Sessions:
    """The current Spark session, restarted with set-up timing."""

    def __init__(self):
        from workloads import fork_workers

        self.spark, self.start_s = launch.start_session()
        fork_workers(self.spark)
        self.setups: list[float] = []
        self.restarts: list[float] = []

    def fresh(self, event_log_dir: str | None = None, record: bool = True):
        from workloads import fork_workers

        self.spark.stop()  # its Python workers, and their kernel memos, end too
        t0 = time.perf_counter()
        self.spark, restart = launch.start_session(event_log_dir)
        fork_workers(self.spark)
        if record:
            self.setups.append(time.perf_counter() - t0)
            self.restarts.append(restart)
        return self.spark


def timed_passes(sessions, wl, seconds: float, tracer=None, log_dir=None) -> list[float]:
    """Passes until they add up to ``seconds`` and number at least
    ``MIN_PASSES``, each on a fresh session."""
    from tracing import Tracer

    tracer = tracer or Tracer("untraced", enabled=False)
    times: list[float] = []
    while sum(times) < seconds or len(times) < MIN_PASSES:
        getattr(wl, "before_pass", lambda: None)()
        spark = sessions.fresh(log_dir, record=log_dir is None)
        tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        with tracer.span("pass"):
            wl.run_pass(spark, tracer)
        times.append(time.perf_counter() - t0)
    return times


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from tracing import median
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    clock = [time.perf_counter()]

    def lap():
        clock.append(time.perf_counter())
        return round(clock[-1] - clock[-2], 3)

    shape = wl.prepare(seed)
    phases = {"prepare": lap()}
    sessions = Sessions()
    wl.warm_pass(sessions.spark)
    phases["warm_pass"] = lap()
    # a traced run splits its measuring time between untraced and traced passes
    if trace:
        seconds /= 2
    cpu0 = _cpu_times()
    untraced = timed_passes(sessions, wl, seconds)
    cpu1 = _cpu_times()
    phases["measure"] = lap()
    while len(sessions.setups) < MIN_SETUPS:
        sessions.fresh()
    attempted, failed = wl.check(sessions.spark)
    phases["check"] = lap()
    info = {"workload": workload, "seed": seed, "cores": launch.cores(), **shape,
            "setup_s": sessions.setups, "pass_s": untraced, "phase_s": phases,
            "steal_frac": _steal_frac(cpu0, cpu1)}
    if not trace:
        sessions.spark.stop()
        metrics = {"docs_per_s": wl.ops_per_pass / median(untraced), "run_s": median(untraced),
                   "setup_s": median(sessions.setups)}
        return _result(info, attempted, failed, metrics, END_TO_END)
    return _traced(wl, sessions, seconds, untraced, info, attempted, failed, lap)


def _traced(wl, sessions, seconds, untraced, info, attempted, failed, lap) -> dict:
    """Traced passes and per-layer probes, each session with an event log."""
    from tracing import RssSampler, Tracer, median, read_event_logs, sql_plans, task_stats
    from workloads import LAYER_METRICS

    workload, seed = info["workload"], info["seed"]
    log_dir = os.path.join(launch.OUT, f"eventlog-{workload}-{seed}")
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(f"{workload}-{seed}")
    with RssSampler(launch.jvm_pid()) as rss:
        traced = timed_passes(sessions, wl, seconds, tracer, log_dir)
        tracer.sc = sessions.fresh(log_dir, record=False).sparkContext
        layers = wl.layers(sessions.spark, tracer)
    sessions.spark.stop()
    info["phase_s"]["traced"] = lap()

    stats, plans = {}, []
    for events in read_event_logs(log_dir):
        stats.update(task_stats(events))
        plans.extend(sql_plans(events))

    def span_stats(name):
        """Task statistics per call of the spans called ``name``."""
        ids = [str(s["id"]) for s in tracer.spans if s["name"] == name]
        out = {"tasks": 0.0, "nonempty_tasks": 0.0, "shuffle_bytes": 0.0,
               "task_max_over_median": 0.0}
        for st in (stats[i] for i in ids if i in stats):
            for k in ("tasks", "nonempty_tasks", "shuffle_bytes"):
                out[k] += st[k] / len(ids)
            out["task_max_over_median"] = max(out["task_max_over_median"],
                                              st["task_max_over_median"])
        return out

    checked, mismatched = layers.pop("_checked", (0, 0))
    attempted, failed = attempted + checked, failed + mismatched
    m = {name: 0.0 for name, _, _ in LAYER_METRICS}
    m.update(layers)
    m["session.start_s"] = sessions.start_s
    m["session.restart_s"] = median(sessions.restarts)
    scan, ext = span_stats("scan"), span_stats("extract")
    m["scan.tasks"], m["scan.nonempty_tasks"] = scan["tasks"], scan["nonempty_tasks"]
    m["extract.tasks"] = ext["tasks"]
    m["extract.task_max_over_median"] = ext["task_max_over_median"]
    for name, _, _ in LAYER_METRICS:
        if name.startswith("ops.") and name.endswith(".s") and m[name]:
            q = name[: -len(".s")]
            st = span_stats(q)
            m[f"{q}.tasks"] = st["tasks"]
            m[f"{q}.shuffle_bytes"] = st["shuffle_bytes"]
            m[f"{q}.task_max_over_median"] = st["task_max_over_median"]
    m["proc.peak_rss_mb"] = rss.peak_kb / 1024
    m["trace.run_s_untraced"] = median(untraced)
    m["trace.run_s_traced"] = median(traced)
    m["trace.overhead_frac"] = median(traced) / median(untraced) - 1
    parts = wl.breakdown(m)
    largest = max(parts, key=parts.get)
    m["layer.largest_share"] = parts[largest] / median(traced)
    if workload != "ops_mix" and not any("name_udf" in p for p in plans):
        raise RuntimeError("no sunk plan ran the naming UDF")

    base = os.path.join(launch.OUT, f"trace-{workload}-{seed}")
    tracer.write(base + ".spans.jsonl")
    summary = {"largest_layer": largest, "share": m["layer.largest_share"],
               "layers_s": parts, "pass_s": median(traced), "self_s": tracer.self_times()}
    with open(base + ".summary.json", "w") as f:
        json.dump(summary, f, indent=1)
    info.update({"traced_pass_s": traced, "largest_layer": largest,
                 "largest_share": round(m["layer.largest_share"], 4),
                 "layers_s": {k: round(v, 4) for k, v in parts.items()},
                 "trace_files": os.path.relpath(base, launch.ROOT) + ".*"})
    return _result(info, attempted, failed, m, LAYER_METRICS)


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other machines while the
    timed passes ran: a noisy host shows here."""
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(sum(delta[:8]), 1), 4)


def _result(info, attempted, failed, metrics, names) -> dict:
    info["failed_frac"] = failed / attempted
    print("# run " + json.dumps(info, default=float), flush=True)
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u, _ in names}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("job_resume", "extract_distinct", "ops_mix"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(launch.ROOT, "archvisier_spark")):
        print("perfbench: archvisier_spark is not next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if not args.self_test and not args.workload:
        p.error("--workload is required")
    if launch.CHILD_ENV not in os.environ:
        return launch.supervise(sys.argv[1:] if argv is None else argv,
                                None if args.self_test else RUN_TIMEOUT_S)
    launch.prepare_env()
    try:
        if args.self_test:
            import selftest

            return selftest.main()
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        launch.shutdown_jvm()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
