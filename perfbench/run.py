#!/usr/bin/env python3
"""qsketch benchmark: build / probe / dedup workloads, closed loop.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process drives a ``local[cores]``
session (cores = min(4, CPUs available)); the workload's next op starts
only after the previous one returned.  The last stdout line is the
result JSON (``correct``, ``attempted``, ``failed``, ``metrics``); the
line before it carries the run's details (every op time, set-up rounds,
the deterministic accuracy figures, which gates failed).

Set-up is done SETUP_ROUNDS times (input generation and WARMUP_OPS
discarded ops; the first round also starts the session and so pays the
JVM launch and the cold first ops) and ``setup_s`` is the median round.
Then ops run for ``--seconds``; every op is gated (see workloads.py)
and failures count in ``failed``.

``--trace 1`` is the per-layer run: one set-up round with the Spark
event log on, spans around every public qsketch call, and after the
measured ops a sweep that times the layers a public call hides (see
layers.py).  It prints the per-layer metrics instead of the end-to-end
ones.  See README.md for why each workload exists and what is out of
scope.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# The probe op is not an end-to-end workload; the traced run's sweep
# times its layers (README.md says why).
WORKLOADS = ("build", "dedup")
SETUP_ROUNDS = 3
WARMUP_OPS = 2
MAX_CORES = 4

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "items_per_s": "1/s",
              "peak_rss_mb": "MB"}

_CORE = {f"core.{k}.{m}": u
         for k in ("quotient", "hll", "cms", "bloom", "kll", "tdigest")
         for m, u in (("update_s", "s"), ("merge_s", "s"), ("state_kb", "KB"))}
PER_LAYER = {
    "setup.session_s": "s", "setup.gen_s": "s", "setup.warmup_s": "s",
    "io.read_s": "s", "io.input_mb": "MB",
    "hash.fnv1a64_s": "s",
    **_CORE,
    "core.quotient.contains_s": "s", "core.cms.estimate_s": "s",
    "agg.partial_s": "s", "agg.partial_busy_s": "s",
    "agg.partial_state_mb": "MB", "agg.partial_tasks": "count",
    "agg.finalize_s": "s", "agg.grouped_s": "s",
    "agg.membership_s": "s", "agg.frequency_s": "s", "agg.boundary_s": "s",
    "textops.minhash_s": "s", "textops.lsh_s": "s",
    "textops.candidates": "count", "textops.verify_s": "s",
    "textops.verify_yield": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.idle_core_frac": "ratio", "spark.task_s_p50": "s",
    "spark.task_s_max": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "other_s": "s", "trace.op_s_p50": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; the smoke tests shrink inputs")
    return p.parse_args(argv)


def driver_mb() -> int:
    """A quarter of host RAM, at most 1 GiB: in local mode the driver JVM
    is also the executor, and a heap larger than the host gets the JVM
    OOM-killed instead of failing an op.  A small heap also fills up in
    every run, so the JVM's peak RSS does not wander with how far the
    heap happened to grow."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return min(kb // 4 // 1024, 1024)


def _children() -> dict:
    """pid -> parent pid for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    ppid = _children()
    found, frontier = [], [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppid.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def peak_rss_mb() -> dict:
    """Peak RSS (VmHWM) of this process and every live descendant,
    summed per kind: the driver Python, the JVM, the Python workers."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        kind = ("driver" if pid == os.getpid()
                else "jvm" if comm == "java" else "workers")
        out[kind] += kb / 1024
    return out


def start_session(cores: int, trace: bool):
    from qsketch.spark.session import make_session

    heap = driver_mb()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "events")
        conf["spark.eventLog.compress"] = "false"
    spark = make_session(cores, app="perfbench", driver_mem=f"{heap}m",
                         **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until every process
    this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def between_ops(spark) -> None:
    """Free what the previous op cached (near_duplicates persists its
    candidate pairs) and collect garbage on both sides, so no op pays
    for its predecessor's cleanup."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_op(spark, wl, tracer, op_id: str):
    """(wall seconds, result) of one op, run in job group ``op_id``."""
    between_ops(spark)
    spark.sparkContext.setJobGroup(op_id, op_id)
    tracer.op = op_id
    t0 = time.perf_counter()
    with tracer.span(f"op.{wl.name}"):
        res = wl.op(spark, tracer)
    wall = time.perf_counter() - t0
    tracer.op = None
    return wall, res


def set_up(args, wl, tracer, cores: int, rounds: int):
    """``rounds`` set-ups, each input generation and WARMUP_OPS discarded
    ops; the first also starts the session.  Later rounds keep it:
    restarting the Spark context made every round's Python workers cold
    again, which cost about 10 s per run and left the measured ops still
    warming up.  Returns (session, seconds per round, the first round's
    last warm-up result)."""
    spark, setups, reference = None, [], None
    for r in range(rounds):
        t0 = time.perf_counter()
        if spark is None:
            with tracer.span("setup.session"):
                spark = start_session(cores, bool(args.trace))
        with tracer.span("setup.gen"):
            wl.write_table(spark)
            wl.prepare(spark, tracer)
        with tracer.span("setup.warmup"):
            for i in range(WARMUP_OPS):
                _, res = run_op(spark, wl, tracer, f"warmup-{r}-{i}")
        setups.append(time.perf_counter() - t0)
        reference = reference or res
    return spark, setups, reference


def measure(spark, wl, tracer, seconds: float):
    """Closed loop for ``seconds`` (at least one op); one record per op."""
    ops = []
    deadline = time.perf_counter() + seconds
    while not ops or time.perf_counter() < deadline:
        rec = {"op": f"op-{len(ops)}"}
        try:
            rec["wall_s"], rec["result"] = run_op(spark, wl, tracer, rec["op"])
        except Exception:  # an op that raises is counted, not fatal
            traceback.print_exc()
            rec["error"] = traceback.format_exc(limit=3)
        ops.append(rec)
    return ops


def judge(wl, reference, ops) -> None:
    """Gate every op after the measuring is over, so the gates' own
    Spark jobs never run between measured ops."""
    wl.check(reference)
    for rec in ops:
        res = rec.pop("result", None)
        if res is None:
            rec["ok"] = False
            continue
        try:
            checks, rec["accuracy"] = wl.check(res)
        except Exception:
            traceback.print_exc()
            rec.update(ok=False, error=traceback.format_exc(limit=3))
            continue
        rec["items"] = res.items
        rec["failed_checks"] = [k for k, ok in checks.items() if not ok]
        rec["ok"] = not rec["failed_checks"]


def end_to_end(ops, setup_rounds, peak_rss) -> dict:
    done = [o for o in ops if "wall_s" in o]
    return {
        "setup_s": statistics.median(setup_rounds),
        "op_s_p50": statistics.median(o["wall_s"] for o in done),
        "items_per_s": statistics.median(o["items"] / o["wall_s"]
                                         for o in done if "items" in o),
        "peak_rss_mb": sum(peak_rss.values()),
    }


def layer_sweep(spark, args, wl, tracer) -> dict:
    """Times the layers the measured ops do not reach or a public call
    hides: the other op kinds (one warm-up, one traced op each), the
    partial phase, near_duplicates' stages and the in-process kernels."""
    import layers
    import workloads

    objs = {wl.name: wl}
    for name, cls in workloads.OPS.items():
        if name == wl.name:
            continue
        other = cls(args.seed, args.scale, WORK)
        other.table = wl.table
        other.prepare(spark, tracer)
        for i in range(2):
            run_op(spark, other, tracer, f"sweep-{name}-{i}")
        objs[name] = other
    between_ops(spark)
    m = layers.sweep_partial(spark, wl.table)
    between_ops(spark)
    m.update(layers.sweep_textops(spark, objs["dedup"].path,
                                  workloads.DEDUP_THRESHOLD))
    m.update(layers.sweep_in_process(wl.table, objs["probe"]))
    return m


def per_layer(tracer, ops, sweep: dict, event_metrics: dict,
              cores: int) -> dict:
    measured = [o["op"] for o in ops if "wall_s" in o]
    spans_from = measured + [f"sweep-{n}-1" for n in ("build", "probe", "dedup")]

    def p50(name, from_ops=None):
        return statistics.median(tracer.durations(name, from_ops))

    breakdown = tracer.op_breakdown(measured)
    m = dict(sweep)
    m.update(event_metrics)
    m.update({
        "setup.session_s": p50("setup.session"),
        "setup.gen_s": p50("setup.gen"),
        "setup.warmup_s": p50("setup.warmup"),
        "agg.finalize_s": p50("agg.build_files", spans_from) - sweep["agg.partial_s"],
        "agg.grouped_s": p50("agg.build_grouped_files", spans_from),
        "agg.membership_s": p50("agg.with_membership", spans_from),
        "agg.frequency_s": p50("agg.with_frequency", spans_from),
        "other_s": statistics.median(b["self_s"]["other_s"] for b in breakdown),
        "trace.op_s_p50": statistics.median(b["wall_s"] for b in breakdown),
    })
    m["agg.boundary_s"] = (m["agg.membership_s"] + m["agg.frequency_s"]
                           - (m["core.quotient.contains_s"]
                              + m["core.cms.estimate_s"]) / cores)
    return m


def prepare_work() -> None:
    """Empty the work directory.  Every scratch file the session, the
    JVM and the Python workers write stays inside it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_work()
    sys.path.insert(0, ROOT)
    import layers
    import workloads

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    wl = workloads.OPS[args.workload](args.seed, args.scale, WORK)
    tracer = layers.Tracer(bool(args.trace))
    spark = None
    try:
        spark, rounds, reference = set_up(
            args, wl, tracer, cores, 1 if args.trace else SETUP_ROUNDS)
        ops = measure(spark, wl, tracer, args.seconds)
        peak_rss = peak_rss_mb()
        wl.gate_prep(spark)
        judge(wl, reference, ops)
        if args.trace:
            sweep = layer_sweep(spark, args, wl, tracer)
    finally:
        stop_all(spark)
    if args.trace:
        done = {o["op"]: o["wall_s"] for o in ops if "wall_s" in o}
        events = layers.event_log_metrics(os.path.join(WORK, "events"),
                                          done, cores)
        values = per_layer(tracer, ops, sweep, events, cores)
        units = PER_LAYER
    else:
        values = end_to_end(ops, rounds, peak_rss)
        units = END_TO_END
    shutil.rmtree(WORK, ignore_errors=True)
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    failed = sum(not o["ok"] for o in ops)
    accuracy = {}
    for o in ops:
        for k, v in o.get("accuracy", {}).items():
            accuracy.setdefault(k, set()).add(v)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "setup_rounds_s": rounds, "op_s": [o.get("wall_s") for o in ops],
        "peak_rss_mb": peak_rss,
        "failed_frac": failed / len(ops),
        "accuracy": {k: sorted(v) for k, v in accuracy.items()},
        "failed_checks": {o["op"]: o.get("failed_checks") or o.get("error")
                          for o in ops if not o["ok"]},
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
