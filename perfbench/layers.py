"""Tracing for the per-layer run: spans, Spark event-log totals and the
layer sweep.

Spans are recorded by the benchmark around the public calls it makes
into each qsketch module (nothing inside the library is instrumented).
They stay in memory until the run ends.  A span's self time is its
duration minus the time its child spans cover; the op's root span's
self time is ``other_s``, so the self times of one op's spans always
add up to the op's wall time.

Some layers cannot be split out of one public call from outside (the
partial phase inside ``build_files``, the stages inside
``near_duplicates``, the NumPy kernels inside the probe UDFs).  The
sweep times them with separate public calls after the measured ops:
``build_partials_files(...)[0].toArrow()``, the
minhash -> LSH -> verify steps of ``near_duplicates`` run one by one,
and the core sketches updated and probed in this process.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from qsketch import (BloomFilter, CountMinSketch, HyperLogLog, KLLSketch,
                     QuotientFilter, TDigest, base, fnv1a64)
from qsketch.spark import agg, textops

SWEEP_REPS = 3
MB = 1e6

# Core sketches with the parameters agg.DEFAULT_SPECS builds them with,
# each fed one file's tokens (tok) or token counts (n_tok).
CORE_KINDS = {
    "quotient": lambda tok, n_tok: QuotientFilter.build(tok),
    "hll": lambda tok, n_tok: _updated(HyperLogLog(14), tok),
    "cms": lambda tok, n_tok: _updated(CountMinSketch(27183, 7, 0xC0FFEE), tok),
    "bloom": lambda tok, n_tok: _updated(BloomFilter(1 << 23, 7), tok),
    "kll": lambda tok, n_tok: _updated(KLLSketch(200), n_tok),
    "tdigest": lambda tok, n_tok: _updated(TDigest(200), n_tok),
}


def _updated(sk, values):
    sk.update(values)
    return sk


def median_time(fn, reps: int = SWEEP_REPS):
    """(median seconds, last result) over ``reps`` calls."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "op": self.op,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> list[float]:
        """Self time of every span; child spans never overlap because
        one thread records them all."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def durations(self, name: str, ops=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (ops is None or s["op"] in ops)]

    def op_breakdown(self, ops) -> list[dict]:
        """Per op: wall time, and self time per span name (the root op
        span's own self time is reported as ``other_s``)."""
        own = self.self_times()
        out = []
        for op in ops:
            idx = [i for i, s in enumerate(self.spans) if s["op"] == op]
            root = next(i for i in idx if self.spans[i]["parent"] is None)
            selfs: dict[str, float] = {}
            for i in idx:
                key = "other_s" if i == root else self.spans[i]["name"]
                selfs[key] = selfs.get(key, 0.0) + own[i]
            out.append({"op": op, "wall_s": self.spans[root]["end"]
                        - self.spans[root]["start"], "self_s": selfs})
        return out


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def event_log_metrics(event_dir: str, op_walls: dict, cores: int) -> dict:
    """Per-op Spark engine totals from the event log, as medians over the
    ops in ``op_walls`` (op id -> wall seconds).  Jobs are tied to an op
    by the job group the op ran in."""
    stage_op = {}
    per_op = {op: {"jobs": 0, "stages": set(), "task_s": [], "cpu_s": 0.0,
                   "sw": 0, "sr": 0, "spill": 0} for op in op_walls}
    # Spark 4 writes each application's log as a directory of
    # rolled event files
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*events*"),
                                 recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if op in per_op:
                        per_op[op]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    acc = per_op[op]
                    acc["stages"].add(ev["Stage ID"])
                    acc["task_s"].append(m["Executor Run Time"] / 1e3)
                    acc["cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["sw"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    sr = m["Shuffle Read Metrics"]
                    acc["sr"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    acc["spill"] += m["Disk Bytes Spilled"]
    rows = []
    for op, a in per_op.items():
        run_s = sum(a["task_s"])
        rows.append({
            "spark.jobs": a["jobs"], "spark.stages": len(a["stages"]),
            "spark.tasks": len(a["task_s"]),
            "spark.executor_run_s": run_s, "spark.executor_cpu_s": a["cpu_s"],
            "spark.idle_core_frac": 1 - run_s / (cores * op_walls[op]),
            "spark.task_s_p50": _p50(a["task_s"]),
            "spark.task_s_max": max(a["task_s"], default=0.0),
            "spark.shuffle_write_mb": a["sw"] / MB,
            "spark.shuffle_read_mb": a["sr"] / MB,
            "spark.spill_mb": a["spill"] / MB,
        })
    return {k: _p50([r[k] for r in rows]) for k in rows[0]} if rows else {}


def sweep_in_process(table, probe) -> dict:
    """io / hash / core layers, timed in this process on the table's
    files and on the probe workload's column."""
    cols = ["tokens", "n_tok", "source"]
    read_s, _ = median_time(lambda: pq.read_table(table.files, columns=cols,
                                                  use_threads=False))
    m = {"io.read_s": read_s, "io.input_mb": table.input_bytes / MB}
    parts = []
    for f in table.files[:2]:
        t = pq.read_table(f, columns=["tokens", "n_tok"], use_threads=False)
        parts.append((t.column("tokens").combine_chunks().flatten().to_numpy(),
                      t.column("n_tok").to_numpy()))
    m["hash.fnv1a64_s"], _ = median_time(lambda: fnv1a64(parts[0][0]))
    for kind, make in CORE_KINDS.items():
        m[f"core.{kind}.update_s"], a = median_time(lambda: make(*parts[0]))
        blob, b = a.to_bytes(), make(*parts[1])
        # the merge tree's step: decode one state, merge the other in
        m[f"core.{kind}.merge_s"], _ = median_time(
            lambda: base.from_bytes(blob).merge(b))
        m[f"core.{kind}.state_kb"] = len(blob) / 1024
    probes = pq.read_table(probe.path, columns=["tok"]).column("tok").to_numpy()
    qf, cms = base.from_bytes(probe.qf), base.from_bytes(probe.cms)
    m["core.quotient.contains_s"], _ = median_time(lambda: qf.contains(probes))
    m["core.cms.estimate_s"], _ = median_time(lambda: cms.estimate(probes))
    return m


def sweep_partial(spark, table) -> dict:
    """The partial phase alone: per-file tasks plus the Arrow collect of
    their states, with no merge."""
    def run():
        partials, n_tasks = agg.build_partials_files(spark, table.path)
        return partials.toArrow(), n_tasks
    partial_s, (states, n_tasks) = median_time(run)
    return {"agg.partial_s": partial_s,
            # build_ms repeats on each of a task's state rows
            "agg.partial_busy_s": sum(dict(zip(
                states.column("partition_id").to_pylist(),
                states.column("build_ms").to_pylist())).values()) / 1e3,
            "agg.partial_state_mb": sum(map(len, states.column("state").to_pylist())) / MB,
            "agg.partial_tasks": n_tasks}


def sweep_textops(spark, corpus_path: str, threshold: float) -> dict:
    """near_duplicates' stages one at a time, each materialised before
    the next starts."""
    def run():
        corpus = spark.read.parquet(corpus_path)
        t0 = time.perf_counter()
        sigs = textops.minhash_signatures(corpus).persist()
        sigs.count()
        t1 = time.perf_counter()
        cands = textops.lsh_candidate_pairs(sigs).persist()
        n_cands = cands.count()
        t2 = time.perf_counter()
        kept = textops.jaccard_verify(corpus, cands,
                                      threshold=threshold).toArrow().num_rows
        t3 = time.perf_counter()
        cands.unpersist()
        sigs.unpersist()
        return t1 - t0, t2 - t1, t3 - t2, n_cands, kept
    runs = [run() for _ in range(SWEEP_REPS)]
    med = [statistics.median(r[i] for r in runs) for i in range(3)]
    n_cands, kept = runs[-1][3], runs[-1][4]
    return {"textops.minhash_s": med[0], "textops.lsh_s": med[1],
            "textops.candidates": n_cands, "textops.verify_s": med[2],
            "textops.verify_yield": kept / max(n_cands, 1)}
