"""The engine core: generic two-phase mergeable sketch aggregation.

Phase 1 (partial, NARROW — zero data shuffle): ``df.mapInArrow`` builds
one sketch state per (scan partition x sketch kind).  Arrow batches
cross the JVM->Python boundary once; inside, hashing and inserts are
pure NumPy over the batch (no per-row Python — the input_hint
requirement).  Fingerprints are computed once per batch and shared by
every hash-consuming sketch.

Phase 2 (merge, shuffles only KILOBYTE/MEGABYTE states, never data):
a fan-in-F tree of ``groupBy(kind, partition_id / F).applyInPandas``
rounds — treeAggregate topology expressed in DataFrame ops so Catalyst
/ AQE schedule it.  log_F(P) rounds for P partitions; at 1000
executors and F=16 that is 3 rounds moving a few GB of states total,
versus the reference's single-process lock-striped structure
(/root/reference/filter.go:482-496) which cannot scale past one box.

Grouped builds (sketch per ``source``) use the same map-side-combine
shape: partials are emitted per (partition, group) with NO shuffle of
row data, then only states shuffle on the group key — immune to the
skewed source distribution by construction (the heavy group's rows
never co-locate).  ``io.salted`` remains available for the
applyInPandas variant when per-group state must see all rows together.
All four build entry points ({DataFrame scan, file list} x {ungrouped,
grouped}) run the same phase-1 task, ``_build_tasks``.

Resumability: with a checkpoint dir, each task atomically writes its
partial state file and a re-run skips completed partitions WITHOUT
consuming their input (lazy Arrow iterator is never pulled), then the
merge reads states from the checkpoint table. Final states are a pure
function of the input multiset, so interrupted and uninterrupted runs
produce byte-identical quotient-filter results.
"""

from __future__ import annotations

import os
import time
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import base
from ..bloom import BloomFilter
from ..cms import CountMinSketch
from ..dyadic import DyadicCMQuantiles
from ..hash import fnv1a64
from ..hll import HyperLogLog
from ..kll import KLLSketch
from ..kmv import KMVSketch
from ..quotient import QuotientFilter
from ..tdigest import TDigest

STATE_SCHEMA = ("partition_id int, kind string, state binary, "
                "n_rows long, n_tokens long, build_ms double")
GROUP_STATE_SCHEMA = ("group string, partition_id int, kind string, state binary, "
                      "n_rows long, n_tokens long, build_ms double")

_STATE_PA_SCHEMA = pa.schema([
    ("partition_id", pa.int32()), ("kind", pa.string()), ("state", pa.binary()),
    ("n_rows", pa.int64()), ("n_tokens", pa.int64()), ("build_ms", pa.float64()),
])

_GROUP_STATE_PA_SCHEMA = pa.schema([
    ("group", pa.string()), ("partition_id", pa.int32()),
    ("kind", pa.string()), ("state", pa.binary()),
    ("n_rows", pa.int64()), ("n_tokens", pa.int64()),
    ("build_ms", pa.float64()),
])


@dataclass(frozen=True)
class SketchSpec:
    """What to sketch: ``kind`` over column ``input`` (array<int> columns

    are flattened; scalar numeric columns feed quantile sketches)."""
    kind: str  # quotient | bloom | hll | cms | kll | tdigest
    input: str = "tokens"
    params: dict = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"{self.kind}:{self.input}"


DEFAULT_SPECS = (
    SketchSpec("quotient", "tokens"),
    SketchSpec("hll", "tokens"),
    SketchSpec("cms", "tokens"),
    SketchSpec("bloom", "tokens"),
    SketchSpec("kll", "n_tok"),
    SketchSpec("tdigest", "n_tok"),
)

_HASH_KINDS = {"quotient", "bloom", "hll", "cms", "kmv"}


class _Acc:
    """Per-partition accumulator for one spec: incremental for sketches

    with cheap vector updates; deferred single bulk build for the
    quotient filter (sorted bulk layout beats repeated unions)."""

    def __init__(self, spec: SketchSpec):
        self.spec = spec
        p = spec.params
        k = spec.kind
        if k == "quotient":
            self.sk = None
            self._hashes: list[np.ndarray] = []
            self._max_load = p.get("max_load", 0.9)
            self._q_bits = p.get("q_bits")
        elif k == "bloom":
            self.sk = BloomFilter(p.get("m_bits", 1 << 23), p.get("k", 7))
        elif k == "hll":
            self.sk = HyperLogLog(p.get("p", 14))
        elif k == "cms":
            self.sk = CountMinSketch(p.get("width", 27183), p.get("depth", 7),
                                     p.get("seed", 0xC0FFEE))
        elif k == "kmv":
            self.sk = KMVSketch(p.get("k", 4096))
        elif k == "kll":
            self.sk = KLLSketch(p.get("k", 200))
        elif k == "tdigest":
            self.sk = TDigest(p.get("delta", 200))
        elif k == "dyadic":
            self.sk = DyadicCMQuantiles(
                p.get("domain_bits", 20), p.get("width", 8192),
                p.get("depth", 3), p.get("seed", 0xD1AD1C),
                p.get("signed", False))
        else:
            raise ValueError(f"unknown sketch kind {k}")

    def add(self, values: np.ndarray, hashes: np.ndarray | None,
            counts: np.ndarray | None = None) -> None:
        """``hashes``/``counts`` are per-batch DEDUPLICATED fingerprints +

        multiplicities (see _dedup): set-semantics sketches consume the
        unique fingerprints, the linear CMS takes them weighted, and the
        quantile sketches take the raw (non-deduped) values."""
        k = self.spec.kind
        if k == "quotient":
            self._hashes.append(hashes)
        elif k == "cms":
            self.sk.update(hashes, counts=counts, pre_hashed=True)
        elif k == "bloom":
            self.sk.update(hashes, pre_hashed=True, counts=counts)
        elif k in _HASH_KINDS:
            self.sk.update(hashes, pre_hashed=True)
        else:
            self.sk.update(values)

    def finish(self) -> bytes:
        if self.spec.kind == "quotient":
            h = (np.unique(np.concatenate(self._hashes))
                 if self._hashes else np.empty(0, dtype=np.uint64))
            self.sk = QuotientFilter.build(h, q_bits=self._q_bits,
                                           max_load=self._max_load,
                                           pre_hashed=True)
        return self.sk.to_bytes()


def _flatten_column(batch: pa.RecordBatch, name: str) -> np.ndarray:
    col = batch.column(name)
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.drop_null()  # null tokens would decay to NaN floats
    try:
        return col.to_numpy(zero_copy_only=True)  # no copy for non-null prims
    except pa.ArrowInvalid:
        return col.to_numpy(zero_copy_only=False)


_DEDUP_SCRATCH = np.empty(0, dtype=np.int64)


_DOMAIN_CAP = 1 << 22


def _dedup(values: np.ndarray,
           bounded: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """(unique values, counts) — THE scale lever of the partial phase.

    Token batches are heavily repetitive (Zipf over a bounded vocab), so
    hashing/sketching unique values with multiplicities shrinks the
    scatter-update working set by orders of magnitude and turns a
    memory-bandwidth-bound build into a compute-bound one.  Small-domain
    ints take the O(n) bincount path (no sort), staged through a reused
    per-worker int64 scratch buffer: np.bincount would otherwise
    allocate a fresh 8B*n cast every batch, and on fault-constrained
    hosts (see session.py) fresh pages are ~100x dearer than warm ones.

    ``bounded=True`` asserts the caller has already PROVEN the values
    lie in [0, _DOMAIN_CAP) — e.g. from parquet row-group statistics —
    so the per-batch min/max scans (2 full passes = 8B/token of read
    traffic on int32 tokens, ~1/3 of the Python side's total) are
    skipped entirely.
    """
    global _DEDUP_SCRATCH
    if values.dtype.kind in "iu" and values.size:
        if bounded:
            lo, hi = 0, 0
        else:
            lo = int(values.min())
            hi = int(values.max())
        if bounded or (0 <= lo and hi < _DOMAIN_CAP):
            n = values.size
            if values.dtype == np.intp:
                counts = np.bincount(values)  # already intp: no cast at all
            else:
                cap = 1 << 24  # retain at most 128MB of scratch per worker
                if _DEDUP_SCRATCH.size < n:
                    _DEDUP_SCRATCH = np.empty(min(max(n, 1 << 20), cap),
                                              dtype=np.int64)
                if n <= _DEDUP_SCRATCH.size:
                    buf = _DEDUP_SCRATCH[:n]
                    np.copyto(buf, values, casting="unsafe")
                else:  # oversized batch: transient cast, don't pin it
                    buf = values.astype(np.int64)
                counts = np.bincount(buf)
            uniq = np.flatnonzero(counts)
            return uniq.astype(values.dtype), counts[uniq]
    return np.unique(values, return_counts=True)


def _ckpt_file(ckpt_dir: str, run_id: str, pid: int) -> str:
    return os.path.join(ckpt_dir, run_id, f"state-{pid:08d}.parquet")


def _pin_ckpt_slicing(ckpt_dir: str, run_id: str, meta: dict) -> None:
    """A resume MUST reuse the same input slicing: partition ids name

    the per-partition state files, so resuming e.g. 8-task states with
    a 2-task run would mark tasks 0-1 'done' even though they now cover
    DIFFERENT input slices — silently dropping data.  The slicing is
    pinned in ``_slicing.json`` (leading underscore: Spark's parquet
    reader ignores it) on first run; a mismatched resume fails loudly.
    """
    meta_path = os.path.join(ckpt_dir, run_id, "_slicing.json")
    import json as _json

    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            prev = _json.load(fh)
        # The core key must ALWAYS be present: an empty or corrupt pin
        # ({}) would otherwise "validate" any resume via the
        # grandfathering path below — a silently unprotected resume.
        if "n_tasks" not in prev:
            raise ValueError(
                f"checkpoint {run_id!r} has a corrupt slicing pin "
                f"({meta_path}: missing 'n_tasks') — cannot verify the "
                "resume is safe. Use a new run_id.")
        # grandfather pins written before a new meta key existed: only
        # the keys the old pin recorded participate in the comparison
        # (a pin can gain stricter keys across versions without
        # invalidating every in-flight checkpoint) — but say so, so a
        # resume that silently skipped a newer check is visible
        skipped = sorted(set(meta) - set(prev))
        if skipped:
            warnings.warn(
                f"checkpoint {run_id!r}: slicing pin predates key(s) "
                f"{skipped}; accepting resume on the pin's recorded "
                "keys only", stacklevel=2)
        meta_cmp = {k: v for k, v in meta.items() if k in prev}
        if prev != meta_cmp:
            raise ValueError(
                f"checkpoint {run_id!r} was written with slicing "
                f"{ {k: (len(v) if isinstance(v, list) else v) for k, v in prev.items()} }; "
                f"this run has "
                f"{ {k: (len(v) if isinstance(v, list) else v) for k, v in meta.items()} } "
                "— resuming would mis-map partition states to input "
                "slices. Use a new run_id.")
        return
    os.makedirs(os.path.dirname(meta_path), exist_ok=True)
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        _json.dump(meta, fh)
    os.replace(tmp, meta_path)


def _materialize_ckpt(partials: DataFrame, spark: SparkSession,
                      ckpt_dir: str, run_id: str) -> DataFrame:
    """Force the tasks' side-effect state commits (noop sink), then read
    the committed state table back — shared by every ckpt-enabled build."""
    partials.write.format("noop").mode("overwrite").save()
    return spark.read.parquet(os.path.join(ckpt_dir, run_id))


class _PartitionAcc:
    """Shared per-partition accumulation loop for both scan variants."""

    def __init__(self, specs: tuple[SketchSpec, ...]):
        self.specs = specs
        self.accs = [_Acc(s) for s in specs]
        self.inputs = sorted({s.input for s in specs})
        self.hash_inputs = {s.input for s in specs if s.kind in _HASH_KINDS}
        # columns PROVEN in [0, _DOMAIN_CAP) by file metadata (see
        # _bounded_cols); lets _dedup skip its per-batch min/max scans
        self.bounded: frozenset[str] = frozenset()
        self.n_rows = 0
        self.n_tokens = 0
        self.t0 = time.perf_counter()

    def consume(self, batch: pa.RecordBatch) -> None:
        vals = {name: _flatten_column(batch, name) for name in self.inputs}
        self.consume_arrays(vals, batch.num_rows)

    def consume_arrays(self, vals: dict[str, np.ndarray],
                       n_rows: int) -> None:
        """Flattened-array form of consume — lets the grouped build feed
        per-group value SLICES without re-gathering Arrow rows."""
        self.n_rows += n_rows
        dedup = {name: _dedup(vals[name], name in self.bounded)
                 for name in self.hash_inputs}
        hashes = {name: fnv1a64(u) for name, (u, _) in dedup.items()}
        if "tokens" in vals:
            self.n_tokens += len(vals["tokens"])
        for acc in self.accs:
            name = acc.spec.input
            acc.add(vals[name], hashes.get(name),
                    dedup[name][1] if name in dedup else None)

    def to_record_batch(self, pid: int) -> pa.RecordBatch:
        build_ms = (time.perf_counter() - self.t0) * 1000.0
        n = len(self.accs)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([pid] * n, type=pa.int32()),
                pa.array([a.spec.name for a in self.accs]),
                pa.array([a.finish() for a in self.accs], type=pa.binary()),
                pa.array([self.n_rows] * n, type=pa.int64()),
                pa.array([self.n_tokens] * n, type=pa.int64()),
                pa.array([build_ms] * n, type=pa.float64()),
            ],
            schema=_STATE_PA_SCHEMA,
        )


def _commit_state(out: pa.RecordBatch, done: str) -> None:
    """Atomic per-partition state commit.  The temp name starts with '.'
    so a crash between write and rename leaves a file Spark's parquet
    reader IGNORES on resume — a visible leftover would be read as an
    extra state row and double-count the partition."""
    d = os.path.dirname(done)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(pa.Table.from_batches([out]), tmp)
    os.replace(tmp, done)


def _plan_fingerprint(proj: DataFrame, specs: tuple[SketchSpec, ...]) -> str:
    """Identity of a DataFrame input for the slicing pin.  Weaker than
    the file-direct pin (a DataFrame's content is not enumerable here)
    but it catches a resume against a DIFFERENT input (path/schema/plan)
    that happens to have the same task count."""
    import hashlib
    import re

    # exprIds ("tokens#45") differ per session — strip them or a
    # legitimate resume in a fresh session would spuriously mismatch.
    # The analyzed plan alone does NOT name the scanned path
    # ("Relation [cols] parquet" is path-free), so the fingerprint
    # also folds in the scan's file listing — bounded to the ends of
    # the sorted list so a million-file table stays cheap while a
    # different input directory still changes the pin.  The spec names
    # stay folded in so pins written before "specs" became a key of its
    # own still validate.
    plan = re.sub(r"#\d+", "#", proj._jdf.queryExecution()
                  .analyzed().toString())
    files = sorted(proj.inputFiles())
    file_sig = f"{len(files)}|{files[:8]}|{files[-8:]}"
    return hashlib.md5(
        (plan + "|" + file_sig + "|" + proj.schema.simpleString() + "|"
         + ",".join(sorted(s.name for s in specs))).encode()
    ).hexdigest()


def _build_tasks(spark: SparkSession, source, specs,
                 group_col: str | None = None, ckpt_dir: str | None = None,
                 run_id: str | None = None,
                 parallelism: int | None = None) -> tuple[DataFrame, int]:
    """Phase 1 for every build entry point: one ``mapInArrow`` task per
    input slice builds all ``specs`` in one pass — per group when
    ``group_col`` is given — and yields its state rows or, with
    ``ckpt_dir``, commits them atomically.

    ``source`` is a DataFrame (tasks consume its Arrow batches) or a
    sorted list of parquet files (each task reads its files with
    pyarrow; see build_partials_files).  Returns (states_df, n_tasks)."""
    specs = tuple(specs)
    cols = sorted({s.input for s in specs}
                  | ({group_col} if group_col else set()))
    if ckpt_dir is not None and run_id is None:
        # a shared implicit id would silently resume a DIFFERENT build's
        # states from the same dir — demand an explicit identity
        raise ValueError("ckpt_dir requires an explicit run_id")
    from_files = not isinstance(source, DataFrame)
    if from_files:
        # parallelize slices evenly: exactly one file per task by default
        # (repartition's round-robin can leave tasks empty while others
        # carry two files).  An explicit ``parallelism`` caps the task
        # count instead — contiguous file slices per task — which is the
        # single-box analog of running the same job on fewer executors
        # (each executor-core simply owns more files), used by the bench's
        # N-vs-4N scaling evidence.
        n_tasks = (len(source) if parallelism is None
                   else min(parallelism, len(source)))
        inp = spark.sparkContext.parallelize(
            [(f,) for f in source], n_tasks).toDF(["path"])
    else:
        # only needed columns are selected so scan pruning pushes down
        inp = source.select(*cols)
        n_tasks = inp.rdd.getNumPartitions()
    if ckpt_dir is not None:
        sig = ({"files": source} if from_files
               else {"plan_fingerprint": _plan_fingerprint(inp, specs)})
        _pin_ckpt_slicing(ckpt_dir, run_id,
                          {"n_tasks": n_tasks, **sig,
                           "specs": sorted(s.name for s in specs)})
    hash_inputs = {s.input for s in specs if s.kind in _HASH_KINDS}

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        done = None if ckpt_dir is None else _ckpt_file(ckpt_dir, run_id, pid)
        if done is not None and os.path.exists(done):
            return  # resume: input iterator never consumed
        acc = (_PartitionAcc(specs) if group_col is None
               else _GroupedAcc(specs, group_col))
        for batch in batches:
            if not from_files:
                acc.consume(batch)
                continue
            for f in batch.column("path").to_pylist():
                pf = pq.ParquetFile(f)
                acc.bounded = _bounded_cols(pf, hash_inputs)
                # use_threads=False: each task owns ONE core (cluster
                # task-slot semantics); Arrow's default pool would
                # oversubscribe the executor and corrupt N-vs-4N scaling
                # evidence
                for fb in pf.iter_batches(batch_size=16384, columns=cols,
                                          use_threads=False):
                    acc.consume(fb)
        out = acc.to_record_batch(pid)
        if done is not None:
            # an empty partition commits a zero-row file so a resume
            # skips it too
            _commit_state(out, done)
        elif out.num_rows:
            yield out

    partials = inp.mapInArrow(
        task, STATE_SCHEMA if group_col is None else GROUP_STATE_SCHEMA)
    if ckpt_dir is not None:
        partials = _materialize_ckpt(partials, spark, ckpt_dir, run_id)
    return partials, n_tasks


def build_partials(df: DataFrame, specs=DEFAULT_SPECS,
                   ckpt_dir: str | None = None,
                   run_id: str | None = None) -> DataFrame:
    """Phase 1: one state row per (input partition, spec). Narrow — the

    plan keeps the parquet scan's partitioning; only needed columns are
    selected so scan pruning pushes down (ReadSchema shrinks)."""
    return _build_tasks(df.sparkSession, df, specs, None, ckpt_dir, run_id)[0]


def _parquet_files(path: str) -> list[str]:
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return files


def _bounded_cols(pf, cols: set[str]) -> frozenset[str]:
    """Columns of ``pf`` PROVEN to lie in [0, _DOMAIN_CAP) by the file's

    own row-group statistics (min/max in every column chunk's footer
    metadata) — no data scanned, no trust in the caller.  Nested list
    columns match by path prefix ("tokens.list.element").  A single
    chunk without stats disqualifies the column."""
    md = pf.metadata
    ok: dict[str, bool] = {}
    seen: set[str] = set()
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            root = col.path_in_schema.split(".", 1)[0]
            if root not in cols:
                continue
            seen.add(root)
            st = col.statistics
            if (st is None or not st.has_min_max
                    or not isinstance(st.min, int)
                    or st.min < 0 or st.max >= _DOMAIN_CAP):
                ok[root] = False
            else:
                ok.setdefault(root, True)
    return frozenset(c for c in seen if ok.get(c, False))


def build_partials_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                         ckpt_dir: str | None = None,
                         run_id: str | None = None,
                         parallelism: int | None = None) -> tuple[DataFrame, int]:
    """Phase 1, file-direct variant: distribute parquet FILE paths and let

    each task read its files with pyarrow — columnar bytes go straight
    into Python with zero JVM row<->Arrow conversion.

    Rationale (measured on local[32], 7.7e8 tokens): the default
    DataFrame path funnels every row through the JVM's InternalRow ->
    Arrow writer inside each task thread; with one task thread + one
    Python worker per core the box runs 2x oversubscribed and conversion
    dominates.  Reading parquet in the worker (the Petastorm/Ray pattern)
    removes that entirely: partials scale with the storage + memory
    bandwidth of each node.  Catalyst still owns everything downstream
    (merge tree, probes); this only replaces the leaf scan for the one
    operator that consumes whole files anyway.  Returns (states_df,
    num_leaves).
    """
    return _build_tasks(spark, _parquet_files(path), specs, None, ckpt_dir,
                        run_id, parallelism)


def build_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                fanin: int = 16, ckpt_dir: str | None = None,
                run_id: str | None = None,
                parallelism: int | None = None) -> BuildResult:
    """End-to-end file-direct build (see build_partials_files)."""
    return _build_result(*build_partials_files(spark, path, specs, ckpt_dir,
                                               run_id, parallelism), fanin)


def tree_merge(states: DataFrame, num_leaves: int, fanin: int = 16,
               key_cols: tuple[str, ...] = ("kind",),
               target_leaves: int = 1) -> DataFrame:
    """Phase 2: fan-in-F merge tree over state rows (treeAggregate

    topology in DataFrame ops).  Only sketch blobs shuffle."""
    out_cols = [f.name for f in states.schema.fields]

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic merge order (matters only for the non-canonical
        # quantile sketches; canonical kinds are order-independent anyway)
        pdf = pdf.sort_values("partition_id")
        sk = base.from_bytes(pdf["state"].iloc[0])
        for blob in pdf["state"].iloc[1:]:
            sk = sk.merge(base.from_bytes(blob))
        out = pdf.iloc[:1].copy()
        out["partition_id"] = int(pdf["partition_id"].iloc[0]) // fanin
        out["state"] = [sk.to_bytes()]
        out["n_rows"] = pdf["n_rows"].sum()
        out["n_tokens"] = pdf["n_tokens"].sum()
        out["build_ms"] = pdf["build_ms"].sum()
        return out[out_cols]

    df = states
    leaves = num_leaves
    while leaves > target_leaves:
        df = (df.withColumn("__bucket",
                            (F.col("partition_id") / F.lit(fanin)).cast("int"))
                .groupBy(*key_cols, "__bucket")
                .applyInPandas(merge_group, states.schema))
        leaves = -(-leaves // fanin)
    return df


@dataclass
class BuildResult:
    sketches: dict  # spec.name -> sketch object
    n_rows: int
    n_tokens: int
    build_ms_total: float
    num_partitions: int

    def __getitem__(self, name: str):
        return self.sketches[name]


def _finalize(partials: DataFrame, num_leaves: int, fanin: int,
              driver_threshold: int = 256) -> list:
    """treeAggregate semantics: tree-merge rounds while the state count

    is large, then reduce the last <=driver_threshold states on the
    driver (exactly where RDD.treeAggregate finishes too — collecting a
    few hundred KB-MB blobs beats a shuffle round's fixed cost)."""
    df = partials
    if num_leaves > driver_threshold:
        df = tree_merge(df, num_leaves, fanin, target_leaves=driver_threshold)
    if hasattr(df, "toArrow"):
        # Arrow collect: the states come back as one arrow stream
        # instead of pickled Rows — measured 0.2 s vs 1.6 s for the
        # same 64 x ~3 MB state rows (driver-side pickle of big binary
        # cells dominates plain collect())
        rows = df.toArrow().to_pylist()
    else:  # pragma: no cover - pyspark < 4.0 fallback
        rows = df.collect()
    by_kind: dict[str, list] = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    out = []
    for kind, rs in by_kind.items():
        rs.sort(key=lambda r: r["partition_id"])
        sk = base.from_bytes(rs[0]["state"])
        for r in rs[1:]:
            sk = sk.merge(base.from_bytes(r["state"]))
        out.append({
            "kind": kind, "state": sk.to_bytes(),
            "n_rows": sum(r["n_rows"] for r in rs),
            "n_tokens": sum(r["n_tokens"] for r in rs),
            "build_ms": sum(r["build_ms"] for r in rs),
        })
    return out


def _build_result(partials: DataFrame, num_leaves: int,
                  fanin: int) -> BuildResult:
    final = _finalize(partials, num_leaves, fanin)
    return BuildResult(
        sketches={row["kind"]: base.from_bytes(row["state"]) for row in final},
        n_rows=max((r["n_rows"] for r in final), default=0),
        n_tokens=max((r["n_tokens"] for r in final), default=0),
        build_ms_total=max((r["build_ms"] for r in final), default=0.0),
        num_partitions=num_leaves,
    )


def build(df: DataFrame, specs=DEFAULT_SPECS, fanin: int = 16,
          ckpt_dir: str | None = None, run_id: str | None = None) -> BuildResult:
    """End-to-end two-phase build -> final sketches on the driver."""
    return _build_result(*_build_tasks(df.sparkSession, df, specs, None,
                                       ckpt_dir, run_id), fanin)


class _GroupedAcc:
    """Per-(partition, group) accumulation shared by both scan variants."""

    def __init__(self, specs: tuple[SketchSpec, ...], group_col: str):
        self.specs = specs
        self.group_col = group_col
        self.inputs = sorted({s.input for s in specs})
        self.accs: dict[str | None, _PartitionAcc] = {}
        self.ms: dict[str | None, float] = {}
        self.bounded: frozenset[str] = frozenset()  # see _bounded_cols

    def consume(self, batch: pa.RecordBatch) -> None:
        """Regroup ONCE per batch, then feed each group zero-copy value
        slices.

        The group column dictionary-encodes — a NULL key is a group of
        its own, as in SQL GROUP BY — then ONE stable row sort + ONE take
        makes every group's rows contiguous, each value column flattens
        once, and per-group value SLICES (zero-copy views into the flat
        array) go straight into consume_arrays.  Per-batch passes over
        token-level data are O(1) in the group count, the single-group
        batch (input files already laid out by group) skips the sort and
        take entirely, and the dedup scratch is the same warm buffer the
        ungrouped build uses.  Null list rows, null list elements and
        null scalars are dropped as _flatten_column drops them: row
        offsets map through the running count of valid values, so such
        rows still count in n_rows but never reach a sketch."""
        t_start = time.perf_counter()
        enc = batch.column(self.group_col).dictionary_encode(
            null_encoding="encode")
        codes = enc.indices.to_numpy(zero_copy_only=False)
        keys = [None if k is None else str(k)
                for k in enc.dictionary.to_pylist()]
        G = len(keys)
        if G == 0:
            return
        if G == 1:
            sub = batch
            bounds = np.array([0, batch.num_rows])
        else:
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            starts = np.flatnonzero(np.diff(sorted_codes)) + 1
            bounds = np.concatenate(([0], starts, [len(order)]))
            sub = (pa.Table.from_batches([batch]).take(pa.array(order))
                   .combine_chunks().to_batches()[0])
        flats: dict[str, np.ndarray] = {}
        offs: dict[str, np.ndarray] = {}  # row -> value offsets, if not 1:1
        for name in self.inputs:
            col = sub.column(name)
            if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
                lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy(
                    zero_copy_only=False)
                offs[name] = np.concatenate(
                    ([0], np.cumsum(lens, dtype=np.int64)))
                col = col.flatten()
            if col.null_count:
                kept = np.concatenate(([0], np.cumsum(
                    col.is_valid().to_numpy(zero_copy_only=False),
                    dtype=np.int64)))
                offs[name] = kept[offs[name]] if name in offs else kept
                col = col.drop_null()
            flats[name] = col.to_numpy(zero_copy_only=False)
        regroup_ms = (time.perf_counter() - t_start) * 1000.0
        n = batch.num_rows
        for g in range(G):
            s, e = int(bounds[g]), int(bounds[g + 1])
            vals = {name: (flats[name][offs[name][s]:offs[name][e]]
                           if name in offs else flats[name][s:e])
                    for name in self.inputs}
            key = keys[g]
            if key not in self.accs:
                self.accs[key] = _PartitionAcc(self.specs)
                self.ms[key] = 0.0
            acc = self.accs[key]
            acc.bounded = self.bounded
            t0 = time.perf_counter()
            acc.consume_arrays(vals, e - s)
            # the shared sort/take is apportioned by row share
            # (build_ms is a diagnostic column)
            self.ms[key] += ((time.perf_counter() - t0) * 1000.0
                             + regroup_ms * ((e - s) / max(n, 1)))

    def to_record_batch(self, pid: int) -> pa.RecordBatch:
        names, pids, kinds, blobs, nr, nt, ms = [], [], [], [], [], [], []
        for g, pacc in self.accs.items():
            build_ms = self.ms[g]  # per-group consume time, non-overlapping
            for a in pacc.accs:
                names.append(g)
                pids.append(pid)
                kinds.append(a.spec.name)
                blobs.append(a.finish())
                nr.append(pacc.n_rows)
                nt.append(pacc.n_tokens)
                ms.append(build_ms)
        return pa.RecordBatch.from_arrays(
            [pa.array(names, type=pa.string()), pa.array(pids, type=pa.int32()),
             pa.array(kinds, type=pa.string()),
             pa.array(blobs, type=pa.binary()), pa.array(nr, type=pa.int64()),
             pa.array(nt, type=pa.int64()), pa.array(ms, type=pa.float64())],
            schema=_GROUP_STATE_PA_SCHEMA,
        )


def build_grouped(df: DataFrame, specs=DEFAULT_SPECS, group_col: str = "source",
                  fanin: int = 16, ckpt_dir: str | None = None,
                  run_id: str | None = None) -> DataFrame:
    """Sketch per group with map-side combine: partials per (partition,

    group) — NO row-data shuffle, so source skew cannot create a hot
    task — then a state-only merge keyed by group.  Rows whose group
    is NULL form one NULL group, as in SQL GROUP BY.

    With ``ckpt_dir``/``run_id``, the same resumability contract as the
    ungrouped build: each task atomically commits its per-(partition,
    group) states and a re-run skips completed partitions without
    consuming their input (an empty partition commits a zero-row file
    so the skip applies to it too)."""
    partials, n_tasks = _build_tasks(df.sparkSession, df, specs, group_col,
                                     ckpt_dir, run_id)
    return tree_merge(partials, n_tasks, fanin, key_cols=("group", "kind"))


def build_grouped_files(spark: SparkSession, path: str, specs=DEFAULT_SPECS,
                        group_col: str = "source", fanin: int = 16) -> DataFrame:
    """File-direct grouped build: same map-side combine, parquet read

    inside the workers (no JVM row->Arrow conversion — see
    build_partials_files).  Not resumable: it takes no checkpoint."""
    partials, n_tasks = _build_tasks(spark, _parquet_files(path), specs,
                                     group_col)
    return tree_merge(partials, n_tasks, fanin, key_cols=("group", "kind"))


# ---------------- probe side ----------------------------------------------

_SKETCH_CACHE: dict[str, object] = {}
_SKETCH_CACHE_MAX = 16  # per-worker; evict oldest beyond this

_NULL_SENTINEL = -(2**63)  # stands in for NULL so pandas never sees NaN


def _cached_sketch(token: str, blob: bytes):
    sk = _SKETCH_CACHE.get(token)
    if sk is None:
        if len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX:
            _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        sk = base.from_bytes(blob)
        _SKETCH_CACHE[token] = sk
    return sk


def _null_safe_probe(df: DataFrame, values_col: str, udf_fn, out_col: str,
                     out_type: str) -> DataFrame:
    """Apply a probe UDF null-safely WITHOUT losing int64 precision.

    A nullable long column reaches pandas as float64 (NaN for nulls),
    silently rounding |id| > 2**53 — which turns exact membership into
    mass false negatives.  Coalescing to a sentinel keeps the Arrow
    column non-nullable (pandas stays int64); null inputs then yield
    NULL output (SQL semantics)."""
    dtype = df.schema[values_col].dataType.simpleString()
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"probe column '{values_col}' has type {dtype}; sketches are "
            "built over integer fingerprints — map strings to ids first "
            "(e.g. queries.token_ids / F.xxhash64)")
    guarded = F.coalesce(F.col(values_col).cast("long"),
                         F.lit(_NULL_SENTINEL))
    return df.withColumn(
        out_col,
        F.when(F.col(values_col).isNull(),
               F.lit(None).cast(out_type)).otherwise(udf_fn(guarded)))


def with_membership(df: DataFrame, values_col: str, sketch_bytes: bytes,
                    out_col: str = "is_member") -> DataFrame:
    """Broadcast a finished filter; vectorized membership column.

    The Spark-native analog of Bloom-join pruning: follow with
    ``.where(out_col)`` for a sketch-accelerated semi-join."""
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(sketch_bytes)
    token = uuid.uuid4().hex

    @pandas_udf("boolean")
    def is_member(s: pd.Series) -> pd.Series:
        sk = _cached_sketch(token, bc.value)
        return pd.Series(sk.contains(s.to_numpy()))

    return _null_safe_probe(df, values_col, is_member, out_col, "boolean")


def with_membership_timed(df: DataFrame, values_col: str, sketch_bytes: bytes,
                          out_col: str = "probe") -> DataFrame:
    """Membership + per-probe latency telemetry, mirroring the reference's

    ``Exists -> (bool, elapsed)`` response shape
    (/root/reference/filter.go:57-58, server.go:27): returns a struct
    column ``(is_member boolean, elapsed_ns long)`` where elapsed_ns is
    the amortized per-probe cost of the vectorized batch."""
    import time as _time

    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(sketch_bytes)
    token = uuid.uuid4().hex

    @pandas_udf("is_member boolean, elapsed_ns long")
    def probe(s: pd.Series) -> pd.DataFrame:
        sk = _cached_sketch(token, bc.value)
        t0 = _time.perf_counter_ns()
        hit = sk.contains(s.to_numpy())
        per = (_time.perf_counter_ns() - t0) // max(len(s), 1)
        return pd.DataFrame({"is_member": hit,
                             "elapsed_ns": np.full(len(s), per, dtype=np.int64)})

    return _null_safe_probe(df, values_col, probe, out_col,
                            "struct<is_member:boolean,elapsed_ns:bigint>")


def with_frequency(df: DataFrame, values_col: str, cms_bytes: bytes,
                   out_col: str = "est_count") -> DataFrame:
    """Broadcast a count-min sketch; vectorized point-frequency column."""
    from pyspark.sql.functions import pandas_udf

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cms_bytes)
    token = uuid.uuid4().hex

    @pandas_udf("long")
    def freq(s: pd.Series) -> pd.Series:
        sk = _cached_sketch(token, bc.value)
        return pd.Series(sk.estimate(s.to_numpy()))

    return _null_safe_probe(df, values_col, freq, out_col, "long")
