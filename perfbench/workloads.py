"""Inputs, operations and correctness gates of the three op kinds:
build and dedup (the end-to-end workloads) and probe (timed only by the
traced run's sweep).

Every input is a pure function of the seed: the tokenized table comes
from ``qsketch.spark.io.write_tokenized`` (Philox stream per row keyed
on (seed, doc_id)), and everything derived from it (probe column, text
corpus, planted copies) uses a NumPy generator seeded with the same
seed.  All three start from such a table, so their set-up differs only
in its size and in what they derive from it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from qsketch.spark import agg, io, textops

# Table: 16 files so a warm partial phase runs four waves on four cores
# (stragglers show) and the grouped build's merge tree has real fan-in.
# Each workload sets its own row count (Workload.table_docs).
N_FILES = 16
# Probe column: half present tokens (drawn from the token stream, so
# Zipf-weighted like real lookups), half from the id range no
# generated token uses.
N_PROBES = 6_000_000
N_PROBE_FILES = 8
ABSENT_LO, ABSENT_HI = io.VOCAB_SIZE, 60_000
# Dedup corpus: table rows rendered as text, plus planted copies.
N_DEDUP_BASE = 14_400
DEDUP_COPY_FRAC = 0.10  # planted copies as a share of the corpus
DEDUP_WORDS = 128
DEDUP_MIN_WORDS = 16
DEDUP_MAX_SUB = 0.08  # per-copy word-substitution rate ~ U(0, this)
DEDUP_FILES = 8
DEDUP_THRESHOLD = 0.8  # near_duplicates' default Jaccard threshold

GROUPED_SPECS = (agg.SketchSpec("quotient", "tokens"),
                 agg.SketchSpec("hll", "tokens"))
# Kinds whose merged state is a pure function of the input set, so the
# bytes must not depend on how files are sliced into tasks.  KLL and
# t-digest merge in a fixed order and are only compared op to op.
CANONICAL_KINDS = ("quotient", "hll", "cms", "bloom")
REF_PARALLELISM = 3  # task count of the re-sliced reference build
QF_FN_SAMPLE = 10_000
HLL_P = 14  # agg.DEFAULT_SPECS' HyperLogLog precision
# Sanity limits on deterministic accuracy; far outside normal spread,
# so they trip only on a broken sketch.
MAX_CARD_REL_ERR = 8 * 1.04 / np.sqrt(1 << HLL_P)
MAX_FPR = 1e-3
MIN_DUP_RECALL = 0.999


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


@dataclass
class Table:
    """The written tokenized table plus its exact statistics."""
    path: str
    files: list
    n_tokens: int
    counts: np.ndarray  # exact count per token id
    input_bytes: int

    @property
    def distinct(self) -> int:
        return int(np.count_nonzero(self.counts))


def by_kind(res) -> dict:
    """BuildResult sketches keyed by kind (spec names are kind:input)."""
    return {name.split(":")[0]: sk for name, sk in res.sketches.items()}


def write_table(spark, work: str, seed: int, n_docs: int) -> Table:
    path = os.path.join(work, "table")
    shutil.rmtree(path, ignore_errors=True)
    io.write_tokenized(spark, path, max(n_docs, N_FILES),
                       seed=seed, num_partitions=N_FILES)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    t = pq.read_table(files, columns=["tokens", "n_tok"])
    flat = t.column("tokens").combine_chunks().flatten().to_numpy()
    counts = np.bincount(flat, minlength=io.VOCAB_SIZE)
    return Table(path, files, int(pc.sum(t.column("n_tok")).as_py()), counts,
                 sum(os.path.getsize(f) for f in files))


@dataclass
class OpResult:
    items: int  # work items the op processed (tokens, probes or docs)
    digest: tuple  # what every op of a run must reproduce exactly
    raw: object = None  # what the workload's gates inspect


class Workload:
    """``prepare`` is set-up work (timed into setup_s); ``gate_prep``
    builds what the gates compare against (untimed); ``op`` is one
    measured operation; ``gates`` judges its result."""
    name = ""
    table_docs = 0  # rows of the tokenized table, at scale 1

    def __init__(self, seed: int, scale: float, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.table: Table | None = None
        self.reference: tuple | None = None

    def write_table(self, spark) -> None:
        self.table = write_table(spark, self.work, self.seed,
                                 int(self.table_docs * self.scale))

    def prepare(self, spark, tracer) -> None:
        pass

    def gate_prep(self, spark) -> None:
        pass

    def op(self, spark, tracer) -> OpResult:
        raise NotImplementedError

    def gates(self, raw) -> tuple[dict, dict]:
        """(check name -> passed, accuracy name -> value)."""
        raise NotImplementedError

    def check(self, res: OpResult) -> tuple[dict, dict]:
        """Gate verdicts plus accuracy; the first result checked becomes
        the reference every later op must reproduce exactly."""
        if self.reference is None:
            self.reference = res.digest
        checks, accuracy = self.gates(res.raw)
        checks["identical_across_ops"] = res.digest == self.reference
        return checks, accuracy


class Build(Workload):
    """Write path: file-direct two-phase build of DEFAULT_SPECS, then the
    grouped (per-source) build.  Items are tokens."""
    name = "build"
    table_docs = 16_000

    def gate_prep(self, spark) -> None:
        ref = agg.build_files(spark, self.table.path,
                              parallelism=REF_PARALLELISM)
        self.resliced = {k: _sha(by_kind(ref)[k].to_bytes())
                         for k in CANONICAL_KINDS}
        present = np.flatnonzero(self.table.counts)
        self.fn_sample = _rng(self.seed, 1).choice(
            present, size=min(QF_FN_SAMPLE, len(present)), replace=False)

    def op(self, spark, tracer) -> OpResult:
        with tracer.span("agg.build_files"):
            res = agg.build_files(spark, self.table.path)
        with tracer.span("agg.build_grouped_files"):
            grouped = agg.build_grouped_files(
                spark, self.table.path, GROUPED_SPECS, "source").toArrow()
        sketches = by_kind(res)
        states = {k: _sha(sk.to_bytes()) for k, sk in sketches.items()}
        gstates = sorted(zip(grouped.column("group").to_pylist(),
                             grouped.column("kind").to_pylist(),
                             map(_sha, grouped.column("state").to_pylist())))
        return OpResult(
            items=res.n_tokens,
            digest=(tuple(sorted(states.items())), tuple(gstates), res.n_tokens),
            raw=(sketches, states, res.n_tokens))

    def gates(self, raw):
        sketches, states, n_tokens = raw
        exact = self.table.distinct
        card_err = abs(sketches["hll"].estimate() - exact) / exact
        return {
            "resliced_identical": all(states[k] == self.resliced[k]
                                      for k in CANONICAL_KINDS),
            "n_tokens_exact": n_tokens == self.table.n_tokens,
            "qf_no_false_negatives": bool(
                sketches["quotient"].contains(self.fn_sample).all()),
            "card_rel_err_sane": card_err <= MAX_CARD_REL_ERR,
        }, {"card_rel_err": card_err}


class Probe(Workload):
    """Read side: membership against a QF and frequency against a CMS,
    both built once during set-up, over a column of mixed present and
    absent probes.  Items are probes."""
    name = "probe"

    def prepare(self, spark, tracer) -> None:
        sketches = by_kind(agg.build_files(spark, self.table.path))
        self.qf = sketches["quotient"].to_bytes()
        self.cms = sketches["cms"].to_bytes()
        rng = _rng(self.seed, 2)
        n = max(int(N_PROBES * self.scale), 2 * N_PROBE_FILES)
        half = n // 2
        # present probes: uniform positions in the token stream
        cdf = np.cumsum(self.table.counts)
        present = np.searchsorted(cdf, rng.integers(0, cdf[-1], half),
                                  side="right")
        absent = rng.integers(ABSENT_LO, ABSENT_HI, n - half)
        tok = np.concatenate([present, absent]).astype(np.int64)
        is_absent = np.arange(n) >= half
        order = rng.permutation(n)
        tok, is_absent = tok[order], is_absent[order]
        self.n_probes, self.n_present, self.n_absent = n, half, n - half
        self.true_present_sum = int(self.table.counts[present].sum())
        self.path = os.path.join(self.work, "probes")
        _reset_dir(self.path)
        for i, sl in enumerate(np.array_split(np.arange(n), N_PROBE_FILES)):
            pq.write_table(pa.table({"tok": tok[sl], "absent": is_absent[sl]}),
                           os.path.join(self.path, f"part-{i:03d}.parquet"))

    def op(self, spark, tracer) -> OpResult:
        probes = spark.read.parquet(self.path)
        with tracer.span("agg.with_membership"):
            rows = (agg.with_membership(probes, "tok", self.qf)
                    .groupBy("absent")
                    .agg(F.sum(F.col("is_member").cast("long")).alias("hits"))
                    .collect())
        hits = {r["absent"]: r["hits"] for r in rows}
        with tracer.span("agg.with_frequency"):
            rows = (agg.with_frequency(probes, "tok", self.cms)
                    .groupBy("absent")
                    .agg(F.sum("est_count").alias("est"))
                    .collect())
        est = {r["absent"]: r["est"] for r in rows}
        digest = (hits.get(False), hits.get(True, 0), est.get(False),
                  est.get(True))
        return OpResult(items=self.n_probes, digest=digest, raw=digest)

    def gates(self, raw):
        present_hits, absent_hits, present_est, _ = raw
        fpr = absent_hits / self.n_absent
        return {
            "qf_no_false_negatives": present_hits == self.n_present,
            "fpr_sane": fpr <= MAX_FPR,
            # count-min never underestimates
            "cms_one_sided": (present_est or 0) >= self.true_present_sum,
        }, {"fpr": fpr}


def render_corpus(table: Table, seed: int, scale: float):
    """(doc_id, text) columns plus the planted (a, b) pairs.

    Base docs are consecutive DEDUP_WORDS-token windows of the table's
    rows (a shorter tail counts if it has DEDUP_MIN_WORDS), rendered as
    words ``t<id>``; each planted copy
    repeats one base doc with a per-copy share of words substituted, so
    its Jaccard similarity to the source spans both sides of the
    threshold and the verify stage has candidates to reject."""
    n_base = max(int(N_DEDUP_BASE * scale), 64)
    base = []
    for f in table.files:
        col = pq.read_table(f, columns=["tokens"]).column("tokens")
        for row in col.to_numpy(zero_copy_only=False):
            base.extend(w.astype(np.int64)
                        for w in np.split(row, range(DEDUP_WORDS, len(row),
                                                     DEDUP_WORDS))
                        if len(w) >= DEDUP_MIN_WORDS)
        if len(base) >= n_base:
            break
    base = base[:n_base]
    n_base = len(base)
    rng = _rng(seed, 3)
    n_copy = int(round(n_base * DEDUP_COPY_FRAC / (1 - DEDUP_COPY_FRAC)))
    src = rng.choice(n_base, size=n_copy, replace=False)
    docs = list(base)
    for s in src:
        d = base[s].copy()
        sub = rng.random(len(d)) < rng.uniform(0, DEDUP_MAX_SUB)
        d[sub] = rng.integers(0, io.VOCAB_SIZE, int(sub.sum()))
        docs.append(d)
    n = len(docs)
    lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    vocab = pa.array([f"t{i}" for i in range(io.VOCAB_SIZE)])
    words = vocab.take(pa.array(np.concatenate(docs)))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    planted = np.stack([src, n_base + np.arange(n_copy)], axis=1)
    return np.arange(n, dtype=np.int64), text, docs, planted


def _shingles(doc: np.ndarray, n: int = 3) -> np.ndarray:
    if len(doc) < n:
        return np.empty(0, dtype=np.int64)
    w = np.lib.stride_tricks.sliding_window_view(doc, n)
    return np.unique((w[:, 0] << 34) | (w[:, 1] << 17) | w[:, 2])


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = _shingles(a), _shingles(b)
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    union = len(sa) + len(sb) - inter
    return inter / union if union else 0.0


class Dedup(Workload):
    """MinHash LSH plus exact Jaccard verify over a rendered corpus with
    planted near-duplicates.  Items are docs."""
    name = "dedup"
    table_docs = 5_000

    def prepare(self, spark, tracer) -> None:
        ids, text, docs, planted = render_corpus(self.table, self.seed,
                                                 self.scale)
        self.n_docs = len(ids)
        perm = _rng(self.seed, 4).permutation(self.n_docs)
        self.path = os.path.join(self.work, "corpus")
        _reset_dir(self.path)
        for i, sl in enumerate(np.array_split(perm, DEDUP_FILES)):
            pq.write_table(
                pa.table({"doc_id": ids[sl], "text": text.take(pa.array(sl))}),
                os.path.join(self.path, f"part-{i:03d}.parquet"))
        self.eligible = {(int(a), int(b)) for a, b in planted
                         if jaccard(docs[a], docs[b]) >= DEDUP_THRESHOLD}

    def op(self, spark, tracer) -> OpResult:
        corpus = spark.read.parquet(self.path)
        with tracer.span("textops.near_duplicates"):
            out = textops.near_duplicates(corpus,
                                          threshold=DEDUP_THRESHOLD).toArrow()
        pairs = set(zip(out.column("a").to_pylist(), out.column("b").to_pylist()))
        return OpResult(items=self.n_docs,
                        digest=(len(pairs), _sha(repr(sorted(pairs)).encode())),
                        raw=pairs)

    def gates(self, pairs):
        recall = len(self.eligible & pairs) / max(len(self.eligible), 1)
        return ({"dup_recall_sane": recall >= MIN_DUP_RECALL},
                {"dup_recall": recall})


# Every op kind; run.WORKLOADS names the end-to-end workloads among them.
OPS = {w.name: w for w in (Build, Probe, Dedup)}
