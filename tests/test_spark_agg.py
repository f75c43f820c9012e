"""Spark-layer tests: the minimum end-to-end slice (SURVEY.md §7.2) and up.

Builds partial sketches per partition with mapInArrow, tree-merges
state blobs, and checks every estimate against exact answers computed
from the same (deterministic) input — plus merge determinism across
different partition counts, grouped (per-source) builds, probe columns,
and checkpoint/resume byte-identity.
"""

import numpy as np
import pytest

from qsketch import base
from qsketch.spark.agg import (
    DEFAULT_SPECS,
    SketchSpec,
    build,
    build_grouped,
    build_partials,
    tree_merge,
    with_frequency,
    with_membership,
)
from qsketch.spark.io import generate_tokenized


def _exact(df):
    """Ground truth from the same DataFrame via Spark SQL (exact ops)."""
    import pyspark.sql.functions as F

    ex = df.select(F.explode("tokens").alias("t"))
    distinct = ex.select("t").distinct().count()
    counts = {r["t"]: r["c"] for r in
              ex.groupBy("t").agg(F.count("*").alias("c")).collect()}
    n_toks = np.array([r["n_tok"] for r in df.select("n_tok").collect()])
    return distinct, counts, n_toks


def test_end_to_end_slice(tiny_df):
    """SURVEY.md §7.2: build -> merge -> probe, all sketches, exact checks."""
    res = build(tiny_df, DEFAULT_SPECS)
    distinct, counts, n_toks = _exact(tiny_df)
    total_tokens = int(n_toks.sum())
    assert res.n_rows == 1000
    assert res.n_tokens == total_tokens

    qf = res["quotient:tokens"]
    assert qf.cardinality() == distinct  # full-r QF: exact distinct (no FN, no collision at this scale)
    present = np.fromiter(counts.keys(), dtype=np.int64)
    assert qf.contains(present).all(), "zero false negatives"
    absent = np.arange(60000, 70000)
    fpr = qf.contains(absent).mean()
    assert fpr <= max(3 * qf.fpr_bound(), 1e-3)

    hll = res["hll:tokens"]
    assert abs(hll.estimate() - distinct) / distinct <= 4 * hll.rel_std_error()

    cms = res["cms:tokens"]
    probe = present[:500]
    true = np.array([counts[int(t)] for t in probe])
    est = cms.estimate(probe)
    assert (est >= true).all()
    assert (est - true <= cms.error_bound()).mean() >= 0.99

    bloom = res["bloom:tokens"]
    assert bloom.contains(present).all()

    kll, td = res["kll:n_tok"], res["tdigest:n_tok"]
    srt = np.sort(n_toks)
    for q in (0.1, 0.5, 0.9):
        for est_v in (kll.quantiles([q])[0], td.quantiles([q])[0]):
            r = np.searchsorted(srt, est_v, side="right") / len(srt)
            assert abs(r - q) <= 0.05, (q, est_v, r)


def test_partition_count_invariance(spark):
    """Final QF state must be byte-identical no matter how the input was
    partitioned (the distributed analog of merge-order independence)."""
    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"),
             SketchSpec("cms", "tokens"), SketchSpec("bloom", "tokens"))
    blobs = []
    for parts in (2, 8):
        df = generate_tokenized(spark, 500, seed=7, num_partitions=parts)
        res = build(df, specs, fanin=4)
        blobs.append({k: s.to_bytes() for k, s in res.sketches.items()})
    assert blobs[0] == blobs[1]


def test_tree_merge_fanin_shapes(spark, tiny_df):
    """Different fan-ins (different merge trees) -> same canonical states."""
    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"))
    partials = build_partials(tiny_df, specs)
    n = tiny_df.rdd.getNumPartitions()
    by2 = {r["kind"]: r["state"] for r in tree_merge(partials, n, fanin=2).collect()}
    by16 = {r["kind"]: r["state"] for r in tree_merge(partials, n, fanin=16).collect()}
    assert by2 == by16


def test_grouped_build_matches_per_group_exact(spark, tiny_df):
    import pyspark.sql.functions as F

    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"))
    got = {(r["group"], r["kind"]): r for r in
           build_grouped(tiny_df, specs, "source").collect()}
    exact = {r["source"]: (r["d"], r["n"]) for r in
             tiny_df.select("source", F.explode("tokens").alias("t"))
             .groupBy("source")
             .agg(F.countDistinct("t").alias("d"), F.count("*").alias("n"))
             .collect()}
    assert {g for g, _ in got} == set(exact)
    for (g, kind), row in got.items():
        if kind == "quotient:tokens":
            qf = base.from_bytes(row["state"])
            assert qf.cardinality() == exact[g][0], g
            assert row["n_tokens"] == exact[g][1]


def test_membership_and_frequency_probe_columns(spark, tiny_df):
    import pyspark.sql.functions as F

    res = build(tiny_df, (SketchSpec("quotient", "tokens"),
                          SketchSpec("cms", "tokens")))
    present = tiny_df.select(F.explode("tokens").alias("t")).distinct()
    absent = spark.range(60000, 61000).select(F.col("id").cast("int").alias("t"))

    probed = with_membership(present.union(absent), "t",
                             res["quotient:tokens"].to_bytes())
    got = {r["t"]: r["is_member"] for r in probed.collect()}
    n_present = present.count()
    assert sum(1 for t, m in got.items() if t < 60000 and m) == n_present
    fp = sum(1 for t, m in got.items() if t >= 60000 and m)
    assert fp <= 3

    freq = with_frequency(present.limit(100), "t",
                          res["cms:tokens"].to_bytes())
    exact = {r["t"]: r["c"] for r in
             tiny_df.select(F.explode("tokens").alias("t"))
             .groupBy("t").agg(F.count("*").alias("c")).collect()}
    for r in freq.collect():
        assert r["est_count"] >= exact[r["t"]]


def test_checkpoint_resume_byte_identical(spark, tmp_path):
    """Kill-and-resume drill (SURVEY.md §7.1 item 8): first run writes
    per-partition state files; a resumed run skips completed partitions
    and the final state is byte-identical to an uninterrupted run."""
    import os

    df = generate_tokenized(spark, 400, seed=3, num_partitions=4)
    specs = (SketchSpec("quotient", "tokens"),)
    ck = str(tmp_path / "ckpt")

    uninterrupted = build(df, specs).sketches["quotient:tokens"].to_bytes()

    r1 = build(df, specs, ckpt_dir=ck, run_id="run1")
    files = sorted(f for f in os.listdir(os.path.join(ck, "run1"))
                   if f.startswith("state-"))
    assert len(files) == 4
    # simulate a crash that lost two partitions
    for f in files[:2]:
        os.remove(os.path.join(ck, "run1", f))
    mtime_kept = os.path.getmtime(os.path.join(ck, "run1", files[2]))
    r2 = build(df, specs, ckpt_dir=ck, run_id="run1")
    # the two surviving partials were reused, not recomputed
    assert os.path.getmtime(os.path.join(ck, "run1", files[2])) == mtime_kept
    assert (r1.sketches["quotient:tokens"].to_bytes()
            == r2.sketches["quotient:tokens"].to_bytes()
            == uninterrupted)


def test_partials_schema_and_narrowness(tiny_df):
    """Phase 1 must not shuffle: partial count == input partition count,
    and the plan contains no Exchange before the map."""
    specs = (SketchSpec("quotient", "tokens"),)
    partials = build_partials(tiny_df, specs)
    rows = partials.collect()
    assert len(rows) == tiny_df.rdd.getNumPartitions()
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_null_tokens_are_dropped(spark):
    """A user table with NULL entries inside token arrays must not decay
    the batch to floats or poison fingerprints."""
    df = spark.createDataFrame(
        [(1, [1, None, 3]), (2, None), (3, [5])],
        "doc_id long, tokens array<int>")
    res = build(df.where("tokens IS NOT NULL"),
                (SketchSpec("quotient", "tokens"),))
    qf = res.sketches["quotient:tokens"]
    assert qf.cardinality() == 3  # {1, 3, 5}
    import numpy as np
    assert qf.contains(np.array([1, 3, 5])).all()
    assert not qf.contains(np.array([2, 4])).any()


def test_finalize_large_fleet_tree_path(spark):
    """>256 partials: tree rounds reduce to <=256, driver finishes.
    Simulates a 600-executor fleet with tiny synthetic states; result
    must equal a flat reduce of all parts."""
    import functools
    import pandas as pd
    from qsketch.quotient import QuotientFilter
    from qsketch.spark.agg import STATE_SCHEMA, _finalize

    parts = [QuotientFilter.build(np.arange(i * 10, i * 10 + 20))
             for i in range(600)]
    pdf = pd.DataFrame({
        "partition_id": range(600),
        "kind": "quotient:tokens",
        "state": [p.to_bytes() for p in parts],
        "n_rows": 1, "n_tokens": 20, "build_ms": 0.0,
    })
    states = spark.createDataFrame(pdf, STATE_SCHEMA)
    final = _finalize(states, 600, fanin=16)
    assert len(final) == 1 and final[0]["n_tokens"] == 600 * 20
    expect = functools.reduce(lambda a, b: a.merge(b), parts)
    assert final[0]["state"] == expect.to_bytes()
    got = base.from_bytes(final[0]["state"])
    assert got.cardinality() == expect.cardinality() == 600 * 10 + 10


def test_grouped_build_extreme_skew(spark):
    """99% of rows in one group: map-side combine keeps partials
    per-(partition, group); results stay exact for every group."""
    import pyspark.sql.functions as F
    import pandas as pd

    rng = np.random.default_rng(31)
    n = 5000
    groups = np.where(rng.random(n) < 0.99, "hot", "cold")
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(n)],
        "tokens": [rng.integers(0, 1000, rng.integers(1, 30)).tolist()
                   for _ in range(n)],
        "source": groups,
    })
    df = spark.createDataFrame(pdf, "doc_id string, tokens array<int>, source string") \
              .repartition(8)
    got = {r["group"]: base.from_bytes(r["state"]).cardinality()
           for r in build_grouped(df, (SketchSpec("quotient", "tokens"),),
                                  "source").collect()}
    exact = {r["source"]: r["d"] for r in
             df.select("source", F.explode("tokens").alias("t"))
               .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    assert got == exact


def test_membership_null_probe_keeps_precision(spark):
    """Review regression: one NULL in a probe column used to widen the
    whole pandas batch to float64, rounding |id| > 2^53 and producing
    mass false negatives. Null-safe probing must keep int64 precision
    and return NULL for the null row."""
    import pyspark.sql.functions as F

    ids = spark.range(1000).select(F.xxhash64("id").alias("t"))
    res = build(ids, (SketchSpec("quotient", "t"),))
    state = res.sketches["quotient:t"].to_bytes()
    probes = ids.union(spark.sql("SELECT CAST(NULL AS BIGINT) AS t"))
    rows = with_membership(probes, "t", state).collect()
    non_null = [r for r in rows if r["t"] is not None]
    assert len(non_null) == 1000
    assert all(r["is_member"] for r in non_null), "false negatives from NULL widening"
    null_rows = [r for r in rows if r["t"] is None]
    assert len(null_rows) == 1 and null_rows[0]["is_member"] is None


def test_resume_ignores_interrupted_tmp_file(spark, tmp_path):
    """Review regression: a crash between tmp write and rename used to
    leave a visible *.tmp parquet that resume double-counted."""
    import os

    from qsketch.spark.io import generate_tokenized

    df = generate_tokenized(spark, 200, seed=13, num_partitions=2)
    specs = (SketchSpec("cms", "tokens"),)
    ck = str(tmp_path / "ck")
    r1 = build(df, specs, ckpt_dir=ck, run_id="r")
    # simulate a killed task's leftover: copy a committed state to a
    # hidden tmp name (what _commit_state now uses)
    d = os.path.join(ck, "r")
    src = sorted(f for f in os.listdir(d) if f.startswith("state-"))[0]
    with open(os.path.join(d, src), "rb") as fh:
        blob = fh.read()
    with open(os.path.join(d, ".tmp-deadbeef"), "wb") as fh:
        fh.write(blob)
    r2 = build(df, specs, ckpt_dir=ck, run_id="r")
    assert (r1.sketches["cms:tokens"].total
            == r2.sketches["cms:tokens"].total), "stale tmp double-counted"
    assert r1.sketches["cms:tokens"].to_bytes() == r2.sketches["cms:tokens"].to_bytes()


def test_grouped_files_matches_grouped(spark, tiny_df, tmp_path):
    """File-direct grouped build produces the same per-group states as
    the DataFrame-scan grouped build (canonical kinds byte-identical)."""
    from qsketch.spark.agg import build_grouped_files

    p = str(tmp_path / "gf")
    tiny_df.write.parquet(p)
    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"))
    a = {(r["group"], r["kind"]): r["state"] for r in
         build_grouped(spark.read.parquet(p), specs, "source").collect()}
    b = {(r["group"], r["kind"]): r["state"] for r in
         build_grouped_files(spark, p, specs, "source").collect()}
    assert a == b


def test_probe_rejects_non_integer_columns(spark, tiny_df):
    """Review regression: casting strings to long used to produce silent
    100% false negatives; now the type is rejected up front."""
    res = build(tiny_df, (SketchSpec("quotient", "tokens"),))
    with pytest.raises(TypeError, match="integer fingerprints"):
        with_membership(tiny_df, "doc_id",  # string column
                        res.sketches["quotient:tokens"].to_bytes())


def test_ckpt_requires_run_id(tiny_df, tmp_path):
    with pytest.raises(ValueError, match="run_id"):
        build(tiny_df, (SketchSpec("hll", "tokens"),),
              ckpt_dir=str(tmp_path / "c"))


def test_grouped_checkpoint_resume_byte_identical(spark, tmp_path):
    """Grouped builds share the resumability contract: a resumed run
    skips completed partitions (surviving state files untouched) and
    per-group finals are byte-identical to an uninterrupted run."""
    import os

    df = generate_tokenized(spark, 400, seed=5, num_partitions=4)
    specs = (SketchSpec("quotient", "tokens"),)
    ck = str(tmp_path / "gckpt")

    def states(merged):
        return {r["group"]: bytes(r["state"]) for r in merged.collect()}

    uninterrupted = states(build_grouped(df, specs, "source"))

    r1 = states(build_grouped(df, specs, "source",
                              ckpt_dir=ck, run_id="g1"))
    files = sorted(f for f in os.listdir(os.path.join(ck, "g1"))
                   if f.startswith("state-"))
    assert len(files) == 4
    for f in files[:2]:  # crash lost two partitions
        os.remove(os.path.join(ck, "g1", f))
    mtime_kept = os.path.getmtime(os.path.join(ck, "g1", files[2]))
    r2 = states(build_grouped(df, specs, "source",
                              ckpt_dir=ck, run_id="g1"))
    assert os.path.getmtime(os.path.join(ck, "g1", files[2])) == mtime_kept
    assert r1 == r2 == uninterrupted
    assert set(r1) <= {"web", "books", "code", "wiki", "news"}
    assert len(r1) >= 3  # several sources present at this size


def test_dyadic_state_is_partition_count_invariant(spark):
    """The dyadic quantile sketch is LINEAR, so the engine must produce
    byte-identical states for any partitioning — the merge-shape
    guarantee extended to quantiles (KLL/t-digest only promise
    commutativity + canonical merge order)."""
    df = generate_tokenized(spark, 300, seed=7, num_partitions=2)
    spec = (SketchSpec("dyadic", "n_tok", {"domain_bits": 12, "width": 256}),)
    a = build(df, spec).sketches["dyadic:n_tok"].to_bytes()
    b = build(df.repartition(7), spec).sketches["dyadic:n_tok"].to_bytes()
    c = build(df.repartition(3), spec, fanin=2).sketches["dyadic:n_tok"].to_bytes()
    assert a == b == c


def test_build_files_parallelism_levels_byte_identical(spark, tiny_df,
                                                       tmp_path):
    """The bench's N-vs-4N evidence runs the same build at different task
    counts (files per task); every canonical sketch's final state must be
    byte-identical across parallelism levels."""
    from qsketch.spark.agg import SketchSpec, build_files

    p = str(tmp_path / "ptok")
    tiny_df.repartition(8).write.parquet(p)
    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"),
             SketchSpec("cms", "tokens"), SketchSpec("bloom", "tokens"))
    states, n_toks = {}, {}
    for par in (None, 1, 2, 8):
        res = build_files(spark, p, specs, parallelism=par)
        states[par] = {k: sk.to_bytes() for k, sk in res.sketches.items()}
        n_toks[par] = res.n_tokens
    for par in (1, 2, 8):
        assert states[par] == states[None], f"parallelism={par} diverged"
        assert n_toks[par] == n_toks[None], f"parallelism={par} n_tokens"


def test_stats_bounded_dedup_matches_scan_path(spark, tiny_df, tmp_path):
    """The parquet-stats fast path (skip min/max scans when the footer
    proves the domain) must not change any state: compare a file whose
    stats qualify against the same data routed through the scan path."""
    import numpy as np

    from qsketch.spark.agg import _dedup

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 50000, size=100_000).astype(np.int32)
    u1, c1 = _dedup(vals, bounded=False)
    u2, c2 = _dedup(vals, bounded=True)
    assert (u1 == u2).all() and (c1 == c2).all()


def test_bounded_cols_rejects_out_of_range_and_strings(tmp_path):
    """_bounded_cols must only certify integer columns whose EVERY chunk
    has stats inside [0, 2^22); negatives, huge values, and strings are
    all rejected."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from qsketch.spark.agg import _DOMAIN_CAP, _bounded_cols

    t = pa.table({
        "ok": pa.array(np.array([0, 5, 100], dtype=np.int64)),
        "neg": pa.array(np.array([-1, 5, 100], dtype=np.int64)),
        "huge": pa.array(np.array([0, 5, _DOMAIN_CAP], dtype=np.int64)),
        "s": pa.array(["a", "b", "c"]),
        "lst": pa.array([[1, 2], [3], [4]],
                        type=pa.list_(pa.int32())),
    })
    f = str(tmp_path / "b.parquet")
    pq.write_table(t, f)
    got = _bounded_cols(pq.ParquetFile(f),
                        {"ok", "neg", "huge", "s", "lst"})
    assert got == {"ok", "lst"}, got


def test_heavy_hitters_sketch_rejects_string_column(spark):
    from qsketch.spark.queries import heavy_hitters_sketch

    df = spark.createDataFrame([("a",), ("b",)], "t string")
    with pytest.raises(TypeError, match="integer column"):
        heavy_hitters_sketch(df, "t", k=2)


def test_build_large_domain_tokens_uses_sort_dedup(spark):
    """Tokens far outside the bincount domain (>= 2^22, e.g. 64-bit
    vocab ids) must route through the np.unique fallback and still give
    exact QF cardinality — the web-scale-vocabulary path."""
    import pyarrow as pa

    from qsketch.spark.agg import SketchSpec, build

    rng = np.random.default_rng(11)
    vals = rng.integers(1 << 40, 1 << 62, size=20_000, dtype=np.int64)
    rows = [(int(i), vals[i * 20:(i + 1) * 20].tolist())
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    res = build(df, (SketchSpec("quotient", "tokens"),
                     SketchSpec("hll", "tokens")))
    exact = len(np.unique(vals))
    assert res.sketches["quotient:tokens"].cardinality() == exact
    est = res.sketches["hll:tokens"].estimate()
    assert abs(est - exact) / exact < 0.05


def test_ckpt_resume_rejects_changed_slicing(spark, tiny_df, tmp_path):
    """Resuming a checkpoint with a different task slicing must fail
    loudly: partition ids name the state files, so a resliced resume
    would mark tasks done over DIFFERENT input slices (silent data
    loss)."""
    from qsketch.spark.agg import build_files

    p = str(tmp_path / "cktok")
    tiny_df.repartition(8).write.parquet(p)
    ck = str(tmp_path / "ck")
    specs = (SketchSpec("quotient", "tokens"),)
    build_files(spark, p, specs, ckpt_dir=ck, run_id="r1", parallelism=8)
    with pytest.raises(ValueError, match="mis-map"):
        build_files(spark, p, specs, ckpt_dir=ck, run_id="r1",
                    parallelism=2)
    # same slicing resumes fine and stays byte-identical
    a = build_files(spark, p, specs, ckpt_dir=ck, run_id="r1",
                    parallelism=8)
    b = build_files(spark, p, specs)
    assert (a.sketches["quotient:tokens"].to_bytes()
            == b.sketches["quotient:tokens"].to_bytes())
    # DataFrame path: repartitioned resume is rejected too
    ck2 = str(tmp_path / "ck2")
    build_partials(tiny_df, specs, ckpt_dir=ck2, run_id="r2").collect()
    with pytest.raises(ValueError, match="mis-map"):
        build_partials(tiny_df.repartition(3), specs,
                       ckpt_dir=ck2, run_id="r2").collect()


def test_grouped_kmv_set_relations_exact(spark, tiny_df):
    """grouped_set_relations in the exact (unsaturated) regime must
    reproduce ground-truth pairwise intersection/union/Jaccard computed
    from the raw token sets."""
    from qsketch.spark.agg import SketchSpec, build_grouped
    from qsketch.spark.queries import grouped_set_relations

    merged = build_grouped(
        tiny_df, (SketchSpec("kmv", "tokens", {"k": 1 << 16}),), "source")
    rel = {(r["a"], r["b"]): (r["n_intersection"], r["n_union"], r["jaccard"])
           for r in grouped_set_relations(merged, "group").collect()}

    rows = tiny_df.select("source", "tokens").collect()
    truth: dict[str, set] = {}
    for r in rows:
        truth.setdefault(r["source"], set()).update(r["tokens"] or [])
    srcs = sorted(truth)
    assert len(rel) == len(srcs) * (len(srcs) - 1) // 2
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            ni = len(truth[a] & truth[b])
            nu = len(truth[a] | truth[b])
            got = rel[(a, b)]
            assert got[0] == float(ni)
            assert got[1] == float(nu)
            assert abs(got[2] - (ni / nu if nu else 0.0)) < 1e-12


def test_grouped_kmv_saturated_estimates(spark, tiny_df):
    """Saturated KMV (k far below distinct count) must stay within the
    published ~1/sqrt(k-1) envelope for per-group cardinality."""
    from qsketch.spark.agg import SketchSpec, build_grouped
    from qsketch.spark.queries import grouped_cardinality

    merged = build_grouped(
        tiny_df, (SketchSpec("kmv", "tokens", {"k": 256}),), "source")
    est = {r["group"]: r["n_distinct"]
           for r in grouped_cardinality(merged, "group").collect()}
    rows = tiny_df.select("source", "tokens").collect()
    truth: dict[str, set] = {}
    for r in rows:
        truth.setdefault(r["source"], set()).update(r["tokens"] or [])
    for src, toks in truth.items():
        n = len(toks)
        if n <= 256:
            assert est[src] == n
        else:
            assert abs(est[src] - n) / n < 6 / (255 ** 0.5)


def test_ckpt_pin_corrupt_and_grandfathered(tmp_path):
    """An empty/corrupt slicing pin must fail loudly (it would otherwise
    'validate' any resume via grandfathering); a legitimate old pin that
    predates a newer meta key is accepted but emits a visible warning."""
    import json
    import os
    import warnings as _w

    from qsketch.spark.agg import _pin_ckpt_slicing

    ck = str(tmp_path / "ck")
    os.makedirs(os.path.join(ck, "r1"))
    # corrupt pin: {} must not validate anything
    with open(os.path.join(ck, "r1", "_slicing.json"), "w") as fh:
        json.dump({}, fh)
    with pytest.raises(ValueError, match="corrupt slicing pin"):
        _pin_ckpt_slicing(ck, "r1", {"n_tasks": 8, "plan_fingerprint": "x"})

    # grandfathered pin (pre-plan_fingerprint era): accepted with warning
    os.makedirs(os.path.join(ck, "r2"))
    with open(os.path.join(ck, "r2", "_slicing.json"), "w") as fh:
        json.dump({"n_tasks": 8}, fh)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        _pin_ckpt_slicing(ck, "r2", {"n_tasks": 8, "plan_fingerprint": "x"})
    assert any("predates key" in str(r.message) for r in rec)
    # and the pinned core key still protects: mismatch raises
    with pytest.raises(ValueError, match="mis-map"):
        _pin_ckpt_slicing(ck, "r2", {"n_tasks": 2, "plan_fingerprint": "x"})


def test_grouped_consume_fast_path_matches_gathered(spark, tiny_df):
    """The sorted-slice regroup must produce byte-identical states and
    identical n_rows/n_tokens to one plain consume per group over that
    group's gathered rows — nullable inputs included: null token rows,
    null token elements, null n_tok and a NULL group key (kept apart
    from the string "None")."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from qsketch.spark.agg import SketchSpec, _GroupedAcc, _PartitionAcc

    specs = (SketchSpec("quotient", "tokens"), SketchSpec("hll", "tokens"),
             SketchSpec("kll", "n_tok"))
    clean = pa.RecordBatch.from_pandas(tiny_df.limit(400).toPandas())
    nullable = pa.RecordBatch.from_pydict({
        "tokens": pa.array([[1, 2, 3], None, [4, None, 5], [], [2, 2],
                            None, [7]], type=pa.list_(pa.int32())),
        "n_tok": pa.array([3, 1, None, 0, 2, None, 1], type=pa.int32()),
        "source": ["web", None, "web", "None", None, "code", "None"],
    })
    null_only = nullable.filter(pc.is_null(nullable.column("source")))

    def grouped(batch):
        acc = _GroupedAcc(specs, "source")
        acc.consume(batch)
        rb = acc.to_record_batch(0)
        return {(g, k): (st, nr, nt) for g, k, st, nr, nt in zip(
            rb.column(0).to_pylist(), rb.column(2).to_pylist(),
            rb.column(3).to_pylist(), rb.column(4).to_pylist(),
            rb.column(5).to_pylist())}

    def gathered(batch):
        src = batch.column("source")
        out = {}
        for key in set(src.to_pylist()):
            rows = batch.filter(pc.is_null(src) if key is None
                                else pc.equal(src, key))
            pacc = _PartitionAcc(specs)
            pacc.consume(rows)
            rb = pacc.to_record_batch(0)
            for k, st, nr, nt in zip(
                    rb.column(1).to_pylist(), rb.column(2).to_pylist(),
                    rb.column(3).to_pylist(), rb.column(4).to_pylist()):
                out[(key, k)] = (st, nr, nt)
        return out

    for batch in (clean, nullable, null_only):
        assert grouped(batch) == gathered(batch)
    # n_rows counts null-token rows; n_tokens counts non-null tokens only
    counts = {g: v[1:] for (g, k), v in grouped(nullable).items()
              if k == "hll:tokens"}
    assert counts == {"web": (2, 5), None: (2, 2), "None": (2, 1),
                      "code": (1, 0)}


def test_grouped_build_null_group_key(spark, tmp_path):
    """A NULL group key is its own group, as in SQL GROUP BY, and stays
    apart from the string "None": both grouped builds match exact
    per-group distinct counts, the NULL group included."""
    import pyspark.sql.functions as F

    from qsketch.spark.agg import build_grouped_files

    rng = np.random.default_rng(17)
    sources = ["web", None, "None", "code"]
    rows = [(f"d{i}", rng.integers(0, 500, rng.integers(1, 20)).tolist(),
             sources[i % 4]) for i in range(600)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, source string").repartition(3)
    p = str(tmp_path / "nullgroups")
    df.write.parquet(p)
    df = spark.read.parquet(p)
    specs = (SketchSpec("quotient", "tokens"),)
    exact = {r["source"]: r["d"] for r in
             df.select("source", F.explode("tokens").alias("t"))
               .groupBy("source").agg(F.countDistinct("t").alias("d"))
               .collect()}
    assert set(exact) == set(sources)
    for merged in (build_grouped(df, specs, "source"),
                   build_grouped_files(spark, p, specs, "source")):
        got = {r["group"]: base.from_bytes(r["state"]).cardinality()
               for r in merged.collect()}
        assert got == exact


def test_ckpt_resume_rejects_changed_specs_files(spark, tiny_df, tmp_path):
    """Resuming a file-direct checkpoint with a different spec set must
    fail: every partition would be marked done and the new kind would be
    missing from the result."""
    from qsketch.spark.agg import build_files

    p = str(tmp_path / "cks")
    tiny_df.repartition(4).write.parquet(p)
    ck = str(tmp_path / "ck")
    build_files(spark, p, (SketchSpec("quotient", "tokens"),),
                ckpt_dir=ck, run_id="r")
    with pytest.raises(ValueError, match="mis-map"):
        build_files(spark, p, (SketchSpec("quotient", "tokens"),
                               SketchSpec("hll", "tokens")),
                    ckpt_dir=ck, run_id="r")


def test_ckpt_resume_rejects_changed_specs_grouped(spark, tmp_path):
    """The grouped build pins its spec set the same way."""
    df = generate_tokenized(spark, 200, seed=3, num_partitions=2)
    ck = str(tmp_path / "gck")
    build_grouped(df, (SketchSpec("quotient", "tokens"),), "source",
                  ckpt_dir=ck, run_id="g").collect()
    with pytest.raises(ValueError, match="mis-map"):
        build_grouped(df, (SketchSpec("quotient", "tokens"),
                           SketchSpec("hll", "tokens")), "source",
                      ckpt_dir=ck, run_id="g").collect()
