"""Focused tests for the r14 optimization-round internals changes.

Each test pins ONE behavior an optimization changed, so a later
refactor that regresses it fails here and not only in a bench number:

- ``local_df`` (guide §2.2/§6): one-partition layout for bounded
  driver-built frames, content identical to ``createDataFrame``, and
  a state-store-style parquet commit producing ONE data file instead
  of ~defaultParallelism near-empty ones.
- ``ivf_query``'s driver-side probe-cell selection (guide §1.2): the
  NumPy argsort scoring must stay bit-equal to the
  ``nearest_cells_batch`` pandas_udf it replaced (same tie rule, same
  float64 arithmetic), or probe sets silently drift from the
  committed oracle results.
- sequential init first pick on DUPLICATE keys: the (hash, i) tie is
  broken on Y, so the pick is a pure function of the data, not of the
  partition layout / scan order.
- ``_aqe_off``: scoped — the session flag is restored on exit, on
  the exception path too; so is ``spark.sql.shuffle.partitions`` when
  the scope sets it.
- the fit's job floor: each ++ pick is two jobs (bucket sums,
  in-bucket window), prepare is at most two and its one aggregate also
  makes the seeded first pick, so a k=4 fit that converges in two
  Lloyd steps runs at most 10 jobs on a cached frame at full width
  (prepare then needs no repartition); ``fit_best``, a reproducible-mode
  fit, ``bisecting_fit`` and ``resume_fit`` are pinned too. The init
  is the same model at any input layout in both the xxhash and the
  reproducible mode, and a fit's step-0 model is the init's own.
- checkpoint blocks: an init round's state and a bisecting split's
  assignment frame and parent are released once nothing reads them,
  so stored blocks stay flat per round and per split.
- ANN job counts: an unfiltered ``ivf_query``/``pq_query``/
  ``ivfpq_query`` on a fresh index, and an ``ivfpq_query`` on an index
  with 4 pending delta layers, run no more jobs than pinned; so do an
  ``ivfpq_append`` and an ``ann_upsert`` at 0 and at 4 pending layers
  (the committed geometry comes from the memo), and a geometry memo
  miss on a 4-layer table collects in 1 job; ``ann_cdc_apply``'s op
  check and ``ann_delete(keys=)``'s no-op probe are ``isEmpty()``
  tests, one job each.
- streaming sinks: one micro-batch through the shared driver runs no
  more jobs per sink than pinned, a replay of a marked sink runs none,
  and ``StreamingSketch.process_batch`` stays at 2 jobs per batch at
  any batch count.
- snapshot reads: ``SnapshotStateStore.read`` starts no Spark job on a
  base-only table, under 8 delta layers, on a delta-only table after
  ``truncate`` and on mixed per-layer keys; a collect over 8 delta
  layers builds the tombstone side once (one join above the union,
  filters pushed into every scan), not once per union branch.
"""

from __future__ import annotations

import glob
import os
import random

import pytest
from conftest import _job_ids
from pyspark.sql import functions as F


def test_local_df_one_partition_content_and_files(spark, tmp_path):
    from clickhouse_k_means_spark.sources.dataset import local_df

    rows = [(1, [0.0, 1.0]), (2, [2.0, 3.0]), (3, [4.0, 5.0])]
    schema = "i bigint, Y array<double>"
    df = local_df(spark, rows, schema)
    assert df.rdd.getNumPartitions() == 1
    ref = spark.createDataFrame(rows, schema)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, ref.collect()))
    assert df.schema == ref.schema
    out = str(tmp_path / "commit")
    df.write.mode("overwrite").parquet(out)
    # one bounded frame -> ONE data file (the r13 shape wrote
    # ~defaultParallelism near-empty files per store commit)
    assert len(glob.glob(os.path.join(out, "part-*"))) == 1


def test_driver_probe_cells_bitwise_match_pandas_udf(spark):
    """ivf_query's driver-side probe pick == nearest_cells_batch."""
    import numpy as np

    from clickhouse_k_means_spark.functions.vector import nearest_cells_batch
    from clickhouse_k_means_spark.sources.dataset import local_df

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(6, 4))
    # include EXACT duplicate centers so the tie rule is exercised
    centers[3] = centers[1]
    centers_l = [[float(x) for x in c] for c in centers]
    queries = rng.normal(size=(9, 4))
    # one query exactly on a duplicated center: a hard tie
    queries[0] = centers[1]
    nprobe = 3

    # the ivf_query driver-side arithmetic, verbatim
    centers_np = np.asarray(centers_l, dtype=np.float64)
    q_mat = np.asarray(queries, dtype=np.float64)
    scores = -2.0 * (q_mat @ centers_np.T) + (centers_np * centers_np).sum(axis=1)
    driver_cells = np.argsort(scores, axis=1, kind="stable")[:, :nprobe]

    qdf = local_df(
        spark,
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "q bigint, qv array<double>",
    )
    udf_rows = (
        qdf.select("q", nearest_cells_batch(centers_l, nprobe=nprobe)("qv").alias("c"))
        .orderBy("q")
        .collect()
    )
    assert [list(r["c"]) for r in udf_rows] == [
        [int(c) for c in row] for row in driver_cells
    ]


def test_init_first_pick_duplicate_keys_layout_independent(spark):
    """Duplicate-key fixture: same first pick (and model) regardless of
    partition layout — the r14 tie-break-on-Y fix."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    rows = []
    for i in range(40):
        rows.append((i % 10, [float(i % 10), float(i)]))  # duplicate keys
    base = spark.createDataFrame(rows, "i bigint, Y array<double>")
    eng = KMeansEngine(k=2, seed=42, max_iter=5)
    models = []
    for n_parts in (1, 7, 32):
        layout = base.repartition(n_parts)
        models.append(eng.init_centroids(layout, random.Random(42)))
    assert models[0] == models[1] == models[2]


def test_aqe_guard_restores_flag_on_exit_and_error(spark):
    from clickhouse_k_means_spark.plans.kmeans import _aqe_off

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "true")
    spark.conf.set(keys[1], "7")
    try:
        # without shuffle_partitions the partition count is untouched
        with _aqe_off(spark):
            assert [spark.conf.get(k) for k in keys] == ["false", "7"]
        assert [spark.conf.get(k) for k in keys] == ["true", "7"]
        with _aqe_off(spark, shuffle_partitions=1):
            assert [spark.conf.get(k) for k in keys] == ["false", "1"]
        assert [spark.conf.get(k) for k in keys] == ["true", "7"]
        for parts in (None, 1):
            with pytest.raises(RuntimeError):
                with _aqe_off(spark, shuffle_partitions=parts):
                    raise RuntimeError("boom")
            assert [spark.conf.get(k) for k in keys] == ["true", "7"]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _blobs(spark, n_per: int = 250, seed: int = 0):
    """Four 3-d blobs 1000 apart with spread 0.01, rounded to 2
    decimals so ``mean_scales=[100] * 3`` is exact."""
    import numpy as np

    rng = np.random.default_rng(seed)
    anchors = np.asarray(
        [(0, 0, 0), (1000, 0, 0), (0, 1000, 0), (0, 0, 1000)], dtype=float
    )
    pts = np.round(
        np.repeat(anchors, n_per, axis=0) + 0.01 * rng.standard_normal((4 * n_per, 3)),
        2,
    )
    return spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "i bigint, Y array<double>",
    )


def test_plusplus_fit_and_init_job_floor(spark):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    sc = spark.sparkContext
    yh = _blobs(spark).cache()
    try:
        yh.count()
        with _job_ids(sc, "pp-fit") as fit_jobs:
            res = KMeansEngine(k=4, seed=7).fit(yh)
        assert len(res.model) == 4 and res.n_iter == 2
        # prepare 1 (no repartition; its aggregate makes the first
        # pick), init 7 (the distinct state's exchange, two per pick),
        # Lloyd 2
        assert len(fit_jobs) <= 10, fit_jobs
        for k in (3, 6):
            eng = KMeansEngine(k=k, seed=7)
            with _job_ids(sc, f"pp-init-{k}") as init_jobs:
                eng.init_centroids(yh, random.Random(7))
            # called on its own: the first pick's one-row aggregate and
            # the distinct state's exchange, then two per pick
            assert len(init_jobs) <= 2 * (k - 1) + 2, (k, init_jobs)
    finally:
        yh.unpersist()


def test_parallel_init_first_pick_is_the_emptiness_check(spark):
    """A k-means|| fit runs 10 jobs: prepare's aggregate makes the
    first pick, so the init runs no probe of its own. Called on its
    own, the init's first-pick aggregate is the emptiness check: an
    empty input raises the named error."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    sc = spark.sparkContext
    yh = _blobs(spark).cache()
    try:
        yh.count()
        with _job_ids(sc, "par-fit") as fit_jobs:
            res = KMeansEngine(k=4, seed=7, init="parallel").fit(yh)
        assert len(res.model) == 4 and res.n_iter == 2
        assert len(fit_jobs) <= 10, fit_jobs
        with pytest.raises(ValueError, match="input DataFrame is empty"):
            KMeansEngine(k=4, seed=7, init="parallel").init_centroids_parallel(
                yh.limit(0), random.Random(7)
            )
    finally:
        yh.unpersist()


def test_fit_paths_job_pins(spark, tmp_path):
    """One prepare serves ``fit_best``'s restarts and makes every first
    pick; a reproducible-mode fit takes its pick there too.
    ``bisecting_fit`` (its own checkpointed base, one pick per split)
    and ``resume_fit`` (no pick) stay at their counts."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine, bisecting_fit
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    sc = spark.sparkContext
    yh = _blobs(spark).cache()
    try:
        yh.count()
        with _job_ids(sc, "pin-fit-best") as jobs:
            KMeansEngine(k=4, seed=7).fit_best(yh, n_init=3)
        # prepare 1, then per restart init 7, Lloyd 2, inertia 1
        assert len(jobs) <= 31, jobs
        with _job_ids(sc, "pin-reproducible") as jobs:
            res = KMeansEngine(k=4, seed=7, mean_scales=[100] * 3).fit(yh)
        assert res.n_iter == 2 and len(jobs) <= 12, jobs
        with _job_ids(sc, "pin-bisecting") as jobs:
            _, model = bisecting_fit(yh, k=4, seed=5)
        assert len(model) == 4 and len(jobs) <= 38, jobs
        store = SnapshotStateStore(str(tmp_path / "store"))
        KMeansEngine(k=4, seed=7, max_iter=1).fit(yh, state_store=store)
        with _job_ids(sc, "pin-resume") as jobs:
            res = KMeansEngine(k=4, seed=7).resume_fit(yh, store)
        assert res.converged and len(jobs) <= 4, jobs
    finally:
        yh.unpersist()


@pytest.mark.parametrize("init", ["plusplus", "parallel"])
@pytest.mark.parametrize("scales", [None, [100, 100, 100]], ids=["xxhash", "reproducible"])
def test_fit_step0_is_the_init_on_its_own(spark, init, scales):
    """prepare's first pick is salted by the first draw of
    ``Random(seed)``, the draw the init takes itself: the step-0 model
    of a fit equals the init run on its own, at any layout."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    base = _blobs(spark, n_per=50, seed=4)
    eng = KMeansEngine(k=4, seed=13, max_iter=1, mean_scales=scales, init=init)
    own = (eng.init_centroids_parallel if init == "parallel" else eng.init_centroids)(
        base, random.Random(13)
    )
    for n in (1, 4, spark.sparkContext.defaultParallelism):
        res = eng.fit(base.repartition(n))
        assert [(j, c) for s, j, c in res.history if s == 0] == own, n


@pytest.mark.parametrize("scales", [None, [100, 100, 100]], ids=["xxhash", "reproducible"])
def test_plusplus_init_same_model_at_any_layout(spark, scales):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    base = _blobs(spark, n_per=100, seed=1)
    eng = KMeansEngine(k=4, seed=11, mean_scales=scales)
    layouts = (1, 4, spark.sparkContext.defaultParallelism)
    inits = [
        eng.init_centroids(base.repartition(n), random.Random(11)) for n in layouts
    ]
    assert inits[0] == inits[1] == inits[2]
    if scales is not None:
        # reproducible mode: the whole fit, Lloyd means included
        fits = [eng.fit(base.repartition(n)).model for n in layouts]
        assert fits[0] == fits[1] == fits[2]


def _stored_rdds(sc) -> set[int]:
    """Ids of the RDDs that hold blocks in the block manager."""
    return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}


def test_plusplus_init_releases_round_states(spark, monkeypatch):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    sc = spark.sparkContext
    yh = _blobs(spark, n_per=100, seed=2)
    before = _stored_rdds(sc)
    held: list[int] = []
    pick = KMeansEngine._weighted_pick

    def counting_pick(self, state, rng, round_no):
        out = pick(self, state, rng, round_no)
        held.append(len(_stored_rdds(sc) - before))
        return out

    monkeypatch.setattr(KMeansEngine, "_weighted_pick", counting_pick)
    KMeansEngine(k=6, seed=3).init_centroids(yh, random.Random(3))
    # at most the state just read and its predecessor, in every round
    assert len(held) == 5 and max(held) <= 2, held
    assert not _stored_rdds(sc) - before


def test_bisecting_fit_keeps_only_leaf_blocks(spark):
    from clickhouse_k_means_spark.plans.kmeans import bisecting_fit

    sc = spark.sparkContext
    yh = _blobs(spark, n_per=100, seed=3)
    before = _stored_rdds(sc)
    assigned, model = bisecting_fit(yh, k=4, seed=5)
    stored = _stored_rdds(sc) - before
    # one checkpoint per leaf; no split parents or assignment frames
    assert len(model) == 4 and len(stored) == 4, stored
    assert assigned.count() == 400


def test_hof_dot_cosine_bitwise_match_unrolled(spark):
    """The dim>=_HOF_DIM_CUTOFF HOF fold in dot_fixed/cosine_fixed must
    stay bit-identical to the unrolled expression it replaced (r14):
    same left-fold order, accumulator typed by the first product (a
    float32 column keeps float32 partial sums), inputs capped at dim,
    short inputs RAISE (the unrolled form's ANSI out-of-range error),
    NULL arrays propagate NULL. Checked on float32 AND float64 arrays,
    plus the _cosine_scored per-vector-norm form."""
    import random as _r

    from clickhouse_k_means_spark.functions.distance import (
        _HOF_DIM_CUTOFF,
        _dot_sql,
        _hof_dot,
        cosine_fixed,
        dot_fixed,
    )

    dim = 24
    assert dim >= _HOF_DIM_CUTOFF
    rng = _r.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)],
         [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(64)
    ]
    rows.append((64, None, [1.0] * dim))  # NULL array -> NULL, no error
    for elem in ("float", "double"):
        df = spark.createDataFrame(
            rows, f"i bigint, a array<{elem}>, b array<{elem}>"
        )
        unrolled_dot = F.expr(_dot_sql("a", "b", dim))
        unrolled_cos = F.expr(
            f"({_dot_sql('a', 'b', dim)}) / (sqrt({_dot_sql('a', 'a', dim)})"
            f" * sqrt({_dot_sql('b', 'b', dim)}))"
        )
        got = df.select(
            (dot_fixed("a", "b", dim) == unrolled_dot).alias("dot_eq"),
            (cosine_fixed("a", "b", dim) == unrolled_cos).alias("cos_eq"),
            # the _cosine_scored shape: dot / (per-vector sqrt norms)
            (
                (
                    _hof_dot("a", "b", dim)
                    / (
                        F.sqrt(_hof_dot("a", "a", dim))
                        * F.sqrt(_hof_dot("b", "b", dim))
                    )
                )
                == unrolled_cos
            ).alias("norm_eq"),
            dot_fixed("a", "b", dim).isNull().alias("dot_null"),
            unrolled_dot.isNull().alias("unrolled_null"),
        ).collect()
        for r in got:
            # equality holds row-by-row, and NULLs line up exactly
            assert r["dot_null"] == r["unrolled_null"]
            if not r["dot_null"]:
                assert r["dot_eq"] and r["cos_eq"] and r["norm_eq"], r
    # a vector SHORTER than dim fails loudly (as the unrolled ANSI
    # a[d] does), instead of zip_with's silent null-pad
    short = spark.createDataFrame(
        [(1, [1.0] * (dim - 3), [1.0] * dim)],
        "i bigint, a array<double>, b array<double>",
    )
    with pytest.raises(Exception, match="shorter than dim"):
        short.select(dot_fixed("a", "b", dim).alias("d")).collect()
    # below the cutoff the plan keeps the codegen'd unrolled form
    df3 = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "i bigint, a array<double>, b array<double>",
    )
    small_plan = df3.select(
        dot_fixed("a", "b", 3).alias("d")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" not in small_plan and "zip_with(" not in small_plan


def test_streaming_batch_single_materialization_contract(spark, tmp_path):
    """The micro-batch body receives an eagerly-materialized frame:
    re-reading it must not re-execute the (side-effecting) source.
    Pinned via localCheckpoint semantics: the checkpointed frame's
    plan no longer references the source after the input is gone."""
    from clickhouse_k_means_spark.sources.dataset import local_df

    df = local_df(spark, [(1, "a"), (2, "b")], "k bigint, v string")
    eager = df.localCheckpoint(eager=True)
    # two consumers, one execution of the parent plan each -> same rows
    assert eager.count() == 2
    assert sorted(map(tuple, eager.collect())) == [(1, "a"), (2, "b")]


# Spark jobs of one unfiltered top-k query on a freshly built
# 64-vector index, and on an IVF-PQ index carrying 4 delta layers
# (upsert, delete, append, upsert: one more job, the fold's tombstone
# build); the committed geometry comes from the memo the build seeded,
# with no geometry collect. IVF: the query collect, the broadcast of
# the query cells, the exchange by query and the result. PQ and IVF-PQ:
# the query collect, the Arrow shortlist pass up to its one exchange by
# query, and the result (5 and 6 while the shortlist took its own
# exchange and the query rows a broadcast join)
_ANN_QUERY_JOBS = {"ivf": 4, "pq": 3, "ivfpq": 3, "ivfpq-churn": 4}


@pytest.mark.parametrize("case", ["ivf", "pq", "ivfpq", "ivfpq-churn"])
def test_ann_query_job_count(spark, tmp_path, case):
    import math

    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    family = case.split("-")[0]
    table = f"{family}_index"
    store = SnapshotStateStore(str(tmp_path / family))

    def vectors(ids, phase=0.0):
        return spark.createDataFrame(
            [
                (i, [math.cos(i * 0.1 + phase), math.sin(i * 0.1 + phase),
                     0.1 * (i % 3), 0.2])
                for i in ids
            ],
            "vec_id bigint, embedding array<double>",
        )

    vecs = vectors(range(64))
    geometry = {
        "ivf": {"nlist": 4},
        "pq": {"m_sub": 2, "n_codes": 4},
        "ivfpq": {"nlist": 4, "m_sub": 2, "n_codes": 4},
    }[family]
    getattr(ann_index, f"{family}_index")(vecs, store, seed=42, **geometry)
    if case == "ivfpq-churn":
        ann_index.ann_upsert(vectors([3, 5], phase=1.0), store, table)
        ann_index.ann_delete(spark, [7, 41], store, table)
        ann_index.ivfpq_append(vectors([70, 71]), store, table)
        ann_index.ann_upsert(vectors([3, 70], phase=2.0), store, table)
        assert store.delta_layers(table) == 4
    queries = vecs.filter(F.col("vec_id").isin(3, 40))
    sc = spark.sparkContext
    with _job_ids(sc, f"ann-query-{case}") as jobs:
        rows = getattr(ann_index, f"{family}_query")(
            queries, store, k=5, query_key="vec_id"
        ).collect()
    assert len(rows) == 10 and {r["q"] for r in rows} == {3, 40}
    assert len(jobs) <= _ANN_QUERY_JOBS[case], jobs


# Spark jobs of one 2-vector ``ivfpq_append`` / ``ann_upsert`` on the
# same 64-vector IVF-PQ index at 0 and at 4 pending delta layers
# (``ann_delete`` layers); measured on 4 local cores with the geometry
# served from the memo the build seeded (before the memo: 8, 10, 8, 9;
# the upserts ran 7 while their emptiness probe was a ``head(1)``)
_ANN_WRITE_JOBS = {
    ("append", 0): 7, ("append", 4): 8, ("upsert", 0): 6, ("upsert", 4): 6,
}


def _ivfpq_fixture(spark, store, layers: int):
    """A 64-vector IVF-PQ index in ``store`` with ``layers`` pending
    single-key delete layers."""
    import math

    from clickhouse_k_means_spark.operators import ann_index

    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.1), math.sin(i * 0.1), 0.1 * (i % 3), 0.2])
         for i in range(64)],
        "vec_id bigint, embedding array<double>",
    )
    ann_index.ivfpq_index(vecs, store, nlist=4, m_sub=2, n_codes=4, seed=42)
    for i in range(layers):
        ann_index.ann_delete(spark, [10 + i], store, "ivfpq_index")
    assert store.delta_layers("ivfpq_index") == layers


@pytest.mark.parametrize("verb", ["append", "upsert"])
@pytest.mark.parametrize("layers", [0, 4])
def test_ann_write_job_count(spark, tmp_path, verb, layers):
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    _ivfpq_fixture(spark, store, layers)
    batch = spark.createDataFrame(
        [(3 if verb == "upsert" else 100, [0.5, 0.5, 0.1, 0.2]),
         (5 if verb == "upsert" else 101, [0.3, -0.5, 0.2, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    write = ann_index.ivfpq_append if verb == "append" else ann_index.ann_upsert
    with _job_ids(spark.sparkContext, f"ann-{verb}-{layers}") as jobs:
        write(batch, store, "ivfpq_index")
    live = store.read(spark, "ivfpq_index").filter("n IS NOT NULL")
    assert live.count() == 64 - layers + (2 if verb == "append" else 0)
    assert len(jobs) <= _ANN_WRITE_JOBS[(verb, layers)], jobs


def test_ann_upsert_probes_a_first_empty_partition_in_one_job(spark, tmp_path):
    """``ann_upsert`` tests its checkpointed batch for rows in one job
    whatever the layout: a ``head(1)`` probe found the first of 4
    partitions empty and scanned again (7 jobs at 4 local cores)."""
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    _ivfpq_fixture(spark, store, 0)
    rows = [(3, [0.5, 0.5, 0.1, 0.2]), (5, [0.3, -0.5, 0.2, 0.2])]
    batch = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        "vec_id bigint, embedding array<double>",
    )
    assert batch.rdd.glom().map(len).collect()[0] == 0
    with _job_ids(spark.sparkContext, "ann-upsert-first-empty") as jobs:
        ann_index.ann_upsert(batch, store, "ivfpq_index")
    assert store.read(spark, "ivfpq_index").filter("n IS NOT NULL").count() == 64
    assert len(jobs) <= 6, jobs


def test_ann_cdc_apply_tests_ops_without_a_collect(spark, tmp_path):
    """``ann_cdc_apply`` tests the batch for unknown ops with
    ``isEmpty()`` and collects a bad row only to raise: a 2-row batch
    whose first of 4 partitions is empty applies in 8 jobs (a
    ``limit(1).collect()`` probe scanned again: 9 at 4 local cores)."""
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    _ivfpq_fixture(spark, store, 0)
    schema = "vec_id bigint, embedding array<double>, op string"
    rows = [(3, [0.5, 0.5, 0.1, 0.2], "u"), (5, None, "d")]
    batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    assert batch.rdd.glom().map(len).collect()[0] == 0
    with _job_ids(spark.sparkContext, "ann-cdc-first-empty") as jobs:
        ann_index.ann_cdc_apply(batch, store, "ivfpq_index")
    live = store.read(spark, "ivfpq_index").filter("n IS NOT NULL")
    assert sorted(r["n"] for r in live.collect()) == [
        i for i in range(64) if i != 5
    ]
    assert len(jobs) <= 8, jobs
    bad = spark.createDataFrame([(7, None, "x")], schema)
    with pytest.raises(ValueError, match="unknown op 'x'"):
        ann_index.ann_cdc_apply(bad, store, "ivfpq_index")


def test_ann_delete_probes_an_absent_key_in_one_job(spark, tmp_path):
    """``ann_delete(keys=)`` tests its semi join with ``isEmpty()``:
    on an index with one pending delete layer, an absent key commits
    nothing in 3 jobs and a present one deletes in 4 (a ``head(1)``
    probe ran 4 and 5 at 4 local cores)."""
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    _ivfpq_fixture(spark, store, 1)
    v0 = store.latest_version("ivfpq_index")
    sc = spark.sparkContext
    with _job_ids(sc, "ann-delete-absent") as absent:
        assert ann_index.ann_delete(spark, [999], store, "ivfpq_index") == v0
    with _job_ids(sc, "ann-delete-present") as present:
        assert ann_index.ann_delete(spark, [7], store, "ivfpq_index") == v0 + 1
    assert len(absent) <= 3, absent
    assert len(present) <= 4, present


def test_geometry_memo_miss_collects_in_one_job(spark, tmp_path):
    """A geometry memo miss reads the base files alone: one collect at
    any layer count, and the arrays equal what the build seeded."""
    import numpy as np

    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    _ivfpq_fixture(spark, store, 4)
    seeded = ann_index._geometry(spark, store, "ivfpq_index")
    ann_index._MEMO.clear()
    with _job_ids(spark.sparkContext, "ann-geometry-miss") as jobs:
        cold = ann_index._geometry(spark, store, "ivfpq_index")
    assert len(jobs) == 1, jobs
    for a, b in zip([seeded.centroids, *seeded.books],
                    [cold.centroids, *cold.books]):
        assert a.dtype == b.dtype == np.float64
        assert a.shape == b.shape and a.tobytes() == b.tobytes()


def _job_free_read_table(spark, store, shape: str) -> list[int]:
    """Commit table ``t`` in one of four shapes; returns the keys
    (column ``a``) its head snapshot holds."""

    def rows(ids):
        return spark.createDataFrame(
            [(i, i % 3, float(i)) for i in ids], "a bigint, b bigint, v double"
        )

    def keys(col, ids):
        return spark.createDataFrame([(i,) for i in ids], f"{col} bigint")

    store.append(rows(range(16)), "t")
    if shape == "base":
        return list(range(16))
    if shape == "layers":
        # even layers: tombstones + fresh rows; odd: tombstones only,
        # two of which hit an earlier layer's fresh row
        for i in range(8):
            gone = [i] + ([15 + i] if i in (1, 5) else [])
            fresh = rows([16 + i]) if i % 2 == 0 else None
            store.merge_delta("t", "a", tombstones=keys("a", gone), fresh=fresh)
        return list(range(8, 16)) + [18, 22]
    if shape == "truncated":
        store.truncate("t")
        store.merge_delta("t", "a", fresh=rows(range(16, 20)))
        return list(range(16, 20))
    # mixed per-layer keys: one fold join per key column
    store.merge_delta("t", "a", tombstones=keys("a", [1]), fresh=rows([16, 17]))
    store.merge_delta("t", "b", tombstones=keys("b", [2]))
    return [i for i in range(18) if i != 1 and i % 3 != 2]


@pytest.mark.parametrize("shape", ["base", "layers", "truncated", "mixed_keys"])
def test_snapshot_read_starts_no_job(spark, tmp_path, shape):
    """``SnapshotStateStore.read`` plans every scan from the manifest's
    schema: resolving a snapshot starts no Spark job at any layer
    count, so no parquet footer is read for schema inference."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "store"))
    want = _job_free_read_table(spark, store, shape)
    with _job_ids(spark.sparkContext, f"read-{shape}") as jobs:
        df = store.read(spark, "t")
    assert jobs == []
    assert df.columns == ["a", "b", "v"]
    assert sorted(r["a"] for r in df.collect()) == want


def test_layered_read_builds_tombstones_once(spark, tmp_path):
    """A collect over a read with 8 delta layers runs at most 2 jobs
    more than over the base-only read: the fold is one join above the
    union of base and fresh rows, so the tombstone side is built once
    per action, not once per union branch. A filter on the key column
    still reaches every parquet scan, tombstone scans included."""
    import re

    from clickhouse_k_means_spark.plans.audit import plan_string
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    sc = spark.sparkContext
    counts = {}
    for shape in ("base", "layers"):
        store = SnapshotStateStore(str(tmp_path / shape))
        want = _job_free_read_table(spark, store, shape)
        df = store.read(spark, "t")
        with _job_ids(sc, f"fold-{shape}") as jobs:
            got = df.collect()
        assert sorted(r["a"] for r in got) == want
        counts[shape] = len(jobs)
    assert counts["layers"] <= counts["base"] + 2, counts

    df = store.read(spark, "t").filter("a >= 4")
    assert sorted(r["a"] for r in df.collect()) == [a for a in want if a >= 4]
    plan = plan_string(df).split("== Initial Plan ==")[0]
    ops = re.findall(r"^[\s:+-]*(?:\*\(\d+\) )?(\w+)", plan, re.M)
    joins = [i for i, op in enumerate(ops) if op.endswith("Join")]
    assert len(joins) == 1 and joins[0] < ops.index("Union"), ops
    assert ops.count("BroadcastExchange") <= 1, ops
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    # base + 4 fresh layers + 8 tombstone layers
    assert len(scans) == 13, plan
    assert all("GreaterThanOrEqual(a,4)" in line for line in scans), plan


def _sink_case(spark, tmp_path, kind: str):
    """One streaming sink and its i-th 2-row micro-batch, as a static
    frame. The ANN sinks write into a 64-vector IVF-PQ index."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming import (
        ann_stream,
        dedup_stream,
        kmeans_stream,
        sketch_stream,
        snapshot_sink,
    )

    store = SnapshotStateStore(str(tmp_path / "s"))
    vs = "vec_id bigint, embedding array<double>"

    def frame(rows, schema):
        return lambda i: spark.createDataFrame(rows(i), schema)

    if kind == "snapshot":
        sink = snapshot_sink.SnapshotStreamSink(store, "t")
        return sink, frame(lambda i: [(2 * i,), (2 * i + 1,)], "id bigint")
    if kind in ("histogram", "distinct"):
        sink = sketch_stream.StreamingSketch(
            store, col="v", kind=kind, lo=0.0, width=1.0, n_bins=8
        )
        return sink, frame(lambda i: [(i,), (i + 1,)], "v bigint")
    if kind == "kmeans":
        sink = kmeans_stream.StreamingKMeans([(1, [0.0]), (2, [10.0])])
        return sink, frame(
            lambda i: [([float(i)],), ([10.0 + i],)], "Y array<double>"
        )
    if kind == "dedup":
        sink = dedup_stream.StreamingDedup(store, table="seen")
        sink.sink_path = str(tmp_path / "survivors")
        return sink, frame(
            lambda i: [(2 * i, f"doc {i}"), (2 * i + 1, "doc 0")],
            "doc_id bigint, text string",
        )
    _ivfpq_fixture(spark, store, 0)
    vec = [0.5, 0.5, 0.1, 0.2]
    if kind == "append":
        sink = ann_stream.StreamingIvfPqIngest(store)
        return sink, frame(lambda i: [(100 + 2 * i, vec), (101 + 2 * i, vec)], vs)
    if kind == "upsert":
        sink = ann_stream.StreamingUpsertIngest(store, table="ivfpq_index")
        return sink, frame(lambda i: [(2 * i, vec), (2 * i + 1, vec)], vs)
    sink = ann_stream.StreamingCdcApply(store, table="ivfpq_index")
    return sink, frame(
        lambda i: [(2 * i, vec, "u"), (2 * i + 1, None, "d")], vs + ", op string"
    )


# Spark jobs of one 2-row micro-batch through the shared driver
# (``MicroBatchSink._apply``: replay check, materialization, emptiness
# test, commit), measured on 4 local cores; a replay of a marked sink
# runs none
_SINK_BATCH_JOBS = {
    "snapshot": 2, "histogram": 4, "distinct": 4, "kmeans": 4,
    "dedup": 15, "append": 11, "upsert": 9, "cdc": 11,
}


@pytest.mark.parametrize("kind", list(_SINK_BATCH_JOBS))
def test_sink_micro_batch_job_count(spark, tmp_path, kind):
    sink, batch = _sink_case(spark, tmp_path, kind)
    sc = spark.sparkContext
    for i in range(3):
        with _job_ids(sc, f"sink-{kind}-{i}") as jobs:
            assert sink._apply(batch(i), i) is True
        assert len(jobs) <= _SINK_BATCH_JOBS[kind], (i, jobs)
    if sink.marked:
        with _job_ids(sc, f"sink-{kind}-replay") as jobs:
            assert sink._apply(batch(1), 1) is False
        assert jobs == [] and sink.n_skipped == 1


def test_sketch_batch_jobs_flat_in_batch_count(spark, tmp_path):
    """``StreamingSketch.process_batch`` commits the state and its
    replay marker in one version: 2 jobs per batch at any batch count
    and none for a replayed batch (a separate batch-id table cost 3, 4
    and 5 jobs on batches 1 to 3 and 1 to 2 per replay)."""
    sink, batch = _sink_case(spark, tmp_path, "histogram")
    sc = spark.sparkContext
    for i in range(3):
        with _job_ids(sc, f"sketch-{i}") as jobs:
            sink.process_batch(batch(i), i)
        assert len(jobs) <= 2, (i, jobs)
    for i in range(3):
        with _job_ids(sc, f"sketch-replay-{i}") as jobs:
            sink.process_batch(batch(i), i)
        assert jobs == [], (i, jobs)
    assert sink.n_batches == 3 and sink.n_skipped == 3
    merged = sink.state.merged(spark).collect()
    assert sum(r["cnt"] for r in merged) == 6
