"""Golden end-to-end + property tests for the k-means driver (SURVEY §5.2/5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_k_means_spark.plans.kmeans import KMeansEngine, mllib_kmeans
from clickhouse_k_means_spark.plans.optimal_k import (
    elbow,
    silhouette_global,
    silhouette_sampled,
)
from clickhouse_k_means_spark.sources.dataset import from_table, load_yh
from clickhouse_k_means_spark.sources.generator import golden_points


SEPARATED_ANCHORS = [(0.0, 0.0), (65.0, 0.0), (0.0, 110.0), (65.0, 110.0)]


@pytest.fixture(scope="module")
def golden(spark):
    # explicit far-apart anchors → blobs are separable by construction
    # (random anchors can overlap, exactly like the reference's data gen)
    df = golden_points(spark, seed=7, anchors=SEPARATED_ANCHORS).cache()
    yield df
    df.unpersist()


def test_golden_shape(golden):
    assert golden.count() == 2004
    assert golden.select("true_cluster").distinct().count() == 4


def test_fit_converges_and_recovers_clusters(spark, golden):
    yh = from_table(golden, "i", ["x", "y"])
    eng = KMeansEngine(k=4, seed=42, max_iter=60, squared_weights=True)
    res = eng.fit_best(yh, n_init=3)
    assert res.converged, f"movements={res.movements}"
    assert len(res.model) == 4
    # history invariants (FIXTURES.md F3): step 0 has k rows; steps increase
    steps = sorted({s for s, _, _ in res.history})
    assert steps == list(range(0, res.n_iter + 1))
    assert sum(1 for s, _, _ in res.history if s == 0) == 4
    # movement decreases to < 0.01 (toUInt32(sum*100)==0)
    assert res.movements[-1] < 0.01

    # cluster recovery: each true cluster maps to exactly one predicted j
    assigned = eng.assign(yh, res.model).join(golden.select("i", "true_cluster"), "i")
    # well-separated blobs: dominant j per true cluster ≥ 95%
    dom = (
        assigned.groupBy("true_cluster", "j")
        .count()
        .groupBy("true_cluster")
        .agg((F.max("count") / F.sum("count")).alias("purity"))
        .collect()
    )
    assert all(r["purity"] >= 0.95 for r in dom), dom


def test_k1_centroid_is_mean(spark):
    df = spark.createDataFrame(
        [(i, float(i), float(2 * i)) for i in range(10)], "i long, x double, y double"
    )
    yh = from_table(df, "i", ["x", "y"])
    res = KMeansEngine(k=1, seed=1, max_iter=5).fit(yh)
    (j, c) = res.model[0]
    assert abs(c[0] - 4.5) < 1e-9 and abs(c[1] - 9.0) < 1e-9


def test_k_equals_n_zero_inertia(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0), (3, 0.0, 10.0)], "i long, x double, y double"
    )
    yh = from_table(df, "i", ["x", "y"])
    res = KMeansEngine(k=3, seed=3, max_iter=10).fit(yh)
    assert elbow(yh, res.model) < 1e-9


def test_history_df_schema(spark, golden):
    yh = from_table(golden, "i", ["x", "y"])
    res = KMeansEngine(k=2, seed=5, max_iter=30).fit(yh)
    hdf = res.history_df(spark)
    assert hdf.schema.simpleString() == "struct<step:bigint,j:int,C:array<double>>"
    assert hdf.count() == len(res.history)


def test_translation_invariance(spark):
    pts = [(i, float(i % 5), float(i % 3)) for i in range(30)]
    df = spark.createDataFrame(pts, "i long, x double, y double")
    yh1 = from_table(df, "i", ["x", "y"])
    yh2 = from_table(
        df.select("i", (F.col("x") + 100).alias("x"), (F.col("y") + 100).alias("y")),
        "i",
        ["x", "y"],
    )
    e1 = KMeansEngine(k=2, seed=9, max_iter=30)
    e2 = KMeansEngine(k=2, seed=9, max_iter=30)
    a1 = {r["i"]: r["j"] for r in e1.assign(yh1, e1.fit(yh1).model).collect()}
    a2 = {r["i"]: r["j"] for r in e2.assign(yh2, e2.fit(yh2).model).collect()}
    assert a1 == a2


def test_mllib_fast_path_comparable_inertia(spark, golden):
    yh = from_table(golden, "i", ["x", "y"])
    ref = KMeansEngine(k=4, seed=42, max_iter=60).fit(yh)
    _, centers = mllib_kmeans(yh, k=4, seed=42)
    e_ref = elbow(yh, ref.model, squared=True)
    e_ml = elbow(yh, centers, squared=True)
    assert e_ref <= 1.1 * e_ml or e_ml <= 1.1 * e_ref


def test_silhouette_global_and_sampled(spark):
    # two tight, far-apart blobs → si near 1
    rows = [(i, 0.0 + (i % 3) * 0.1, 0.0) for i in range(30)] + [
        (100 + i, 100.0 + (i % 3) * 0.1, 100.0) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "i long, x double, y double")
    yh = from_table(df, "i", ["x", "y"])
    model = [(1, [0.1, 0.0]), (2, [100.1, 100.0])]
    s = silhouette_global(yh, model)
    assert s["si"] > 0.99
    s2 = silhouette_sampled(yh, model, max_rows=40, seed=1)
    assert s2["si"] > 0.95


def test_init_scales_linearly_in_k(spark, sf_dir):
    """Regression guard for the O12 lineage blow-up: a k=12 init on the
    small fixture must stay in the seconds range (it was ~30s/round
    once chained caches passed ~12 layers)."""
    import random
    import time

    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, sf_dir, "lineitem").cache()
    yh.count()
    t0 = time.perf_counter()
    model = KMeansEngine(k=12, seed=42).init_centroids(yh, random.Random(42))
    elapsed = time.perf_counter() - t0
    yh.unpersist()
    assert len(model) == 12
    assert len({tuple(c) for _, c in model}) == 12  # all distinct picks
    assert elapsed < 60, f"init took {elapsed:.0f}s — lineage regression?"


def _np_kmeans_pp_inertia(X, k, seed, n_iter=60):
    """Canonical k-means++ (D² sampling) + Lloyd in numpy — the
    sklearn-equivalent comparator (sklearn itself is not installed in
    this environment; this is the same algorithm, SURVEY §5.3)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = [X[rng.randint(len(X))]]
    for _ in range(k - 1):
        d2 = ((X[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(-1).min(1)
        if d2.sum() == 0:
            centers.append(X[rng.randint(len(X))])
            continue
        centers.append(X[rng.choice(len(X), p=d2 / d2.sum())])
    C = np.asarray(centers, dtype=float)
    assign = None
    for _ in range(n_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        new_c = np.array(
            [
                X[assign == j].mean(0) if (assign == j).any() else C[j]
                for j in range(k)
            ]
        )
        if np.allclose(new_c, C):
            break
        C = new_c
    assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    return float(((X - C[assign]) ** 2).sum())


def test_fit_best_wcss_parity_with_canonical_kmeanspp(spark, golden):
    """SURVEY §5.3 quality gate (VERDICT r1 item 7): fit_best(n_init=3)
    WCSS must be within 1.05× of the best canonical numpy k-means++
    over 5 seeds on the golden 4-cluster set."""
    import numpy as np

    yh = from_table(golden, "i", ["x", "y"]).cache()
    try:
        X = np.array(
            [r["Y"] for r in yh.select("Y").collect()], dtype=float
        )
        baseline = min(
            _np_kmeans_pp_inertia(X, k=4, seed=s) for s in range(5)
        )
        res = KMeansEngine(k=4, seed=42, max_iter=60).fit_best(yh, n_init=3)
        ours = elbow(yh, res.model, squared=True)
        assert ours <= 1.05 * baseline, (
            f"fit_best WCSS {ours:.1f} > 1.05 × canonical {baseline:.1f}"
        )
    finally:
        yh.unpersist()


def test_fit_best_restarts_keep_every_setting_but_the_seed(spark, monkeypatch):
    """Each fit_best restart runs the caller's engine with only the
    seed changed: a k-means|| or reproducible-mode engine must not
    quietly fall back to the sequential ++ init or the fused Lloyd
    step."""
    seen = []
    # the per-restart body: every restart runs on fit_best's one
    # prepared working set
    fit = KMeansEngine._fit_on_prepared
    parallel_init = KMeansEngine.init_centroids_parallel

    def spy_fit(self, yh, *args, **kwargs):
        seen.append(
            (self.k, self.seed, self.max_iter, self.one_delta,
             self.squared_weights, self.mean_scales, self.init)
        )
        return fit(self, yh, *args, **kwargs)

    def spy_init(self, *args, **kwargs):
        seen.append(("parallel_init", self.seed))
        return parallel_init(self, *args, **kwargs)

    monkeypatch.setattr(KMeansEngine, "_fit_on_prepared", spy_fit)
    monkeypatch.setattr(KMeansEngine, "init_centroids_parallel", spy_init)
    yh = from_table(
        golden_points(spark, n_clusters=3, points_per_cluster=50, seed=7),
        "i",
        ["x", "y"],
    )
    eng = KMeansEngine(
        k=3, seed=11, max_iter=3, one_delta=1000.0, squared_weights=True,
        mean_scales=[100, 100], init="parallel",
    )
    res = eng.fit_best(yh, n_init=2)
    assert len(res.model) == 3
    rest = (3, 1000.0, True, [100, 100], "parallel")  # max_iter .. init
    assert seen == [
        (3, 11, *rest), ("parallel_init", 11),
        (3, 12, *rest), ("parallel_init", 12),
    ]
    assert eng.seed == 11  # the caller's engine is not mutated


def test_delta_finish_matches_fit_movement(spark):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine, delta_finish

    pts = [(0.0, 0.0), (1.0, 1.0), (20.0, 20.0), (21.0, 19.0), (-5.0, 7.0), (22.0, 18.0)]
    df = spark.createDataFrame(
        [(i, [x, y]) for i, (x, y) in enumerate(pts)], "i long, Y array<double>"
    )
    res = KMeansEngine(k=2, seed=3).fit(df)
    hist = res.history_df(spark)
    # fixed variant == the fit loop's own stopping metric (last step)
    assert delta_finish(hist) == int(res.movements[-1] * 100.0)
    # bug-for-bug variant (Q5) can only see a subset of centroids
    assert delta_finish(hist, reference_bug=True) <= delta_finish(hist) + 1


def test_fit_on_lineitem_fixture(spark, sf_dir):
    yh = load_yh(spark, sf_dir, "lineitem")
    res = KMeansEngine(k=3, seed=42, max_iter=25).fit(yh)
    assert len(res.model) == 3
    assert res.n_iter >= 1


def test_parallel_init_fit_recovers_golden(spark, golden):
    """init='parallel' (k-means||) actually dispatches in fit (r4: it
    was silently ignored before) and recovers the separable golden
    blobs with WCSS comparable to the sequential ++ fit."""
    yh = from_table(golden, "i", ["x", "y"]).cache()
    try:
        res = KMeansEngine(k=4, seed=42, max_iter=60, init="parallel").fit(yh)
        assert len(res.model) == 4
        assert res.converged
        par = elbow(yh, res.model, squared=True)
        seq = elbow(
            yh,
            KMeansEngine(k=4, seed=42, max_iter=60).fit_best(yh, n_init=3).model,
            squared=True,
        )
        assert par <= 1.10 * seq, f"k-means|| WCSS {par:.1f} vs ++ {seq:.1f}"
    finally:
        yh.unpersist()


def test_parallel_init_large_k_arrow_path(spark):
    """k=16 on lineitem exercises BOTH r4 large-k paths: the k-means||
    init (Arrow min-D² refresh) and the Arrow matmul Lloyd assignment
    (k*dim=48 >= threshold). All clusters populated, every row
    assigned once."""
    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem").cache()
    try:
        eng = KMeansEngine(k=16, seed=42, max_iter=5, init="parallel")
        res = eng.fit(yh)
        assert len(res.model) == 16
        assigned = eng.assign(yh, res.model)
        n = yh.count()
        assert assigned.count() == n
        assert assigned.select("j").distinct().count() == 16
    finally:
        yh.unpersist()


def test_fit_unpersists_cached_working_set_on_small_input(spark):
    """fit/resume_fit coalesce small inputs AFTER caching; the
    finally-unpersist must target the CACHED handle, not the coalesced
    plan, or the working set leaks after every fit (ADVICE r5)."""
    # the cache manager tracks .cache()d plans only (localCheckpoint
    # residue from init is ContextCleaner-managed and out of scope).
    # Clear residue from OTHER tests' live module fixtures first: this
    # test owns no cached input, so an empty manager afterwards proves
    # fit itself released everything it pinned.
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "clearCache left a cached plan"
    yh = from_table(
        golden_points(spark, n_clusters=3, points_per_cluster=200, seed=7),
        "i",
        ["x", "y"],
    )
    res = KMeansEngine(k=3, seed=7).fit(yh)
    assert len(res.model) == 3
    assert cm.isEmpty()


def test_bisecting_fit_recovers_golden_blobs(spark, golden):
    from clickhouse_k_means_spark.plans.kmeans import bisecting_fit
    from clickhouse_k_means_spark.plans.optimal_k import elbow
    from clickhouse_k_means_spark.sources.dataset import from_table

    yh = from_table(golden, "i", ["x", "y"])
    assigned, model = bisecting_fit(yh, k=4, seed=7)
    assert len(model) == 4
    assert assigned.count() == yh.count()  # every point exactly once
    assert assigned.select("i").distinct().count() == yh.count()
    # separable blobs: bisecting WCSS within 15% of a flat fit_best
    flat = KMeansEngine(k=4, seed=7).fit_best(yh, n_init=2)
    w_bis = elbow(yh, model, squared=True)
    w_flat = elbow(yh, flat.model, squared=True)
    assert w_bis <= 1.15 * w_flat, (w_bis, w_flat)


def test_bisecting_fit_edges(spark):
    from clickhouse_k_means_spark.plans.kmeans import bisecting_fit
    from clickhouse_k_means_spark.sources.dataset import from_table

    tiny = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 10.0)], "i long, x double, y double"
    )
    yh = from_table(tiny, "i", ["x", "y"])
    # k larger than splittable leaves → stops early with 2 leaves
    assigned, model = bisecting_fit(yh, k=5, seed=1)
    assert len(model) == 2
    assert assigned.count() == 2
    # k=1 → single mean cluster
    _, m1 = bisecting_fit(yh, k=1, seed=1)
    assert len(m1) == 1 and m1[0][1] == [5.0, 5.0]
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        bisecting_fit(yh, k=0)


def test_bisecting_fit_degenerate_leaf_terminates(spark):
    """ADVICE r6: a degenerate leaf (all-duplicate points, >= min_rows
    rows) must become permanently unsplittable — with the WCSS -1.0
    sentinel it was re-picked forever when it was the only >= min_rows
    leaf and len(leaves) < k."""
    from clickhouse_k_means_spark.plans.kmeans import bisecting_fit
    from clickhouse_k_means_spark.sources.dataset import from_table

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 0.0), (3, 1.0, 1.0)],
        "i long, x double, y double",
    )
    yh = from_table(pts, "i", ["x", "y"])
    assigned, model = bisecting_fit(yh, k=3, seed=1)
    # first split separates {dup, dup} from {(1,1)}; the duplicate
    # pair is degenerate, so the fit stops at 2 leaves
    assert len(model) == 2
    assert assigned.count() == 3
    labels = {r["i"]: r["j"] for r in assigned.collect()}
    assert labels[1] == labels[2] != labels[3]


def test_bisecting_fit_nan_duplicate_leaf_is_final(spark):
    """ADVICE r15: an all-duplicate leaf whose points carry NaN is
    unsplittable. The split test compares min(Y) and max(Y) in Spark,
    where NaN = NaN; a Python list compare (nan != nan) flagged the
    leaf splittable and the k=2 fit failed on it."""
    from clickhouse_k_means_spark.plans.kmeans import bisecting_fit

    yh = spark.createDataFrame(
        [(i, [float("nan"), 1.0]) for i in range(6)], "i bigint, Y array<double>"
    )
    assigned, model = bisecting_fit(yh, k=2, seed=1)
    assert len(model) == 1
    assert assigned.count() == 6


def test_lloyd_step_fused_matches_exact_means(spark):
    """The fused single-stage Lloyd step (mapInPandas partials +
    driver combine) must produce the same assignment (argmin, ties →
    lowest j) and per-cluster means as a direct computation."""
    import numpy as np

    from clickhouse_k_means_spark.sources.dataset import from_table

    rng = np.random.RandomState(7)
    pts = rng.uniform(-10, 10, size=(500, 3)).round(3)
    df = spark.createDataFrame(
        [(i, *map(float, p)) for i, p in enumerate(pts)],
        "i long, x double, y double, z double",
    )
    yh = from_table(df, "i", ["x", "y", "z"])
    model = [(j + 1, [float(j - 8), float(2 * j - 16), 0.5]) for j in range(16)]
    eng = KMeansEngine(k=16, seed=1)
    assert eng.mean_scales is None and 16 * 3 >= eng._ARROW_ASSIGN_CELLS
    got = dict(eng.lloyd_step(yh.repartition(6), model, dim=3))

    C = np.array([c for _, c in model])
    d2 = ((pts[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    idx = d2.argmin(axis=1)
    want = {
        j + 1: pts[idx == j].mean(axis=0)
        for j in range(16)
        if (idx == j).any()
    }
    assert set(got) == set(want)
    for j, c in got.items():
        assert np.allclose(c, want[j], atol=1e-9), (j, c, want[j])


def test_lloyd_fused_partials_plan_is_single_narrow_stage(spark, sf_dir):
    """The fused step's distributed portion must be shuffle-free: one
    MapInPandas over the cached points, no Exchange (the combine is
    driver-side below the partition threshold)."""
    from clickhouse_k_means_spark.functions.vector import lloyd_partials_batch
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, sf_dir, "lineitem")
    fn, schema = lloyd_partials_batch([[float(j), 0.0, 1.0, 2.0] for j in range(16)])
    plan = (
        yh.select("Y")
        .mapInPandas(fn, schema=schema)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
