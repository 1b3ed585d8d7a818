"""Property-based invariants (SURVEY §5.4) — hypothesis over small
point sets, expression-level where possible so examples stay fast."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.centroids import nearest_centroid_struct

coords = st.integers(min_value=-50, max_value=50).map(float)
points = st.lists(st.tuples(coords, coords), min_size=4, max_size=10, unique=True)

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _df(spark, pts):
    return spark.createDataFrame(
        [(i, [x, y]) for i, (x, y) in enumerate(pts)], "i long, Y array<double>"
    )


@given(pts=points)
@SETTINGS
def test_k1_centroid_is_per_dim_mean(spark, pts):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    eng = KMeansEngine(k=1)
    model = eng.lloyd_step(_df(spark, pts), [(1, [0.0, 0.0])], dim=2)
    mean_x = sum(x for x, _ in pts) / len(pts)
    mean_y = sum(y for _, y in pts) / len(pts)
    assert model[0][0] == 1
    assert model[0][1][0] == pytest.approx(mean_x)
    assert model[0][1][1] == pytest.approx(mean_y)


@given(pts=points, dx=coords, dy=coords)
@SETTINGS
def test_assignment_translation_invariant(spark, pts, dx, dy):
    model = [(1, [-10.0, -10.0]), (2, [10.0, 10.0])]
    shifted_model = [(j, [c[0] + dx, c[1] + dy]) for j, c in model]
    df = _df(spark, pts)
    base = df.select("i", nearest_centroid_struct("Y", model)["j"].alias("j"))
    shifted = df.select(
        "i",
        nearest_centroid_struct(
            F.array(F.col("Y")[0] + dx, F.col("Y")[1] + dy), shifted_model
        )["j"].alias("j"),
    )
    assert {(r["i"], r["j"]) for r in base.collect()} == {
        (r["i"], r["j"]) for r in shifted.collect()
    }


@given(pts=points, scale=st.sampled_from([0.5, 2.0, 10.0]))
@SETTINGS
def test_assignment_scale_invariant(spark, pts, scale):
    model = [(1, [-10.0, 5.0]), (2, [10.0, -5.0])]
    scaled_model = [(j, [c[0] * scale, c[1] * scale]) for j, c in model]
    df = _df(spark, pts)
    base = df.select("i", nearest_centroid_struct("Y", model)["j"].alias("j"))
    scaled = df.select(
        "i",
        nearest_centroid_struct(
            F.array(F.col("Y")[0] * scale, F.col("Y")[1] * scale), scaled_model
        )["j"].alias("j"),
    )
    assert {(r["i"], r["j"]) for r in base.collect()} == {
        (r["i"], r["j"]) for r in scaled.collect()
    }


@given(pts=points)
@SETTINGS
def test_elbow_monotone_in_nested_models(spark, pts):
    from clickhouse_k_means_spark.plans.optimal_k import elbow

    df = _df(spark, pts)
    model = [(1, list(pts[0]))]
    prev = None
    for extra in range(1, min(4, len(pts))):
        e = elbow(df, model)
        if prev is not None:
            assert e <= prev + 1e-9  # adding a centroid can only shrink Σ min-dist
        prev = e
        model = model + [(extra + 1, list(pts[extra]))]


def test_k_equals_n_distinct_zero_inertia(spark):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.plans.optimal_k import elbow

    pts = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    df = _df(spark, pts)
    res = KMeansEngine(k=3, seed=5).fit(df)
    assert res.converged
    assert elbow(df, res.model) == pytest.approx(0.0)


def test_fit_translation_shifts_centroids(spark):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    pts = [(0.0, 0.0), (1.0, 1.0), (20.0, 20.0), (21.0, 19.0), (-5.0, 7.0), (22.0, 18.0)]
    df = _df(spark, pts)
    shifted = _df(spark, [(x + 100.0, y - 40.0) for x, y in pts])
    a = KMeansEngine(k=2, seed=3).fit(df)
    b = KMeansEngine(k=2, seed=3).fit(shifted)
    for (ja, ca), (jb, cb) in zip(a.model, b.model):
        assert ja == jb
        assert cb[0] - ca[0] == pytest.approx(100.0)
        assert cb[1] - ca[1] == pytest.approx(-40.0)


# ---- bad features raise a named error from prepare's aggregate ----

_BAD_Y = {
    "nan": [float("nan"), 1.0],
    "inf": [float("inf"), 1.0],
    "-inf": [1.0, float("-inf")],
    "null_element": [1.0, None],
    "null_y": None,
}


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("path", ["plusplus", "parallel", "resume_fit", "fit_best"])
@pytest.mark.parametrize("kind", list(_BAD_Y))
def test_bad_features_raise_named_error(spark, tmp_path, kind, path, parts):
    """A NULL ``Y`` or a NULL, NaN or infinite element is counted in the
    working set's one aggregate and raises a ``ValueError`` naming ``Y``
    and the count, before any init or Lloyd step reads the rows."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    rows = [(i, [float(i % 3), float(i // 3)]) for i in range(12)]
    rows += [(12, _BAD_Y[kind]), (13, _BAD_Y[kind])]
    yh = spark.createDataFrame(rows, "i long, Y array<double>").repartition(parts)
    eng = KMeansEngine(k=2, seed=3, init="parallel" if path == "parallel" else "plusplus")
    with pytest.raises(ValueError, match=r"^k-means: 2 of 14 rows of Y are NULL or hold"):
        if path == "resume_fit":
            store = SnapshotStateStore(str(tmp_path / "store"))
            log = [(0, 1, [0.0, 0.0]), (0, 2, [2.0, 3.0])]
            store.append(
                spark.createDataFrame(log, "step bigint, j int, C array<double>"), "wcr"
            )
            eng.resume_fit(yh, store)
        elif path == "fit_best":
            eng.fit_best(yh, n_init=2)
        else:
            eng.fit(yh)


# ---- extended-surface invariants (r5) ----

texts = st.lists(
    st.text(
        alphabet="abcdefghij ",
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


def _docs(spark, ts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts)], "doc_id long, text string"
    )


@given(ts=texts)
@SETTINGS
def test_near_dedup_idempotent(spark, ts):
    """Deduping an already-deduped corpus changes nothing — survivors
    are pairwise below threshold by construction."""
    from clickhouse_k_means_spark.operators.dedup import near_dedup_corpus

    once = near_dedup_corpus(_docs(spark, ts), jaccard_threshold=0.8)
    keys1 = {r["doc_id"] for r in once.collect()}
    twice = near_dedup_corpus(once, jaccard_threshold=0.8)
    assert {r["doc_id"] for r in twice.collect()} == keys1


@given(ts=texts, n=st.integers(min_value=1, max_value=8))
@SETTINGS
def test_weighted_sample_size_and_membership(spark, ts, n):
    """|sample| = min(n, positive-weight rows); sample ⊆ input; and the
    pick is stable across partition layouts."""
    from clickhouse_k_means_spark.functions.text import token_count
    from clickhouse_k_means_spark.operators.sampling import weighted_sample

    df = _docs(spark, ts).select(
        "doc_id", token_count("text").cast("bigint").alias("w")
    )
    n_pos = df.filter("w > 0").count()
    got = {r["doc_id"] for r in weighted_sample(df, n, "w").collect()}
    assert len(got) == min(n, n_pos)
    assert got <= {r["doc_id"] for r in df.collect()}
    got2 = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(5), n, "w").collect()
    }
    assert got2 == got


@given(ts=texts)
@SETTINGS
def test_hash_split_partitions_completely(spark, ts):
    """Every row lands in exactly one split; assignment is a pure
    function of the key (layout-independent)."""
    from clickhouse_k_means_spark.operators.packing import hash_split

    df = _docs(spark, ts)
    out = hash_split(df, key="doc_id")
    assert out.count() == df.count()
    assert out.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in hash_split(df.repartition(7), key="doc_id").collect()
    }
    assert a == b


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_histogram_conserves_rows(spark, vals):
    """sum(cnt) == n_rows for ANY values (clamping loses nothing), and
    two half-batches merge to the same table as one batch."""
    import tempfile

    from clickhouse_k_means_spark.functions.sketches import IncrementalHistogram
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    h1 = IncrementalHistogram(
        SnapshotStateStore(tempfile.mkdtemp()), lo=0.0, width=10.0, n_bins=16
    )
    h1.update(df, "v")
    one = {(r["bin"], r["cnt"]) for r in h1.merged(df.sparkSession).collect()}
    assert sum(c for _, c in one) == len(vals)
    h2 = IncrementalHistogram(
        SnapshotStateStore(tempfile.mkdtemp()), lo=0.0, width=10.0, n_bins=16
    )
    half = len(vals) // 2
    h2.update(spark.createDataFrame([(v,) for v in vals[:half]] or [(None,)], "v double"), "v")
    h2.update(spark.createDataFrame([(v,) for v in vals[half:]] or [(None,)], "v double"), "v")
    two = {(r["bin"], r["cnt"]) for r in h2.merged(df.sparkSession).collect()}
    assert two == one


words = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
    min_size=0,
    max_size=12,
)
docs_strategy = st.lists(words, min_size=1, max_size=6)


@given(docs=docs_strategy)
@SETTINGS
def test_boilerplate_ratio_bounds_and_total(spark, docs):
    """0 <= ratio <= 1, every input doc keeps exactly one row, and
    n_frequent <= n_shingles."""
    from clickhouse_k_means_spark.operators.textstats import boilerplate_ratio

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id bigint, text string",
    )
    rows = boilerplate_ratio(df, n=2, min_doc_freq=2).collect()
    assert len(rows) == len(docs)
    for r in rows:
        assert 0 <= r["n_frequent"] <= r["n_shingles"]
        assert 0.0 <= r["boiler_ratio"] <= 1.0


@given(docs=docs_strategy)
@SETTINGS
def test_domain_kl_nonnegative_and_zero_on_identity(spark, docs):
    """KL(P_domain || P_corpus) >= 0 for every domain; a corpus with a
    single domain has KL exactly 0."""
    from clickhouse_k_means_spark.operators.textstats import domain_divergence

    nonempty = [ws for ws in docs if ws]
    if not nonempty:
        return
    multi = spark.createDataFrame(
        [
            (i, f"s{i % 2}", " ".join(ws))
            for i, ws in enumerate(nonempty)
        ],
        "doc_id bigint, source string, text string",
    )
    for r in domain_divergence(multi, group="source").collect():
        assert r["kl_micro"] >= 0
    single = spark.createDataFrame(
        [(i, "only", " ".join(ws)) for i, ws in enumerate(nonempty)],
        "doc_id bigint, source string, text string",
    )
    rows = domain_divergence(single, group="source").collect()
    assert len(rows) == 1 and rows[0]["kl_micro"] == 0


@given(
    pts=st.lists(
        st.tuples(coords, coords, coords), min_size=5, max_size=12, unique=True
    )
)
@SETTINGS
def test_pca_projection_variance_sums(spark, pts):
    """Full-rank PCA preserves total variance (sum of eigenvalues ==
    trace of covariance) and components stay orthonormal."""
    import numpy as np

    from clickhouse_k_means_spark.operators.pca import fit_pca

    df = spark.createDataFrame(
        [(list(map(float, p)),) for p in pts], "embedding array<double>"
    )
    model = fit_pca(df, n_components=3)
    x = np.array(pts, dtype=float)
    total_var = np.cov(x, rowvar=False, bias=True).trace()
    assert np.allclose(model.explained_variance.sum(), total_var, atol=1e-8)
    assert np.allclose(
        model.components @ model.components.T, np.eye(3), atol=1e-8
    )


# ---- late-r5 operator invariants ----

budgets = st.integers(min_value=2, max_value=12)
ntoks = st.integers(min_value=0, max_value=40)


@given(n=ntoks, budget=budgets, data=st.data())
@SETTINGS
def test_chunking_coverage_formula(spark, n, budget, data):
    """Chunk count matches the closed form; chunk token counts sum to
    n + overlap·(chunks−1); every chunk ≤ budget; only the last may
    fall short of it."""
    from clickhouse_k_means_spark.operators.chunking import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=budget - 1))
    stride = budget - overlap
    text = " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        chunk_documents(df, budget=budget, overlap=overlap).collect(),
        key=lambda r: r.chunk_id,
    )
    if n == 0:
        assert rows == []
        return
    expect_chunks = 1 + max(0, -(-(n - budget) // stride))
    assert len(rows) == expect_chunks
    assert all(r.n_tok <= budget for r in rows)
    assert all(r.n_tok == budget for r in rows[:-1])
    covered = sum(r.n_tok for r in rows) - overlap * (len(rows) - 1)
    # overlapped re-reads subtract out; the final chunk may re-read
    # MORE than `overlap` tokens when it's clamped at the doc's end
    assert covered <= n
    assert rows[-1].chunk_id * stride + rows[-1].n_tok == n  # reaches the end


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=4, max_size=24
    )
)
@SETTINGS
def test_iqr_quartiles_match_numpy_type7(spark, vals):
    import numpy as np

    from clickhouse_k_means_spark.operators.outliers import iqr_outliers

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "event_type string, value double"
    )
    r = iqr_outliers(df).collect()[0]
    q25, q75 = np.percentile([v * 100 for v in vals], [25, 75])
    assert r.q25_4 == round(q25 * 4)
    assert r.q75_4 == round(q75 * 4)
    lo, hi = q25 - 1.5 * (q75 - q25), q75 + 1.5 * (q75 - q25)
    want_out = [v * 100 for v in vals if v * 100 < lo or v * 100 > hi]
    assert r.n_outliers == len(want_out)
    assert r.outlier_sum_c == sum(want_out)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=8,
    ),
    t_ppm=st.sampled_from([500_000, 700_000, 900_000, 1_000_000]),
)
@SETTINGS
def test_ssjoin_matches_brute_force_property(spark, docs, t_ppm):
    from clickhouse_k_means_spark.operators.ssjoin import similarity_self_join

    rows = [(i + 1, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.a, r.b): r.jacc_ppm
        for r in similarity_self_join(df, threshold_ppm=t_ppm).collect()
    }
    sets = {i + 1: set(toks) for i, toks in enumerate(docs)}
    want = {}
    ks = sorted(sets)
    for x in ks:
        for y in ks:
            if x < y and sets[x] and sets[y]:
                i = len(sets[x] & sets[y])
                u = len(sets[x] | sets[y])
                if i * 1_000_000 >= t_ppm * u:
                    want[(x, y)] = (i * 1_000_000) // u
    assert got == want


# ---- r6 operators ----------------------------------------------------


@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, 10_000),       # t
            st.integers(0, 5_000),        # v (cents)
        ),
        min_size=1, max_size=60, unique_by=lambda p: p[0],
    ),
    buckets=st.integers(3, 10),
)
@SETTINGS
def test_lttb_size_and_endpoint_properties(spark, pts, buckets):
    from clickhouse_k_means_spark.operators.timeseries import lttb_downsample

    df = spark.createDataFrame(
        [(1, i, t, v) for i, (t, v) in enumerate(pts)],
        "user_id int, event_id bigint, s bigint, value_c bigint",
    )
    out = lttb_downsample(
        df, "user_id", "s", "value_c", "event_id", buckets
    ).collect()
    n = len(pts)
    if n < buckets:
        assert len(out) == n  # pass-through
    else:
        assert len(out) <= buckets
        ids = {r["event_id"] for r in out}
        by_t = sorted(range(n), key=lambda i: (pts[i][0], i))
        assert by_t[0] in ids and by_t[-1] in ids  # endpoints kept
        # one point per non-empty bucket
        assert len(ids) == len(out)


@given(
    terms=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=10, max_size=300,
    ),
    support=st.integers(2, 12),
)
@SETTINGS
def test_frequent_terms_always_exact(spark, terms, support):
    from clickhouse_k_means_spark.operators.topk import frequent_terms

    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        (r["term"], r["cnt"])
        for r in frequent_terms(df.repartition(5), "term", support).collect()
    }
    counts: dict = {}
    for t in terms:
        counts[t] = counts.get(t, 0) + 1
    want = {(t, c) for t, c in counts.items() if c * support > len(terms)}
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 100), st.integers(1, 9)),
        min_size=1, max_size=80,
    ),
)
@SETTINGS
def test_weighted_quantiles_monotone_in_p(spark, vals):
    from clickhouse_k_means_spark.operators.outliers import weighted_quantiles

    df = spark.createDataFrame(
        [("g", float(v), w) for v, w in vals], "g string, value double, w int"
    )
    ps = [100_000, 400_000, 700_000, 1_000_000]
    got = {
        r["p_ppm"]: r["q_c"]
        for r in weighted_quantiles(df, "value", "w", "g", ps_ppm=ps).collect()
    }
    qs = [got[p] for p in ps]
    assert qs == sorted(qs)  # monotone in p
    # p=1.0 is the max value
    assert qs[-1] == max(v * 100 for v, _ in vals)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.sampled_from("xyz")),
        min_size=1, max_size=100,
    ),
)
@SETTINGS
def test_audience_overlap_diagonal_and_symmetry_bounds(spark, rows):
    from clickhouse_k_means_spark.operators.segments import audience_overlap

    df = spark.createDataFrame(rows, "e int, c string")
    got = {
        (r["cat_a"], r["cat_b"]): r["entities_both"]
        for r in audience_overlap(df, "e", "c").collect()
    }
    members: dict = {}
    for e, c in rows:
        members.setdefault(c, set()).add(e)
    for (a, b), n in got.items():
        assert a <= b
        assert n == len(members[a] & members[b])  # exact intersections
    for c, s in members.items():
        assert got[(c, c)] == len(s)  # diagonal = cardinality


vec4 = st.lists(
    st.integers(min_value=-20, max_value=20).map(lambda v: v / 4.0),
    min_size=4, max_size=4,
)


@given(
    vecs=st.lists(vec4, min_size=3, max_size=10, unique_by=tuple),
    thr=st.sampled_from([0.7, 0.9, 0.99]),
)
@SETTINGS
def test_semdedup_partition_invariants(spark, vecs, thr):
    """semantic_dedup with ANY fixed model partitions the input: every
    row labeled exactly once, exactly one keeper per group, group label
    = min member key, members of a group share a cluster."""
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])]
    out = semantic_dedup(df, centroids=cents, threshold=thr).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(len(vecs)))
    groups: dict = {}
    for r in out:
        groups.setdefault(r["grp"], []).append(r)
    for grp, members in groups.items():
        assert sum(m["keep"] for m in members) == 1
        assert grp == min(m["vec_id"] for m in members)
        assert len({m["j"] for m in members}) == 1


word = st.sampled_from(["alpha", "beta", "gamma", "delta", "rare"])


@given(
    docs=st.lists(
        st.lists(word, min_size=1, max_size=8), min_size=2, max_size=8
    ),
    qterms=st.sets(word, min_size=1, max_size=3),
)
@SETTINGS
def test_bm25_partition_and_ranking_invariants(spark, docs, qterms):
    """bm25_topk is partition-invariant (exact integer scores, so ANY
    layout yields identical rows) and per-query ranks are contiguous
    from 1 and strictly ordered by (score desc, doc_id)."""
    from clickhouse_k_means_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id bigint, text string",
    )
    queries = {1: sorted(qterms)}
    a = sorted(map(tuple, bm25_topk(df, queries, top_n=4).collect()))
    b = sorted(
        map(tuple, bm25_topk(df.repartition(7), queries, top_n=4).collect())
    )
    assert a == b
    ranked = sorted(a, key=lambda r: r[1])  # by rank
    assert [r[1] for r in ranked] == list(range(1, len(ranked) + 1))
    for prev, cur in zip(ranked, ranked[1:]):
        # score strictly descending, ties broken by ascending doc_id
        assert (-prev[3], prev[2]) < (-cur[3], cur[2])
        assert prev[3] > 0 and cur[3] > 0


word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
docs_texts = st.lists(
    st.lists(word, min_size=0, max_size=30).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(texts=docs_texts)
@SETTINGS
def test_cdc_dedup_global_keep_invariants(spark, texts):
    """CDC dedup invariants for ANY corpus: (1) total kept chunks ==
    number of DISTINCT chunk texts (each distinct chunk survives
    exactly once, corpus-wide); (2) per-doc n_kept <= n_chunks; (3)
    per-doc chunk counts match an independent recomputation of the
    chunk table; (4) a doc's dedup_text is a subsequence-join of its
    own chunks."""
    from clickhouse_k_means_spark.operators.dedup import (
        _cdc_chunk_table,
        cdc_dedup,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in cdc_dedup(df, divisor=4).collect()}
    chunks = _cdc_chunk_table(df, "text", "doc_id", 4).collect()
    per_doc: dict[int, list[str]] = {}
    for r in chunks:
        per_doc.setdefault(r["doc_id"], []).append(r["span"])
    distinct_total = len({r["span"] for r in chunks})
    assert sum(r["n_kept"] for r in out.values()) == distinct_total
    for i in range(len(texts)):
        r = out[i]
        mine = per_doc.get(i, [])
        assert r["n_chunks"] == len(mine)
        assert 0 <= r["n_kept"] <= r["n_chunks"]
        # dedup_text = in-order join of a subset of the doc's chunks
        if r["dedup_text"]:
            kept_words = r["dedup_text"].split(" ")
            all_words = [w for c in mine for w in c.split(" ")]
            # kept words are a subsequence of the doc's own words
            it = iter(all_words)
            assert all(w in it for w in kept_words), (kept_words, all_words)


@given(
    st.integers(2, 12),          # nlist
    st.integers(1, 6),           # n queries
    st.integers(1, 8),           # nprobe
    st.integers(1, 200),         # need
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_adaptive_probes_invariants(nlist, nq, nprobe, need, data):
    """_adaptive_probes (r13 filtered-ANN widening), driver-side pure
    function — invariants for ANY survivor distribution:
    1. only cells with predicate-surviving rows are probed;
    2. every query's probe list follows its OWN cell-distance order
       (the nearest_cells_batch arithmetic, stable ties);
    3. coverage: each query covers >= min(need, total_survivors)
       surviving rows AND probes >= min(nprobe, n_nonempty) cells —
       so top-k survives the filter whenever k survivors exist;
    4. minimality: dropping the last probed cell would violate the
       nprobe floor or the need target (no gratuitous scan width);
    5. the returned union is exactly the sorted set of probed cells.
    """
    import numpy as np

    from clickhouse_k_means_spark.operators.ann_index import (
        _adaptive_probes,
    )

    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    dim = 4
    centroids = rng.randn(nlist, dim)
    q_mat = rng.randn(nq, dim)
    counts = {
        c: int(v)
        for c, v in enumerate(
            data.draw(
                st.lists(
                    st.integers(0, 50), min_size=nlist, max_size=nlist
                )
            )
        )
        if v > 0
    }
    total = sum(counts.values())
    probes, probed = _adaptive_probes(
        q_mat, centroids, counts, nprobe=nprobe, need=need
    )
    assert len(probes) == nq
    # the exact scoring arithmetic the implementation promises
    scores = -2.0 * (q_mat @ np.ascontiguousarray(centroids.T)) + (
        centroids * centroids
    ).sum(axis=1)
    order = np.argsort(scores, axis=1, kind="stable")
    n_nonempty = len(counts)
    for qi, cells in enumerate(probes):
        # (1) survivors only, no duplicates
        assert all(counts.get(c, 0) > 0 for c in cells)
        assert len(set(cells)) == len(cells)
        # (2) the query's own distance order, restricted to non-empty
        expect = [int(c) for c in order[qi] if counts.get(int(c), 0) > 0]
        assert cells == expect[: len(cells)]
        covered = sum(counts[c] for c in cells)
        # (3) coverage floors
        assert covered >= min(need, total)
        assert len(cells) >= min(nprobe, n_nonempty)
        # (4) minimality: the prefix without the last cell must fail
        # a floor (unless the list is exhausted at the floors already)
        if cells and len(cells) > min(nprobe, n_nonempty):
            prev_cov = covered - counts[cells[-1]]
            assert prev_cov < need
    # (5) union contract
    assert probed == sorted({c for cs in probes for c in cs})


@given(
    st.integers(1, 100),                    # versions
    st.integers(0, 10**10),                 # live_bytes
    st.integers(0, 10**10),                 # dead_bytes
    st.integers(1, 64),                     # max_versions
    st.floats(0.1, 8.0),                    # dead_ratio
    st.integers(0, 10**9),                  # min_dead_bytes
)
@settings(max_examples=80, deadline=None)
def test_ann_compact_due_threshold_algebra(
    versions, live, dead, max_versions, dead_ratio, min_dead
):
    """ann_compact_due's decision is a pure function of
    storage_stats: fires iff version sprawl OR (dead past the floor
    AND past dead_ratio x live); never fires on a dead-byte-free
    table below the version cap; monotone in dead bytes."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_compact_due,
    )

    class _Stub:
        def __init__(self, s):
            self._s = s

        def storage_stats(self, table):
            return dict(self._s)

    s = {
        "versions": versions, "live_files": 1, "live_bytes": live,
        "dead_files": 1 if dead else 0, "dead_bytes": dead,
    }
    got = ann_compact_due(
        _Stub(s), "t", max_versions=max_versions,
        dead_ratio=dead_ratio, min_dead_bytes=min_dead,
    )
    expect = versions > max_versions or (
        dead >= max(min_dead, 1) and dead > dead_ratio * live
    )
    assert got == expect
    # monotone: MORE dead bytes never un-fires the advisor
    if got:
        s2 = dict(s, dead_bytes=dead * 2 + 1)
        assert ann_compact_due(
            _Stub(s2), "t", max_versions=max_versions,
            dead_ratio=dead_ratio, min_dead_bytes=min_dead,
        )
