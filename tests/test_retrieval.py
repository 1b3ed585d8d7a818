"""BM25 retrieval (operators/retrieval.py): hand-computed scores on a
tiny corpus, the exactness/validation contract, and the plan shape
(broadcast idf/query joins, vocabulary filter before the tf shuffle).
"""

from __future__ import annotations

import math

import pytest

from clickhouse_k_means_spark.operators.retrieval import (
    bm25_idf_reference,
    bm25_topk,
)


def _corpus(spark):
    # dl: d1=4, d2=2, d3=6  -> N=3, total=12, avgdl_milli=4000
    return spark.createDataFrame(
        [
            (1, "spark window spark agg"),
            (2, "merge window"),
            (3, "dup dup merge scan scan scan"),
        ],
        "doc_id bigint, text string",
    )


def _score(n_docs, df, tf, dl, avgdl_milli, k1=1200, b=750):
    idf = bm25_idf_reference(n_docs, df)
    norm = 1000 - b + (b * dl * 1000) // avgdl_milli
    denom = tf * 1000 + (k1 * norm) // 1000
    return (idf * tf * (k1 + 1000)) // denom


def test_bm25_hand_computed(spark):
    out = bm25_topk(
        _corpus(spark), {1: ["spark", "window"], 2: ["dup"]}, top_n=3
    )
    rows = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score_micro"])
        for r in out.collect()
    }
    # q1: d1 has spark tf=2 (df=1) + window tf=1 (df=2); d2 window tf=1
    d1 = _score(3, 1, 2, 4, 4000) + _score(3, 2, 1, 4, 4000)
    d2 = _score(3, 2, 1, 2, 4000)
    assert rows[(1, 1)] == (1, d1)
    assert rows[(1, 2)] == (2, d2)
    assert d1 > d2
    # q2: only d3 contains dup (tf=2, df=1, dl=6)
    assert rows[(2, 3)] == (1, _score(3, 1, 2, 6, 4000))
    assert (2, 1) not in rows and (2, 2) not in rows


def test_bm25_rank_ties_break_by_doc_id(spark):
    # identical docs -> identical scores; rank must follow doc_id
    df = spark.createDataFrame(
        [(10, "scan merge"), (7, "scan merge"), (20, "other words")],
        "doc_id bigint, text string",
    )
    out = bm25_topk(df, {1: ["scan"]}, top_n=2).collect()
    ranked = sorted((r["rank"], r["doc_id"]) for r in out)
    assert ranked == [(1, 7), (2, 10)]


def test_bm25_validation(spark):
    df = _corpus(spark)
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, {})
    with pytest.raises(ValueError, match="no terms"):
        bm25_topk(df, {1: []})
    with pytest.raises(ValueError, match="repeats a term"):
        bm25_topk(df, {1: ["spark", "spark"]})
    with pytest.raises(ValueError, match="top_n"):
        bm25_topk(df, {1: ["spark"]}, top_n=0)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="corpus is empty"):
        bm25_topk(empty, {1: ["spark"]})


def test_bm25_idf_reference_is_positive_and_half_up():
    # Lucene +1 variant: positive even when df == N
    assert bm25_idf_reference(100, 100) > 0
    # half-up pinning: ln(...)*1e6 landing exactly on .5 rounds up
    x = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0) * 1_000_000
    assert bm25_idf_reference(3, 1) == math.floor(x + 0.5)


def test_bm25_tf_filter_sits_under_the_shuffle(spark, sf_dir):
    """Scale contract half 1: in the tf fragment, the vocabulary
    ``isin`` filter is UNDER the exchange (printed deeper than it), so
    postings for non-query terms never shuffle."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.functions.text import token_count, tokens
    from clickhouse_k_means_spark.operators.retrieval import _tf_relation
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        tokens("text").alias("tk"),
        token_count("text").cast("bigint").alias("dl"),
    )
    plan = _tf_relation(base, ["spark", "dup"])._jdf.queryExecution(
    ).executedPlan().toString()
    exch = plan.index("Exchange hashpartitioning")
    filt = plan.index(" IN (")
    gen = plan.index("Generate explode")
    # parent prints above child: Exchange, then the filter, then the
    # explode it guards
    assert exch < filt < gen, plan[:3000]


def test_bm25_plan_broadcasts_and_group_limits(spark, sf_dir):
    """Scale contract half 2: idf and query-terms joins are broadcasts
    (never SortMergeJoin), top-k per query is a WindowGroupLimit (no
    global sort), and tf is materialized once — the full-operator plan
    contains NO corpus FileScan (both consumers read the checkpointed
    tf), so the double-scan shape this test was written against cannot
    come back."""
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, {1: ["spark", "dup"]}, top_n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "FileScan parquet" not in plan, plan[:2000]


def test_bm25_rejects_non_normalized_terms(spark):
    df = _corpus(spark)
    for bad in ["Spark", "gpt-4", "a b", ""]:
        with pytest.raises(ValueError, match="normal form|no terms"):
            bm25_topk(df, {1: [bad] if bad else []})


def test_bm25_string_keys_and_null_text(spark):
    """Non-numeric keys must survive untouched (not NULL out through a
    silent bigint cast), and NULL texts count toward n_docs with zero
    tokens instead of corrupting avgdl."""
    df = spark.createDataFrame(
        [("u1", "spark spark"), ("u2", "spark"), ("u3", None)],
        "doc_id string, text string",
    )
    rows = bm25_topk(df, {1: ["spark"]}, top_n=3).collect()
    got = {(r["query_id"], r["doc_id"]): r["rank"] for r in rows}
    assert got == {(1, "u1"): 1, (1, "u2"): 2}
    # avgdl from 3 docs / 3 tokens (the NULL doc contributes 0)
    d1 = _score(3, 2, 2, 2, 1000)
    assert {r["doc_id"]: r["score_micro"] for r in rows}["u1"] == d1


def test_coverage_topk_hand_computed(spark):
    """Coverage ranking: distinct query terms present, ties by shorter
    doc then key; vocabulary filter + validation mirror bm25_topk."""
    from clickhouse_k_means_spark.operators.retrieval import coverage_topk

    docs = spark.createDataFrame(
        [
            (1, "spark window agg extra words here"),   # 3 matched, dl 6
            (2, "spark window"),                        # 2 matched, dl 2
            (3, "spark agg window"),                    # 3 matched, dl 3
            (4, "nothing relevant"),                    # 0 matched
            (5, None),                                  # null text
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["n_matched"])
        for r in coverage_topk(
            docs, {7: ["spark", "window", "agg"]}, top_n=3
        ).collect()
    }
    # doc 3 beats doc 1 on length at equal coverage; doc 4/5 never rank
    assert got == {(7, 1): (3, 3), (7, 2): (1, 3), (7, 3): (2, 2)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="normal form"):
        coverage_topk(docs, {1: ["Upper"]})
    with _pytest.raises(ValueError, match="repeats|empty"):
        coverage_topk(docs, {1: ["a", "a"]})


def test_rrf_fuse_hand_computed(spark):
    """RRF arithmetic pinned: contrib = 1e9 // (k + rank), summed as
    exact BIGINT; n_lists counts the rankings holding the pair; ties
    break by key."""
    from clickhouse_k_means_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20), (1, 3, 30)],
        "query_id bigint, rank bigint, doc_id bigint",
    )
    b = spark.createDataFrame(
        [(1, 1, 20), (1, 2, 40)],
        "query_id bigint, rank bigint, doc_id bigint",
    )
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse([a, b], k_const=60, top_n=10).collect()
    }
    c = lambda r: 1_000_000_000 // (60 + r)
    assert rows[20]["rrf_ppb"] == c(2) + c(1) and rows[20]["n_lists"] == 2
    assert rows[10]["rrf_ppb"] == c(1) and rows[10]["n_lists"] == 1
    assert rows[40]["rrf_ppb"] == c(2)
    assert rows[30]["rrf_ppb"] == c(3)
    # doc 20 appears in both lists -> fused first
    assert rows[20]["rank"] == 1
    # total order by rrf desc then doc_id: c(1)=16393442 > c(2)=
    # 16129032 > c(3)=15873015, so doc 40 (rank 2 in list b) outranks
    # doc 30 (rank 3 in list a)
    order = sorted(rows.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in order] == [20, 10, 40, 30]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with _pytest.raises(ValueError, match="k_const"):
        rrf_fuse([a], k_const=0)

def test_rrf_fuse_rejects_bad_ranks_and_duplicate_pairs(spark):
    """ADVICE r10: a NULL or <1 rank used to yield a NULL contribution
    silently dropped from the sum (rank == -k_const even divided by
    zero under non-ANSI confs), and a within-list duplicate
    (query, doc) pair double-counted and inflated n_lists. Both now
    raise at execution. Also: an awkward rank column name (needs
    backticks) must work — the contribution is built from Column
    expressions, never interpolated into SQL text."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    from clickhouse_k_means_spark.operators.retrieval import rrf_fuse

    good = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20)],
        "query_id bigint, rank bigint, doc_id bigint",
    )
    null_rank = spark.createDataFrame(
        [(1, None, 10)], "query_id bigint, rank bigint, doc_id bigint"
    )
    with _pytest.raises(Exception, match="non-null and >= 1"):
        rrf_fuse([good, null_rank]).collect()
    neg_rank = spark.createDataFrame(
        [(1, -60, 10)], "query_id bigint, rank bigint, doc_id bigint"
    )
    with _pytest.raises(Exception, match="non-null and >= 1"):
        rrf_fuse([neg_rank]).collect()
    dup_pair = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 10)],
        "query_id bigint, rank bigint, doc_id bigint",
    )
    with _pytest.raises(Exception, match="more than once"):
        rrf_fuse([dup_pair]).collect()
    # the same pair across DIFFERENT lists stays legal (that's fusion)
    rows = {
        r["doc_id"]: r for r in rrf_fuse([good, good], top_n=5).collect()
    }
    assert rows[10]["n_lists"] == 2
    # awkward column name: spaces force backticks in raw SQL
    awkward = spark.createDataFrame(
        [(1, 1, 10)], "query_id bigint, `the rank` bigint, doc_id bigint"
    )
    out = rrf_fuse([awkward], rank="the rank").collect()
    assert out[0]["rrf_ppb"] == 1_000_000_000 // 61


def test_ivf_refit_inherits_committed_nlist(spark, tmp_path):
    """ADVICE r10 (medium): the advertised maintenance loop
    ``if ivf_refit_due(...): ivf_refit(...)`` must not silently
    resize — default nlist=None inherits the committed quantizer's
    cell count."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.operators.ann_index import (
        _geometry,
        ivf_index,
        ivf_refit,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "state"))
    vecs = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 8).cast("double"),
            (F.col("id") % 5).cast("double"),
        ).alias("embedding"),
    )
    ivf_index(vecs, store, nlist=6, seed=7)
    assert len(_geometry(spark, store, "ivf_index").centroids) == 6
    ivf_refit(spark, store)  # no nlist: must inherit 6, not default 16
    assert len(_geometry(spark, store, "ivf_index").centroids) == 6
    ivf_refit(spark, store, nlist=3)  # explicit resize still works
    assert len(_geometry(spark, store, "ivf_index").centroids) == 3


# ---- ANN geometry memo and vector checks ------------------------------


def _ann_vectors(spark, ids, phase=0.0, dim=8):
    return spark.createDataFrame(
        [(i, [math.cos(i * 0.37 + d + phase) for d in range(dim)]) for i in ids],
        "vec_id bigint, embedding array<double>",
    )


def _ann_rows(df):
    return sorted(tuple(r) for r in df.collect())


_STALE_CASES = [
    "refit_pinned", "rollback", "truncate_rebuild", "optimize_vacuum",
    "second_store", "two_tables", "wrong_family",
]


@pytest.mark.parametrize("case", _STALE_CASES)
def test_ann_memo_never_serves_stale_geometry(spark, tmp_path, case):
    """The geometry memo is keyed on (resolved root, table, base file
    list): after each change below, a verb's rows with the memo warm
    equal the same call's rows after the memo is cleared, and a wrapper
    of another family still raises its named error."""
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    vecs = _ann_vectors(spark, range(120))
    queries = _ann_vectors(spark, [3, 50, 99], phase=0.2).withColumnRenamed(
        "vec_id", "q"
    )

    def query(s=store, table="ivf_index", **kw):
        return _ann_rows(A.ivf_query(queries, s, table, k=4, nprobe=2, **kw))

    v1 = A.ivf_index(vecs, store, nlist=4, seed=1)
    if case in ("refit_pinned", "rollback"):
        before = query()
    if case == "refit_pinned":
        A.ivf_refit(spark, store, nlist=3, seed=2)
        query()

        def call():
            return query(version=v1), query()
    elif case == "rollback":
        A.ivf_refit(spark, store, nlist=3, seed=2)
        query()
        store.rollback("ivf_index", v1)

        def call():
            return query()
    elif case == "truncate_rebuild":
        store.truncate("ivf_index")
        A.ivf_index(_ann_vectors(spark, range(80), phase=1.0), store,
                    nlist=3, seed=5)

        def call():
            return query()
    elif case == "optimize_vacuum":
        A.ann_upsert(_ann_vectors(spark, [3, 7], phase=0.5), store, "ivf_index")
        A.ann_delete(spark, [50], store, "ivf_index")
        query()
        store.optimize(spark, "ivf_index")
        store.vacuum("ivf_index")

        def call():
            return query()
    elif case == "second_store":
        (tmp_path / "x").mkdir()
        other = SnapshotStateStore(str(tmp_path / "x" / ".." / "s"))
        A.ivf_refit(spark, other, nlist=3, seed=2)

        def call():
            return query(), query(other)
    elif case == "two_tables":
        A.ivf_index(_ann_vectors(spark, range(90), phase=2.0), store, "b",
                    nlist=3, seed=9)

        def call():
            return query(), query(table="b")
    else:
        A.pq_index(vecs, store, "p", m_sub=2, n_codes=4, seed=1)
        A.pq_query(queries, store, "p", k=4).collect()

        def call():
            with pytest.raises(
                ValueError, match="holds a pq index, not a ivf index"
            ):
                query(table="p")
            return query()
    warm = call()
    A._MEMO.clear()
    assert call() == warm
    if case == "refit_pinned":
        assert warm[0] == before
    if case == "rollback":
        assert warm == before


def test_ann_memo_arrays_are_read_only(spark, tmp_path):
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    A.ivfpq_index(_ann_vectors(spark, range(64)), store, nlist=2, m_sub=2,
                  n_codes=4, seed=3)
    for cold in (False, True):
        if cold:
            A._MEMO.clear()
        g = A._geometry(spark, store, "ivfpq_index")
        for a in [g.centroids, *g.books]:
            with pytest.raises(ValueError, match="read-only"):
                a[0, 0] = 1.0


def test_ann_memo_is_bounded_and_consistent_under_threads():
    """Threads that put and get memo entries concurrently never read
    another key's value, and the memo never exceeds its bound."""
    import sys
    import threading

    import numpy as np

    from clickhouse_k_means_spark.operators import ann_index as A

    errors: list[str] = []

    def worker(w: int) -> None:
        for i in range(300):
            key = ("/stress", f"t{w}", (str(i),))
            A._memo_put(key, np.full((1, 2), float(w * 1000 + i)), None)
            got = A._memo_get(key)
            if got is not None and got[0][0, 0] != w * 1000 + i:
                errors.append(f"{key} read {got[0][0, 0]}")
            if len(A._MEMO) > A._MEMO_SIZE:
                errors.append(f"{len(A._MEMO)} entries")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
        A._MEMO.clear()
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]


def test_ann_build_puts_geometry_in_base_under_pending_layer(spark, tmp_path):
    """A build on a geometry-less table with a pending delta layer (a
    truncate, then a delete-only CDC batch) commits its geometry to
    the base: no layer survives the build, and a cold memo reads the
    geometry back from the base files."""
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    vecs = _ann_vectors(spark, range(100))
    A.ivfpq_index(vecs, store, nlist=4, m_sub=2, n_codes=4, seed=1)
    store.truncate("ivfpq_index")
    A.ann_cdc_apply(
        spark.createDataFrame(
            [(5, None, "d")], "vec_id bigint, embedding array<double>, op string"
        ),
        store, "ivfpq_index",
    )
    assert store.delta_layers("ivfpq_index") == 1
    A.ivfpq_index(vecs, store, nlist=4, m_sub=2, n_codes=4, seed=2)
    assert store.delta_layers("ivfpq_index") == 0
    queries = _ann_vectors(spark, [3, 60], phase=0.1)
    warm = _ann_rows(A.ivfpq_query(queries, store, k=3, query_key="vec_id"))
    A._MEMO.clear()
    _, base = store.read_base(spark, "ivfpq_index")
    assert base.filter("n IS NULL").count() == 4 + 2 * 4
    assert _ann_rows(A.ivfpq_query(queries, store, k=3, query_key="vec_id")) == warm
    assert len(warm) == 6


@pytest.fixture(scope="module")
def ann_indexes(spark, tmp_path_factory):
    """One small index per family; vector 0 is the zero vector."""
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path_factory.mktemp("ann_checks")))
    vecs = _ann_vectors(spark, range(1, 120)).unionByName(
        spark.createDataFrame([(0, [0.0] * 8)], "vec_id bigint, embedding array<double>")
    )
    A.ivf_index(vecs, store, nlist=4, seed=1)
    A.pq_index(vecs, store, m_sub=2, n_codes=4, seed=1)
    A.ivfpq_index(vecs, store, nlist=4, m_sub=2, n_codes=4, seed=1)
    return store


def _one_vector(spark, key, v, col="vec_id"):
    return spark.createDataFrame([(key, v)], f"{col} bigint, embedding array<double>")


_BAD_VECTORS = {
    "nan": ([0.5] * 7 + [float("nan")], "non-finite"),
    "inf": ([float("-inf")] + [0.5] * 7, "non-finite"),
    "short": ([0.5] * 5, "has 5 elements, not the index dimension 8"),
    "zero": ([0.0] * 8, "zero norm"),
}


@pytest.mark.parametrize("family", ["ivf", "pq", "ivfpq"])
@pytest.mark.parametrize("bad", list(_BAD_VECTORS))
def test_ann_query_rejects_bad_vector(spark, ann_indexes, family, bad):
    from clickhouse_k_means_spark.operators import ann_index as A

    vec, reason = _BAD_VECTORS[bad]
    with pytest.raises(ValueError, match=f"{family}_query: query 7 vector .*{reason}"):
        getattr(A, f"{family}_query")(_one_vector(spark, 7, vec, "q"), ann_indexes)


@pytest.mark.parametrize("family", ["ivf", "pq", "ivfpq"])
@pytest.mark.parametrize("bad", ["nan", "inf", "short"])
def test_ann_append_rejects_bad_vector(spark, ann_indexes, family, bad):
    from clickhouse_k_means_spark.operators import ann_index as A

    vec, reason = _BAD_VECTORS[bad]
    table = f"{family}_index"
    before = ann_indexes.latest_version(table)
    with pytest.raises(Exception, match=f"{family}_append: key 500 vector .*{reason}"):
        getattr(A, f"{family}_append")(_one_vector(spark, 500, vec), ann_indexes)
    with pytest.raises(Exception, match=f"ann_upsert: key 5 vector .*{reason}"):
        A.ann_upsert(_one_vector(spark, 5, vec), ann_indexes, table)
    assert ann_indexes.latest_version(table) == before


def test_ann_index_rejects_bad_vector(spark, tmp_path):
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    vecs = _ann_vectors(spark, range(40)).unionByName(
        _one_vector(spark, 40, [1.0] * 7 + [float("nan")])
    )
    with pytest.raises(ValueError, match="ivf_index: key 40 vector .*non-finite"):
        A.ivf_index(vecs, store, nlist=2)
    assert not store.exists("ivf_index")


@pytest.mark.parametrize("family", ["ivf", "pq", "ivfpq"])
def test_ann_query_skips_stored_zero_vector(spark, ann_indexes, family):
    """A stored zero vector has no direction: a query whose rerank
    reaches it (every cell probed, every row shortlisted) ranks the
    other rows instead of dividing by its zero norm."""
    from clickhouse_k_means_spark.operators import ann_index as A

    kw = {"ivf": {"nprobe": 4}, "pq": {"rerank": 500},
          "ivfpq": {"nprobe": 4, "rerank": 500}}[family]
    q = _ann_vectors(spark, [3], phase=0.1).withColumnRenamed("vec_id", "q")
    rows = getattr(A, f"{family}_query")(q, ann_indexes, k=200, **kw).collect()
    assert len(rows) == 119 and 0 not in {r["n"] for r in rows}
