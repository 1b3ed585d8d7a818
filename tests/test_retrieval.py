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
