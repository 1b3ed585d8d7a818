"""Unit tests for the extended (LLM-pipeline) operator surface:
dedup, similarity search, multimodal plumbing, streaming."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


# ---- dedup ----


def test_exact_dedup_keeps_first(spark):
    from clickhouse_k_means_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in exact_dedup(df).collect()}
    assert rows[1]["keep"] == 1 and rows[2]["keep"] == 0 and rows[3]["keep"] == 1
    assert rows[1]["text_hash"] == rows[2]["text_hash"] != rows[3]["text_hash"]


def test_minhash_identical_docs_collide_in_lsh(spark):
    from clickhouse_k_means_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, n_hashes=8)
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_candidate_pairs_leaves_no_cached_rdds(spark):
    """The band table cache must be released before the operator
    returns (VERDICT r1 item 8); only the checkpointed pair set may
    remain registered."""
    from clickhouse_k_means_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i} with shared words") for i in range(20)],
        "doc_id long, text string",
    )
    def _persistent_ids():
        return {
            int(x)
            for x in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = _persistent_ids()
    pairs = lsh_candidate_pairs(minhash_signatures(df, n_hashes=8))
    pairs.count()
    after = _persistent_ids()
    # at most the eager checkpoint of the result survives — never the
    # banded cache (which would add a second persistent entry per call)
    assert len(after - before) <= 1


def test_lsh_candidate_pairs_validates_band_split(spark):
    from clickhouse_k_means_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sigs = minhash_signatures(df, n_hashes=8)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(sigs, n_hashes=8, n_bands=3)  # 8 % 3 != 0
    with pytest.raises(ValueError):
        lsh_candidate_pairs(sigs, n_hashes=8, n_bands=16)  # empty bands


def test_golden_points_partition_independent(spark):
    """Same seed → same data regardless of partition layout (the F.rand
    trap — ADVICE r1). The jitter primitive must map key → value
    identically whatever the physical distribution of the rows, and two
    generator runs must agree row-for-row."""
    from clickhouse_k_means_spark.sources.generator import (
        _seeded_uniform_int,
        golden_points,
    )

    wide = spark.range(200).select(
        "id", _seeded_uniform_int(9, F.col("id"), 3000).alias("u")
    )
    narrow = (
        spark.range(200)
        .repartition(3)  # different layout BEFORE the draw
        .select("id", _seeded_uniform_int(9, F.col("id"), 3000).alias("u"))
    )
    assert {(r["id"], r["u"]) for r in wide.collect()} == {
        (r["id"], r["u"]) for r in narrow.collect()
    }
    a = golden_points(spark, n_clusters=3, points_per_cluster=40, seed=9)
    b = golden_points(spark, n_clusters=3, points_per_cluster=40, seed=9)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_simhash_table_matches_expression_form(spark):
    from clickhouse_k_means_spark.functions.hashing import simhash_doc
    from clickhouse_k_means_spark.functions.text import tokens
    from clickhouse_k_means_spark.operators.dedup import simhash_table

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"), (3, "")],
        "doc_id long, text string",
    )
    via_table = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    via_expr = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", simhash_doc(tokens("text")).alias("sh")).collect()
    }
    assert via_table == via_expr
    assert via_table[3] == 0  # empty doc → simhash 0


def test_jaccard_pairs_exact_value(spark):
    from clickhouse_k_means_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    got = jaccard_pairs(df, pairs, shingle_n=3).collect()[0]
    # shingles(1) = {a b c, b c d}; shingles(2) = {a b c, b c e}
    # intersection 1, union 3
    assert got["jaccard"] == pytest.approx(1 / 3)


# ---- similarity ----


def test_brute_force_topk_exact_order(spark):
    from clickhouse_k_means_spark.operators.similarity import brute_force_topk

    q = spark.createDataFrame([(0, [1.0, 0.0])], "q long, embedding array<double>")
    c = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "n long, embedding array<double>",
    )
    rows = brute_force_topk(q, c, k=3).orderBy("rank").collect()
    assert [r["n"] for r in rows] == [1, 2, 3]
    assert rows[0]["score"] == pytest.approx(1.0)


def test_srp_bucketed_topk_finds_exact_duplicate(spark):
    from clickhouse_k_means_spark.operators.similarity import srp_bucketed_topk

    vec = [0.5, -0.25, 0.125, 1.0]
    q = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    rows = [(i, [x + i * 0.01 for x in vec]) for i in range(1, 50)]
    c = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = srp_bucketed_topk(
        q, c, k=5, n_bits=4, seed=7, query_key="vec_id", corpus_key="vec_id"
    ).collect()
    # near-identical vectors share the SRP bucket → rank 1 is the +0.01 copy
    assert got and got[0]["n"] == 1


def test_embed_neardup_bucketed_recall_and_precision(spark):
    """Planted near-duplicate pairs (cosine ~0.97+) must be recovered
    by the SRP-bucketed near-dup operator with recall >= 0.9, and every
    reported pair must be exact-verified (precision 1.0 vs the
    brute-force truth)."""
    import random as _random

    from clickhouse_k_means_spark.operators.similarity import (
        embed_neardup_bucketed,
    )

    rng = _random.Random(123)
    dim = 32
    rows = []
    planted = set()
    for i in range(60):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
        # every third vector gets a tiny-perturbation twin
        if i % 3 == 0:
            twin_id = 1000 + i
            rows.append((twin_id, [x + rng.gauss(0.0, 0.05) for x in v]))
            planted.add((i, twin_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["a"], r["b"])
        for r in embed_neardup_bucketed(
            df, threshold=0.9, n_bits=8, n_tables=8, seed=42
        ).collect()
    }
    # brute-force truth at the same threshold
    from clickhouse_k_means_spark.functions.distance import cosine_fixed

    a = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    truth = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine_fixed("ea", "eb", dim), 4).alias("sim"))
        .filter(F.col("sim") >= 0.9)
        .collect()
    }
    assert got <= truth  # exact verify → no false positives
    assert planted <= truth  # sanity: the planted twins ARE near-dups
    assert len(got & truth) / len(truth) >= 0.9  # recall


def test_range_join_equals_inequality_join(spark):
    from clickhouse_k_means_spark.operators.rangejoin import point_in_interval_join

    pts = spark.createDataFrame(
        [(1, 100, "p1"), (1, 3650, "p2"), (1, 7300, "p3"), (2, 100, "p4")],
        "k long, t long, name string",
    )
    ivs = spark.createDataFrame(
        [(1, 0, 3600, "i1"), (1, 3600, 7200, "i2"), (2, 200, 300, "i3")],
        "k long, s long, e long, iv string",
    )
    got = {
        (r["name"], r["iv"])
        for r in point_in_interval_join(
            pts, ivs, key="k", point_ts="t", start="s", end="e", bucket_width=1000
        ).collect()
    }
    want = {
        (p["name"], i["iv"])
        for p in pts.collect()
        for i in ivs.collect()
        if p["k"] == i["k"] and i["s"] <= p["t"] <= i["e"]
    }
    assert got == want and ("p1", "i1") in got and ("p3", "i3") not in got


def test_salted_join_equals_plain_join(spark, sf_dir):
    from clickhouse_k_means_spark.operators.skew import salted_join
    from clickhouse_k_means_spark.sources.dataset import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = sorted(
        (r["o_orderkey"], r["c_mktsegment"])
        for r in orders.join(cust, "o_custkey").collect()
    )
    salted = sorted(
        (r["o_orderkey"], r["c_mktsegment"])
        for r in salted_join(orders, cust, "o_custkey", n_salts=4).collect()
    )
    assert salted == plain
    # left join keeps unmatched fact rows exactly once
    some = orders.limit(50)
    left = salted_join(some, cust.filter("o_custkey < 5"), "o_custkey", how="left")
    assert left.count() == 50


def test_optimal_k_scan_reports_metrics(spark):
    from clickhouse_k_means_spark.plans.optimal_k import optimal_k_scan
    from clickhouse_k_means_spark.sources.dataset import from_table
    from clickhouse_k_means_spark.sources.generator import golden_points

    g = golden_points(
        spark, anchors=[(0.0, 0.0), (80.0, 0.0), (0.0, 90.0)], points_per_cluster=60,
        seed=11,
    )
    yh = from_table(g, "i", ["x", "y"])
    rows = optimal_k_scan(yh, ks=[2, 3, 4], seed=11, silhouette_rows=150)
    assert [r["k"] for r in rows] == [2, 3, 4]
    assert all(set(r) >= {"k", "elbow", "ai", "bi", "si"} for r in rows)
    # elbow non-increasing in k on separable data
    assert rows[0]["elbow"] >= rows[1]["elbow"] >= rows[2]["elbow"] * 0.9


def test_asof_join_backward_and_forward(spark):
    from clickhouse_k_means_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 15, 150), (2, 99, 990)], "k long, t long, v long"
    )
    back = {
        r["tag"]: r["v"]
        for r in as_of_join(
            left, right, key="k", left_ts="t", right_ts="t", right_vals=["v"]
        ).collect()
    }
    # t=10 matches v@10 (inclusive), t=20 matches v@15, t=5 no match,
    # k=2 t=10 is before its only right row
    assert back == {"a": 100, "b": 150, "c": None, "d": None}
    fwd = {
        r["tag"]: r["v"]
        for r in as_of_join(
            left, right, key="k", left_ts="t", right_ts="t",
            right_vals=["v"], direction="forward",
        ).collect()
    }
    assert fwd == {"a": 100, "b": None, "c": 100, "d": 990}


def test_asof_join_rejects_colliding_columns(spark):
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.asof import as_of_join

    df = spark.createDataFrame([(1, 1, 1)], "k long, t long, v long")
    with _pytest.raises(ValueError):
        as_of_join(df, df, key="k", left_ts="t", right_ts="t", right_vals=["v"])


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from clickhouse_k_means_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from clickhouse_k_means_spark.sources.dataset import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, k=5, query_key="vec_id", corpus_key="vec_id")
    approx = ivf_topk(
        q, c, k=5, nlist=4, nprobe=2, query_key="vec_id", corpus_key="vec_id"
    )
    e = {(r["q"], r["n"]) for r in exact.collect()}
    a = {(r["q"], r["n"]) for r in approx.collect()}
    # labeled 4-cluster fixture with nlist=4, nprobe=2 → recall is high
    assert len(a & e) / len(e) >= 0.6


def test_streaming_kmeans_updates_model(spark, sf_dir):
    import tempfile

    from clickhouse_k_means_spark.streaming.kmeans_stream import StreamingKMeans
    from clickhouse_k_means_spark.streaming.windows import stream_events

    init = [(1, [5.0]), (2, [15.0])]
    skm = StreamingKMeans(init, decay=0.9)
    stream = stream_events(spark, sf_dir).select(
        F.array(F.col("value").cast("double")).alias("Y")
    )
    with tempfile.TemporaryDirectory() as ckpt:
        query = skm.attach(stream, checkpoint=ckpt)
        query.awaitTermination()
        query.stop()
    assert skm.n_batches >= 1
    assert sum(skm.counts.values()) > 0
    assert skm.model != init  # centroids moved toward the data
    # update math sanity: decay=1 on a single batch = plain means
    skm2 = StreamingKMeans([(1, [0.0])], decay=1.0)
    batch = spark.createDataFrame([([2.0],), ([4.0],)], "Y array<double>")
    skm2.update(batch)
    assert skm2.model[0][1][0] == 3.0 and skm2.counts[1] == 2.0


# ---- multimodal ----


def test_multimodal_schema_and_determinism(spark):
    from clickhouse_k_means_spark.operators.multimodal import (
        extract_features,
        synth_multimodal,
    )

    df = synth_multimodal(spark, n=30, payload_bytes=64)
    assert df.schema.simpleString() == (
        "struct<id:bigint,modality:string,payload:binary,meta:map<string,string>>"
    )
    f1 = extract_features(df, dim=6).orderBy("id").collect()
    f2 = extract_features(df, dim=6).orderBy("id").collect()
    assert [r["features"] for r in f1] == [r["features"] for r in f2]
    assert all(len(r["features"]) == 6 for r in f1)
    assert all(-1.0 <= x <= 1.0 for r in f1 for x in r["features"])


def test_multimodal_decode_stub_raises(spark):
    from clickhouse_k_means_spark.operators.multimodal import decode_payload

    with pytest.raises(NotImplementedError):
        decode_payload(b"bytes", "image")
    assert len(decode_payload(b"bytes", "image", deterministic_fake=True)) == 16


def test_frame_sampling_multiplies_video_rows(spark):
    from clickhouse_k_means_spark.operators.multimodal import (
        sample_frames,
        synth_multimodal,
    )

    df = synth_multimodal(spark, n=30)
    n_video = df.filter(F.col("modality") == "video").count()
    frames = sample_frames(df, every_n=4, n_frames=3)
    assert frames.count() == n_video * 3
    assert {r["frame_idx"] for r in frames.select("frame_idx").distinct().collect()} == {
        0,
        4,
        8,
    }


def test_resize_meta_preserves_aspect(spark):
    from clickhouse_k_means_spark.operators.multimodal import (
        resize_meta,
        synth_multimodal,
    )

    out = resize_meta(synth_multimodal(spark, n=20), max_side=100).collect()
    for r in out:
        assert max(r["resized_w"], r["resized_h"]) <= 100
        assert r["resized_w"] >= 1 and r["resized_h"] >= 1


# ---- streaming ----


def test_streaming_windows_match_batch_buckets(spark, sf_dir):
    import __spark_entry__ as entry
    from clickhouse_k_means_spark.streaming.windows import (
        run_available_now,
        stream_events,
        windowed_event_counts,
    )

    agg = windowed_event_counts(stream_events(spark, sf_dir), window="5 minutes")
    got = run_available_now(spark, agg, name="t_stream_win")
    batch = entry.q_time_buckets(spark, sf_dir)
    g = {(r["bucket_s"], r["event_type"]): (r["n"], r["value_c"]) for r in got.collect()}
    b = {
        (r["bucket_s"], r["event_type"]): (r["n"], r["value_c"])
        for r in batch.collect()
    }
    assert g == b


def test_streaming_sliding_windows_overlap(spark, sf_dir):
    from clickhouse_k_means_spark.streaming.windows import (
        run_available_now,
        stream_events,
        windowed_event_counts,
    )

    agg = windowed_event_counts(
        stream_events(spark, sf_dir), window="10 minutes", slide="5 minutes"
    )
    got = run_available_now(spark, agg, name="t_stream_slide")
    rows = got.collect()
    assert rows
    # sliding windows: every event lands in 2 windows → per-type total
    # count doubles the batch count
    total = sum(r["n"] for r in rows)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == 2 * n_events
    # starts step by the slide, not the window
    starts = sorted({r["bucket_s"] for r in rows})
    assert all((b - a) % 300 == 0 for a, b in zip(starts, starts[1:]))


def test_engine_fit_64dim_embeddings(spark, sf_dir):
    """Dimension-generic path: the reference-parity engine (not just
    MLlib) clustering 64-d vectors end-to-end."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, sf_dir, "embeddings")
    res = KMeansEngine(k=4, seed=42, max_iter=25).fit(yh)
    assert len(res.model) == 4
    assert all(len(c) == 64 for _, c in res.model)
    assigned = KMeansEngine(k=4).assign(yh, res.model)
    sizes = {r["j"]: r["n"] for r in assigned.groupBy("j").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sum(sizes.values()) == yh.count()
    assert len(sizes) == 4  # labeled fixture has 4 real clusters


def test_streaming_session_windows_conserve_events(spark, sf_dir):
    from clickhouse_k_means_spark.streaming.sessions import session_window_counts
    from clickhouse_k_means_spark.streaming.windows import (
        run_available_now,
        stream_events,
    )

    agg = session_window_counts(stream_events(spark, sf_dir), gap="30 minutes")
    got = run_available_now(spark, agg, name="t_sess_win")
    total = got.agg(F.sum("n_events")).collect()[0][0]
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    bad = got.filter(F.col("end_s") <= F.col("start_s")).count()
    assert bad == 0


def test_stateful_user_counts_match_batch(spark, sf_dir):
    import tempfile

    from clickhouse_k_means_spark.streaming.sessions import stateful_user_counts
    from clickhouse_k_means_spark.streaming.windows import stream_events

    out = stateful_user_counts(stream_events(spark, sf_dir))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName("t_stateful_counts")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    # last emitted row per user == the batch per-user totals
    from clickhouse_k_means_spark.operators.limit_by import limit_by

    emitted = spark.table("t_stateful_counts")
    final = {
        r["user_id"]: (r["n"], r["value_c"])
        for r in limit_by(emitted, 1, "user_id", [F.col("n").desc()]).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["value_c"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c"),
        )
        .collect()
    }
    assert final == batch


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Ingest-shape streaming dedup: a doc duplicated ACROSS
    micro-batches is emitted once; the hash history advances one
    snapshot per batch (foreachBatch + SnapshotStateStore)."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.dedup_stream import StreamingDedup

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))

    store = SnapshotStateStore(str(tmp_path / "state"))
    sd = StreamingDedup(store, table="seen")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = sd.attach(stream, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
    q.awaitTermination()
    q.stop()

    out = spark.read.parquet(str(tmp_path / "sink"))
    # 'alpha text' arrives in both batches: exactly one survivor
    # whichever batch ran first
    assert sorted(r["text"] for r in out.collect()) == [
        "alpha text",
        "beta text",
        "gamma text",
    ]
    assert sd.n_batches == 2
    assert sd.n_seen == 4
    assert sd.n_survived == 3
    assert store.latest_version("seen") == 2  # one snapshot per batch


def test_streaming_dedup_failed_write_commits_no_hashes(spark, tmp_path):
    """The survivors land before their hashes commit: a micro-batch
    whose survivors write fails leaves the hash history without a
    version, and replaying it into a good sink path lands every unique
    document of the batch."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.dedup_stream import StreamingDedup

    store = SnapshotStateStore(str(tmp_path / "state"))
    sd = StreamingDedup(store, table="seen")
    batch = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    # a FILE where the writer needs a directory
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    sd.sink_path = str(blocker / "out")
    with pytest.raises(Exception):
        sd._apply(batch, 0)
    assert store.latest_version("seen") is None
    sd.sink_path = str(tmp_path / "sink")
    assert sd._apply(batch, 0) is True
    out = spark.read.parquet(sd.sink_path)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    assert store.latest_version("seen") == 1
    assert (sd.n_batches, sd.n_seen, sd.n_survived) == (1, 3, 2)


def test_streaming_assign_stateless(spark, sf_dir):
    from clickhouse_k_means_spark.streaming.windows import (
        stream_events,
        streaming_assign,
    )

    model = [(1, [5.0]), (2, [15.0])]
    stream = stream_events(spark, sf_dir)
    assigned = streaming_assign(stream, model)
    assert assigned.isStreaming
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            assigned.writeStream.format("memory")
            .queryName("t_stream_assign")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    rows = spark.table("t_stream_assign")
    total = rows.count()
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert rows.filter(~F.col("j").isin(1, 2)).count() == 0


# ---- decontamination (r4) ----


def test_ngram_overlap_flags_planted_leak(spark):
    from clickhouse_k_means_spark.operators.decontam import (
        decontaminate,
        ngram_overlap,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated text about spark catalyst optimizer plans"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("quick brown fox jumps over the lazy dog",)], "text string"
    )
    out = ngram_overlap(docs, bench, n=8, min_hits=1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["contaminated"] == 1 and rows[1]["n_overlap"] >= 1
    assert rows[2]["contaminated"] == 0 and rows[2]["n_overlap"] == 0
    assert rows[3]["contaminated"] == 0  # whole-text shingle, no match
    assert rows[1]["n_ngrams"] == 5  # 12 tokens -> 5 distinct 8-grams

    clean = decontaminate(docs, bench, n=8)
    assert {r["doc_id"] for r in clean.select("doc_id").collect()} == {2, 3}


def test_ngram_overlap_min_hits_threshold(spark):
    """min_hits raises the collision bar: a doc sharing exactly one
    8-gram stays clean at min_hits=2; a doc sharing several flags."""
    from clickhouse_k_means_spark.operators.decontam import ngram_overlap

    docs = spark.createDataFrame(
        [
            # shares the full 9-token benchmark span -> 2 overlapping 8-grams
            (1, "alpha beta gamma delta epsilon zeta eta theta iota prefix"),
            # shares exactly the first 8 tokens -> 1 overlapping 8-gram
            (2, "alpha beta gamma delta epsilon zeta eta theta DIFFERENT"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta iota",)],
        "text string",
    )
    rows = {
        r["doc_id"]: r for r in ngram_overlap(docs, bench, n=8, min_hits=2).collect()
    }
    assert rows[1]["n_overlap"] == 2 and rows[1]["contaminated"] == 1
    assert rows[2]["n_overlap"] == 1 and rows[2]["contaminated"] == 0


def test_ngram_overlap_short_text_exact_match(spark):
    """Docs under n tokens fall back to whole-text shingles — an exact
    short-text collision still counts (both sides use the same rule)."""
    from clickhouse_k_means_spark.operators.decontam import ngram_overlap

    docs = spark.createDataFrame(
        [(1, "tiny leaked question"), (2, "different tiny doc")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("Tiny LEAKED question!",)], "text string")
    rows = {r["doc_id"]: r for r in ngram_overlap(docs, bench, n=8).collect()}
    assert rows[1]["contaminated"] == 1  # normalization makes them equal
    assert rows[2]["contaminated"] == 0


def test_decontaminate_plan_broadcasts_benchmark(spark, sf_dir):
    """The benchmark probe must be a broadcast hash join — a 100 TB
    corpus is never shuffled by shingle."""
    import __spark_entry__ as entry

    df = entry.q_decontaminate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0], plan


# ---- dataset assembly: splits + packing (r4) ----


def test_hash_split_deterministic_and_proportional(spark, sf_dir):
    from clickhouse_k_means_spark.operators.packing import hash_split
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in
         hash_split(docs.repartition(7)).collect()}
    assert a == b  # partition-layout independent
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] / n > 0.8  # 90% nominal, tolerant at small n
    # different salt -> different assignment (not a constant function)
    s2 = {r["doc_id"]: r["split"] for r in
          hash_split(docs, salt=43).collect()}
    assert s2 != a


def test_pack_sequences_invariants(spark):
    from clickhouse_k_means_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, 700) for i in range(10)], "doc_id long, n_tok long"
    )
    out = pack_sequences(df, tokens="n_tok", key="doc_id", budget=2048)
    rows = sorted(
        (r["doc_id"], r["pack_id"], r["pack_offset"]) for r in out.collect()
    )
    # 700-token docs, budget 2048: cumulative-before = 700*i;
    # pack = (700*i) div 2048 -> docs 0-2 pack 0, 3-5 pack 1, ...
    assert [r[1] for r in rows] == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]
    assert rows[0][2] == 0 and rows[3][2] == (2100 % 2048)
    # every pack's docs are contiguous in key order
    packs = [r[1] for r in rows]
    assert packs == sorted(packs)


def test_mix_sources_proportions_and_binding_domain(spark, sf_dir):
    from clickhouse_k_means_spark.operators.packing import mix_sources
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = mix_sources(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert set(got) <= {"src0", "src1", "src2"}
    # binding domain is src0 (highest weight, equal counts): kept whole
    n0 = docs.filter("source = 'src0'").count()
    assert got["src0"] == n0
    # others land binomially around w_s*T; just check ordering + bounds
    assert got["src0"] > got["src1"] > got["src2"] > 0
    assert got["src1"] <= n0 and got["src2"] <= n0


def test_mix_sources_deterministic_and_validated(spark, sf_dir):
    import pytest

    from clickhouse_k_means_spark.operators.packing import mix_sources
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = {"src0": 0.6, "src3": 0.4}
    a = sorted(r["doc_id"] for r in mix_sources(docs, w).select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in mix_sources(docs.repartition(7), w).select("doc_id").collect()
    )
    assert a == b  # pure function of (key, source, salt)
    with pytest.raises(ValueError, match="positive"):
        mix_sources(docs, {"src0": 0.0})
    with pytest.raises(ValueError, match="appear"):
        mix_sources(docs, {"no_such_source": 1.0})


def test_pack_sequences_rejects_non_numeric_key(spark):
    import pytest

    from clickhouse_k_means_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([("a", 10)], "doc_id string, n_tok long")
    with pytest.raises(ValueError, match="numeric"):
        pack_sequences(df, tokens="n_tok", key="doc_id")


def test_pack_sequences_keys_above_2_53_bucket_exactly(spark):
    """Bucket ids use integral div, not double division — keys above
    2^53 (where doubles lose integer resolution) must still land in
    exact key-order buckets."""
    from clickhouse_k_means_spark.operators.packing import pack_sequences

    base = 1 << 60
    df = spark.createDataFrame(
        [(base + i, 700) for i in range(10)], "doc_id long, n_tok long"
    )
    out = pack_sequences(df, tokens="n_tok", key="doc_id", budget=2048)
    rows = sorted((r["doc_id"], r["pack_id"]) for r in out.collect())
    assert [r[1] for r in rows] == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]


def test_pack_sequences_no_single_partition_window(spark, sf_dir):
    """The global cumsum must be two-phase — no SinglePartition
    exchange in the plan (the 100 TB killer)."""
    import __spark_entry__ as entry

    df = entry.q_pack_sequences(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_unigram_lm_exact_values(spark):
    """Hand-computed micro-nat surprisal on a 3-token corpus: counts
    a=2, b=1, N=3 -> s(a)=round(ln(1.5)*1e6)=405465,
    s(b)=round(ln(3)*1e6)=1098612; empty doc scores (0, 0)."""
    from clickhouse_k_means_spark.operators.textstats import unigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a a"), (2, "b"), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["nll_micro"])
        for r in unigram_lm_scores(docs).collect()
    }
    assert got == {1: (2, 405465), 2: (1, 1098612), 3: (0, 0)}


def test_unigram_lm_rare_tokens_score_higher(spark, sf_dir):
    """Ordering sanity on the fixture: a doc made of singleton tokens
    must out-score one made of the corpus's most common tokens."""
    from clickhouse_k_means_spark.operators.textstats import unigram_lm_scores
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (9100001, "qzxvjkwpy flurbination crontagulous"),  # unseen-ish
            (9100002, "the the the the the the"),
        ],
        "doc_id long, text string",
    )
    scored = unigram_lm_scores(docs.unionByName(extra))
    got = {
        r["doc_id"]: r["nll_micro"]
        for r in scored.filter("doc_id >= 9100000").collect()
    }
    assert got[9100001] > got[9100002]


def test_weighted_sample_heavy_rows_dominate(spark):
    """ES sampling: 5 rows carrying ~all the weight must all be in the
    top-5 sample; selection is layout-independent."""
    from clickhouse_k_means_spark.operators.sampling import weighted_sample

    rows = [(i, 1_000_000 if i < 5 else 1) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r["doc_id"] for r in weighted_sample(df, 5, "w").collect()}
    assert got == {0, 1, 2, 3, 4}
    # repartitioning must not change the sample (pure function of key)
    got2 = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), 5, "w").collect()
    }
    assert got2 == got


def test_weighted_sample_excludes_nonpositive_and_validates(spark):
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -4), (4, None)], "doc_id long, w int"
    )
    got = weighted_sample(df, 10, "w").collect()
    assert [r["doc_id"] for r in got] == [1]
    with _pytest.raises(ValueError, match="n must be"):
        weighted_sample(df, 0, "w")


def test_weighted_sample_compiles_to_take_ordered(spark, sf_dir):
    """The global top-n must be TakeOrdered (partial per-partition
    top-n + driver merge), never a global sort shuffle."""
    import __spark_entry__ as entry

    plan = (
        entry.q_weighted_sample(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_near_dedup_corpus_collapses_planted_dups(spark):
    """A≈B≈C chains collapse to the lowest-id survivor; unrelated docs
    survive; exact copies die even when split across LSH bands."""
    from clickhouse_k_means_spark.operators.dedup import near_dedup_corpus

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong coffee behind the old stone bridge every morning"
    )
    near = base.replace("every morning", "each morning")  # jaccard ~0.82
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1/2 (transitive chain)
        (4, "completely different text about spark physical plans and "
            "shuffle exchanges in distributed query engines today"),
        (5, ""),            # empty doc must pass through untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {
        r["doc_id"]
        for r in near_dedup_corpus(df, jaccard_threshold=0.5).collect()
    }
    assert kept == {1, 4, 5}


def test_near_dedup_threshold_none_skips_verification(spark):
    """jaccard_threshold=None = banding-only dedup (keeps LSH false
    positives as edges — the cheaper, recall-max variant)."""
    from clickhouse_k_means_spark.operators.dedup import near_dedup_corpus

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    df = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    kept = {
        r["doc_id"]
        for r in near_dedup_corpus(df, jaccard_threshold=None).collect()
    }
    assert kept == {1}


def test_streaming_sketch_distinct_and_histogram(spark, tmp_path):
    """Stream folds into persisted sketch state one commit per
    micro-batch; the final estimates match batch-computed ones, and a
    replayed batch id is skipped (exactly-once state)."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.sketch_stream import StreamingSketch

    src = tmp_path / "src"
    b1 = spark.range(0, 500).select(F.col("id").cast("double").alias("v"))
    b2 = spark.range(300, 800).select(F.col("id").cast("double").alias("v"))
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    store = SnapshotStateStore(str(tmp_path / "state"))
    hist = StreamingSketch(
        store, col="v", kind="histogram", lo=0.0, width=100.0, n_bins=8
    )
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = hist.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination()
    q.stop()
    assert hist.n_batches == 2
    got = {(r["bin"], r["cnt"]) for r in hist.state.merged(spark).collect()}
    # direct batch histogram over the union (rows, incl. the overlap)
    both = b1.unionByName(b2)
    want = {
        (r["b"], r["n"])
        for r in both.groupBy(
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(F.lit(7).cast("bigint"),
                        F.floor(F.col("v") / 100).cast("bigint")),
            ).alias("b")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    # replayed batch id is a no-op
    hist.process_batch(b1, batch_id=0)
    got2 = {(r["bin"], r["cnt"]) for r in hist.state.merged(spark).collect()}
    assert got2 == got

    # distinct flavour on the same source (hll_sketch_agg takes
    # int/long/string/binary — not double, so stream the id as bigint)
    dist = StreamingSketch(store, col="u", kind="distinct", table="hll_s")
    stream2 = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(F.col("v").cast("bigint").alias("u"))
    )
    q2 = dist.attach(stream2, str(tmp_path / "ckpt2"), query_name="s2")
    q2.awaitTermination()
    q2.stop()
    est = dist.state.estimate(spark)
    single = both.select(F.col("v").cast("bigint").alias("u")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("e")
    ).first()["e"]
    # 500-distinct batches sit in the sparse->dense promotion zone, so
    # union vs single-shot may differ ~1% (IncrementalDistinct docs) —
    # the contract here is bounded difference + determinism
    assert abs(est - int(single)) <= max(1, 0.02 * int(single))
    assert abs(est - 800) <= 800 * 0.05
    assert dist.state.estimate(spark) == est  # deterministic re-read


def test_streaming_sketch_replay_after_crash_past_state_commit(spark, tmp_path):
    """A crash right after a histogram batch's state commit must not
    count the batch twice on replay: the replay marker lands in the
    same commit as the bin counts, so the replayed batch is skipped."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.sketch_stream import StreamingSketch

    class CrashAfterFirstCommit(SnapshotStateStore):
        crashed = False

        def append(self, df, table, metadata=None):
            v = super().append(df, table, metadata=metadata)
            if not self.crashed:
                self.crashed = True
                raise RuntimeError("driver crashed after the commit")
            return v

    store = CrashAfterFirstCommit(str(tmp_path / "state"))
    hist = StreamingSketch(
        store, col="v", kind="histogram", lo=0.0, width=5.0, n_bins=4
    )
    batch = spark.range(20).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(RuntimeError, match="crashed"):
        hist.process_batch(batch, batch_id=0)
    hist.process_batch(batch, batch_id=0)  # the replay after recovery
    got = {(r["bin"], r["cnt"]) for r in hist.state.merged(spark).collect()}
    assert got == {(0, 5), (1, 5), (2, 5), (3, 5)}


def test_length_curriculum_quartiles(spark):
    """16 docs with token counts 1..16 -> exactly 4 per stage, stage
    monotone in length; n_stages validated."""
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.packing import length_curriculum

    df = spark.createDataFrame(
        [(i, i) for i in range(1, 17)], "doc_id long, n_tok int"
    )
    got = {r["doc_id"]: r["stage"] for r in length_curriculum(df, "n_tok").collect()}
    from collections import Counter

    assert Counter(got.values()) == {1: 4, 2: 4, 3: 4, 4: 4}
    assert all(got[i] <= got[j] for i in range(1, 17) for j in range(i, 17))
    with _pytest.raises(ValueError, match="n_stages"):
        length_curriculum(df, "n_tok", n_stages=1)


def test_asof_join_tolerance(spark):
    """tolerance nulls matches further back than the window (pandas
    merge_asof semantics); without it the stale match survives."""
    from clickhouse_k_means_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 100.0), (1, 205.0), (2, 50.0)], "k long, t double"
    )
    right = spark.createDataFrame(
        [(1, 90.0, "fresh"), (1, 10.0, "stale"), (2, 49.0, "ok")],
        "k long, rt double, label string",
    )
    loose = {
        (r["k"], r["t"]): r["label"]
        for r in as_of_join(left, right, "k", "t", "rt", ["label"]).collect()
    }
    assert loose == {(1, 100.0): "fresh", (1, 205.0): "fresh", (2, 50.0): "ok"}
    tight = {
        (r["k"], r["t"]): r["label"]
        for r in as_of_join(
            left, right, "k", "t", "rt", ["label"], tolerance=20.0
        ).collect()
    }
    # (1, 205): nearest earlier purchase is 115 back -> rejected
    assert tight == {(1, 100.0): "fresh", (1, 205.0): None, (2, 50.0): "ok"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tolerance"):
        as_of_join(left, right, "k", "t", "rt", ["label"], tolerance=-1)


def test_hashed_features_and_array_pivot(spark):
    """Counts are exact and conserved (sum over buckets == n_tokens);
    features_array pivots to the (i, Y) contract with zeros for absent
    buckets; dim validated."""
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.textstats import (
        features_array,
        hashed_features,
    )

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, ""), (3, "z")], "doc_id long, text string"
    )
    long = hashed_features(df, dim=4)
    per_doc = {
        r["doc_id"]: r["s"]
        for r in long.groupBy("doc_id").agg(F.sum("cnt").alias("s")).collect()
    }
    assert per_doc == {1: 4, 3: 1}  # doc 2 empty -> no rows
    arr = {r["doc_id"]: r["Y"] for r in features_array(long, dim=4).collect()}
    assert sum(arr[1]) == 4.0 and len(arr[1]) == 4
    assert sum(arr[3]) == 1.0
    with _pytest.raises(ValueError, match="dim"):
        hashed_features(df, dim=0)


def test_pq_topk_recall_vs_brute_force(spark, sf_dir):
    from clickhouse_k_means_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )
    from clickhouse_k_means_spark.sources.dataset import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, k=10, query_key="vec_id", corpus_key="vec_id")
    approx = pq_topk(
        q, c, k=10, m_sub=16, n_codes=64, rerank=100,
        query_key="vec_id", corpus_key="vec_id",
    )
    e = {(r["q"], r["n"]) for r in exact.collect()}
    a = {(r["q"], r["n"]) for r in approx.collect()}
    # measured 10/10 per query at sf0.001 and sf0.01 (codebooks train
    # on the full fixture-scale corpus); 0.8 leaves noise margin
    assert len(a & e) / len(e) >= 0.8


def test_pq_codes_are_narrow_and_deterministic(spark, sf_dir):
    """The PQ code column is m_sub small ints (the 100 TB memory
    contract) and encoding the same corpus twice yields identical
    codes (seeded codebooks, batch-independent argmin)."""
    import numpy as np

    from clickhouse_k_means_spark.functions.vector import (
        normalize_rows,
        numpy_kmeans,
        pq_encode_batch,
    )
    from clickhouse_k_means_spark.sources.dataset import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = emb.orderBy("vec_id").limit(64).collect()
    x = normalize_rows(np.asarray([r["v"] for r in rows], dtype=np.float64))
    dsub = x.shape[1] // 8
    books = [
        numpy_kmeans(x[:, s * dsub : (s + 1) * dsub], k=8, seed=7 + s, n_iter=5)
        for s in range(8)
    ]
    enc = pq_encode_batch(books)
    a = emb.select("vec_id", enc(F.col("v")).alias("codes")).orderBy("vec_id")
    got1 = [tuple(r["codes"]) for r in a.collect()]
    got2 = [tuple(r["codes"]) for r in a.collect()]
    assert got1 == got2
    assert all(len(c) == 8 for c in got1)
    assert all(0 <= code < 8 for c in got1 for code in c)


def test_boilerplate_ratio_edges(spark):
    from clickhouse_k_means_spark.operators.textstats import boilerplate_ratio

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
            (3, "the quick brown dog runs"),
            (4, "the quick brown owl flies"),
            (5, "the quick brown elk walks"),
            (6, ""),  # empty doc must keep a row at ratio 0
            (7, "zz"),  # shorter than n -> whole text is one shingle
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate_ratio(df, n=3, min_doc_freq=5).collect()}
    assert len(out) == 7
    # 'the quick brown' appears in 5 docs -> frequent for docs 1-5
    for d in (1, 2, 3, 4, 5):
        assert out[d]["n_frequent"] == 1, out[d]
        assert 0 < out[d]["boiler_ratio"] <= 1.0
    assert out[6]["n_shingles"] == 0 and out[6]["boiler_ratio"] == 0.0
    assert out[7]["n_shingles"] == 1 and out[7]["n_frequent"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_doc_freq"):
        boilerplate_ratio(df, n=3, min_doc_freq=1)


def test_domain_divergence_properties(spark):
    from clickhouse_k_means_spark.operators.textstats import domain_divergence

    # one domain == the corpus -> KL exactly 0
    df1 = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "a", "x x y")], "doc_id bigint, source string, text string"
    )
    only = domain_divergence(df1, group="source").collect()
    assert len(only) == 1 and only[0]["kl_micro"] == 0

    # disjoint-vocabulary domains -> strictly positive divergence both
    # sides; n_tok adds up
    df2 = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "b", "u v w q")],
        "doc_id bigint, source string, text string",
    )
    out = {r["source"]: r for r in domain_divergence(df2, group="source").collect()}
    assert out["a"]["kl_micro"] > 0 and out["b"]["kl_micro"] > 0
    assert out["a"]["n_tok"] == 3 and out["b"]["n_tok"] == 4


def test_fit_pca_recovers_variance_structure(spark, sf_dir):
    import numpy as np

    from clickhouse_k_means_spark.operators.pca import (
        fit_pca,
        project_pca,
    )
    from clickhouse_k_means_spark.sources.dataset import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(emb, n_components=4)
    # orthonormal components
    g = model.components @ model.components.T
    assert np.allclose(g, np.eye(4), atol=1e-8)
    # eigenvalues descending and nonnegative
    ev = model.explained_variance
    assert all(ev[i] >= ev[i + 1] >= 0 for i in range(3))
    # projected per-component variance matches the eigenvalues
    proj = project_pca(emb, model)
    m = np.array([r["pc"] for r in proj.select("pc").collect()])
    assert np.allclose(m.var(axis=0), ev, rtol=1e-6)
    # projection is deterministic across repeated runs
    m2 = np.array([r["pc"] for r in proj.select("pc").collect()])
    assert np.array_equal(m, m2)


def test_fit_pca_validates(spark):
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.pca import fit_pca

    df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
    with _pytest.raises(ValueError, match="n_components"):
        fit_pca(df, n_components=3)
    empty = spark.createDataFrame([], "embedding array<double>")
    with _pytest.raises(ValueError, match="empty"):
        fit_pca(empty, n_components=1)


def test_covariance_long_matches_numpy(spark):
    import numpy as np

    from clickhouse_k_means_spark.operators.pca import covariance_long

    rng = np.random.RandomState(0)
    x = np.round(rng.uniform(-0.5, 0.5, (200, 3)), 5)  # exact at 1e-5 grid
    df = spark.createDataFrame([(list(map(float, r)),) for r in x], "embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_long(df, dim=3).collect()}
    ref = np.cov(x, rowvar=False, bias=True)
    for i in range(3):
        for j in range(i, 3):
            assert abs(got[(i, j)] - ref[i, j]) < 1e-7, (i, j)


def test_incremental_near_dedup_cross_batch(spark, tmp_path):
    from clickhouse_k_means_spark.operators.dedup import incremental_near_dedup
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "bands"))
    base = "the quick brown fox jumps over the lazy dog again and again"
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark engines here")],
        "doc_id bigint, text string",
    )
    s1, n1 = incremental_near_dedup(b1, store)
    assert s1.count() == 2 and n1 > 0

    # batch 2: an exact copy of doc 1 (same bands) + a fresh doc
    b2 = spark.createDataFrame(
        [(10, base), (11, "novel content with no overlap to anything prior at all")],
        "doc_id bigint, text string",
    )
    s2, n2 = incremental_near_dedup(b2, store)
    kept = {r["doc_id"] for r in s2.collect()}
    assert kept == {11}, kept
    assert n2 > 0

    # replaying batch 2 drops everything (all bands now committed)
    s3, n3 = incremental_near_dedup(b2, store)
    assert s3.count() == 0 and n3 == 0


def test_incremental_near_dedup_transitive_within_batch(spark, tmp_path):
    """B dropped for canonical A stays dropped when A then collides
    with history — the two-layer transitivity contract."""
    from clickhouse_k_means_spark.operators.dedup import incremental_near_dedup
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "bands"))
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    _, _ = incremental_near_dedup(
        spark.createDataFrame([(1, t)], "doc_id bigint, text string"), store
    )
    b2 = spark.createDataFrame(
        [(20, t), (21, t)], "doc_id bigint, text string"
    )
    s2, _ = incremental_near_dedup(b2, store)
    # 21 collapses into 20 within-batch; 20 then hits history -> none survive
    assert s2.count() == 0


def test_watermarked_dedup_stream_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark drops planted duplicate event ids
    and matches the batch distinct count — bounded-state streaming
    dedup (state GC'd beyond the watermark horizon)."""
    from clickhouse_k_means_spark.sources.dataset import event_time, load_table
    from clickhouse_k_means_spark.streaming.dedup_stream import (
        watermarked_dedup_stream,
    )
    from clickhouse_k_means_spark.streaming.windows import run_available_now

    ev = load_table(spark, sf_dir, "events").limit(500)
    doubled = ev.unionByName(ev)  # every event arrives twice
    src = str(tmp_path / "src")
    doubled.write.parquet(src)

    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .load(src)
        .withColumn("event_time", event_time(batch))
    )
    dd = watermarked_dedup_stream(stream, ["event_id"], delay="10 minutes")
    got = run_available_now(
        spark, dd.select("event_id"), name="t_wm_dedup", output_mode="append"
    )
    ids = [r["event_id"] for r in got.collect()]
    assert len(ids) == len(set(ids)) == 500


def test_zorder_write_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Per-file min/max spans after a z-ordered write are narrow on
    BOTH clustered columns (each file covers a small hyper-rectangle),
    while a one-column sorted write leaves the second column at full
    range — the stats parquet data skipping actually uses."""
    from clickhouse_k_means_spark.sources.dataset import (
        event_epoch_seconds,
        load_table,
    )
    from clickhouse_k_means_spark.sources.zorder import write_zordered

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", event_epoch_seconds(ev).alias("es")
    )

    def avg_span(path: str) -> dict:
        d = spark.read.parquet(path).withColumn("f", F.input_file_name())
        g = d.groupBy("f").agg(
            F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
            F.min("es").alias("elo"), F.max("es").alias("ehi"),
        )
        tot = d.agg(
            (F.max("user_id") - F.min("user_id")).alias("du"),
            (F.max("es") - F.min("es")).alias("de"),
        ).first()
        rows = g.collect()
        return {
            "u": sum((r["uhi"] - r["ulo"]) / tot["du"] for r in rows) / len(rows),
            "e": sum((r["ehi"] - r["elo"]) / tot["de"] for r in rows) / len(rows),
            "files": len(rows),
        }

    zpath = str(tmp_path / "z")
    write_zordered(base, zpath, ["user_id", "es"], n_files=8)
    zs = avg_span(zpath)

    lpath = str(tmp_path / "linear")
    (
        base.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(lpath)
    )
    ls = avg_span(lpath)

    assert zs["files"] >= 4
    # z-order: BOTH columns narrow per file
    assert zs["u"] <= 0.6, zs
    assert zs["e"] <= 0.6, zs
    # linear sort: first column tight, second column ~full range
    assert ls["u"] <= zs["u"] + 0.05
    assert ls["e"] >= 0.8, ls


def test_zorder_key_validation(spark):
    import pytest as _pytest

    from clickhouse_k_means_spark.sources.zorder import zorder_key

    with _pytest.raises(ValueError, match="columns"):
        zorder_key([F.col("a")] * 5, [(0, 1)] * 5, bits=16)
    with _pytest.raises(ValueError, match="at least one"):
        zorder_key([], [])


def test_check_constraints_counts_and_nulls(spark):
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.quality import (
        check_constraints,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", "x"),
            (1, -5.0, "B", "y"),   # dup key, below range
            (2, None, "Z", "zz"),  # null price, bad status format len
            (3, 50.0, None, "x"),  # null category
        ],
        "k bigint, price double, cat string, st string",
    )
    out = {
        r["constraint"]: r
        for r in check_constraints(
            df,
            [
                not_null("price"),
                unique("k"),
                in_range("price", 0.0, 100.0),
                in_set("cat", ["A", "B"]),
                matches("st", "^[a-z]$"),
            ],
        ).collect()
    }
    assert all(r["n_rows"] == 4 for r in out.values())
    assert out["not_null(price)"]["n_violations"] == 1
    assert out["unique(k)"]["n_violations"] == 1  # 4 rows, 3 distinct
    # null price AND -5.0 both violate the strict range check
    assert out["in_range(price,0.0,100.0)"]["n_violations"] == 2
    assert out["in_set(cat)"]["n_violations"] == 2  # 'Z' and NULL
    assert out["matches(st)"]["n_violations"] == 1  # 'zz'
    assert all(r["ok"] == 0 for r in out.values())

    clean = check_constraints(
        df.filter("k = 3"), [not_null("price"), unique("k")]
    ).collect()
    assert all(r["ok"] == 1 for r in clean)
    with _pytest.raises(ValueError, match="at least one"):
        check_constraints(df, [])
    with _pytest.raises(ValueError, match="duplicate"):
        check_constraints(df, [not_null("price"), not_null("price")])


def test_skew_report_hand_computed(spark):
    from clickhouse_k_means_spark.operators.skew import skew_report

    df = spark.createDataFrame(
        [("hot",)] * 8 + [("a",), ("b",)], "k string"
    )
    r = skew_report(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.max_count, r.top_key) == (10, 3, 8, "hot")
    assert r.avg_count == 3  # 10 div 3
    assert r.skew_ratio_x100 == (100 * 8 * 3) // 10  # 240


def test_skew_report_tie_breaks_to_smallest_key(spark):
    from clickhouse_k_means_spark.operators.skew import skew_report

    df = spark.createDataFrame([("b",), ("a",), ("a",), ("b",)], "k string")
    assert skew_report(df, "k").collect()[0].top_key == "a"


def test_cumulative_uniques_invariants(spark, sf_dir):
    import __spark_entry__ as entry
    from clickhouse_k_means_spark.sources.dataset import load_table

    out = entry.q_cumulative_uniques(spark, sf_dir).orderBy("day_id").collect()
    total_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.new_users for r in out) == total_users
    assert out[-1].cum_users == total_users
    # cum is the running sum of new, monotone non-decreasing
    run = 0
    for r in out:
        run += r.new_users
        assert r.cum_users == run


def test_domain_cap_respects_cap_and_is_deterministic(spark):
    from clickhouse_k_means_spark.operators.sampling import domain_cap

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = domain_cap(df, max_per_domain=10)
    by_src = {
        r.source: r.n
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src == {"big": 10, "small": 3}  # under-cap domains intact
    a = sorted(r.doc_id for r in capped.collect())
    b = sorted(r.doc_id for r in domain_cap(df.repartition(7), 10).collect())
    assert a == b  # seeded hash -> same survivors regardless of layout


def test_domain_cap_plan_uses_window_group_limit(spark, sf_dir):
    from clickhouse_k_means_spark.operators.sampling import domain_cap
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        domain_cap(docs, 20)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_domain_cap_validates(spark):
    import pytest

    from clickhouse_k_means_spark.operators.sampling import domain_cap

    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with pytest.raises(ValueError):
        domain_cap(df, 0)


def test_knn_join_empty_input_schema_follows_key_type(spark):
    """ADVICE r6: the empty-input fast path must derive (a, b) from the
    key column's actual type, not hardcode bigint."""
    from clickhouse_k_means_spark.operators.similarity import knn_join

    empty = spark.createDataFrame(
        [], "vec_id int, embedding array<double>"
    )
    out = knn_join(empty, k=3, key="vec_id")
    assert out.count() == 0
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {"a": "int", "b": "int", "sim": "double", "rank": "int"}


# ---- SemDeDup (cluster-bucketed embedding dedup) ----


def _semdedup_fixture(spark):
    """Two well-separated directions with planted near-dups on each,
    plus a lone outlier: groups are knowable by construction."""
    import random

    rng = random.Random(7)
    dim = 8

    def noisy(base, eps):
        return [round(v + rng.gauss(0.0, eps), 6) for v in base]

    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [
        (0, e1),
        (1, noisy(e1, 0.01)),     # near-dup of 0
        (2, noisy(e1, 0.01)),     # near-dup of 0
        (10, e2),
        (11, noisy(e2, 0.01)),    # near-dup of 10
        (20, noisy([v * 0.5 for v in e1], 0.4)),  # loner
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_knn_join_accepts_precomputed_count(spark):
    """ADVICE r7: n_rows skips the df.count() job (which re-executes
    expensive upstream lineage) and must produce the identical graph
    as the counted path."""
    from clickhouse_k_means_spark.operators.similarity import knn_join

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    auto = knn_join(df, k=3, seed=1)
    pinned = knn_join(df, k=3, seed=1, n_rows=60)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_semdedup_rejects_duplicate_centroid_ids_on_empty_input(spark):
    """The validation must fire BEFORE the empty-input early return —
    an invalid model fails loudly regardless of whether data arrives
    (r8 review finding)."""
    import pytest as _pytest

    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="duplicate centroid"):
        semantic_dedup(
            empty,
            centroids=[(0, [1.0, 0.0]), (0, [0.0, 1.0])],
            threshold=0.9,
        )


def test_semdedup_rejects_duplicate_centroid_ids(spark):
    """ADVICE r7: a repeated centroid j would silently duplicate
    membership rows through the cdf join — fail loudly instead."""
    import pytest

    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    df = _semdedup_fixture(spark)
    cents = [(0, [1.0] + [0.0] * 7), (0, [0.0, 1.0] + [0.0] * 6)]
    with pytest.raises(ValueError, match="duplicate centroid id"):
        semantic_dedup(df, centroids=cents, threshold=0.95)


def test_semdedup_groups_planted_dups_one_keeper(spark):
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    df = _semdedup_fixture(spark)
    cents = [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)]
    out = semantic_dedup(df, centroids=cents, threshold=0.95).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == 6
    # clusters follow the nearest fixed centroid
    assert {by_id[i]["j"] for i in (0, 1, 2, 20)} == {0}
    assert {by_id[i]["j"] for i in (10, 11)} == {1}
    # planted dups share a group labeled by the min member id
    assert by_id[0]["grp"] == by_id[1]["grp"] == by_id[2]["grp"] == 0
    assert by_id[10]["grp"] == by_id[11]["grp"] == 10
    assert by_id[20]["grp"] == 20 and by_id[20]["keep"] == 1
    # exactly one keeper per group
    from collections import Counter

    kept = Counter(r["grp"] for r in out if r["keep"] == 1)
    assert kept == {0: 1, 10: 1, 20: 1}
    # conservation
    assert sum(r["keep"] for r in out) == 3


def test_semdedup_keep_rule_is_least_similar_to_centroid(spark):
    """The paper's keep rule: within a duplicate group the survivor is
    the member with the LOWEST cosine-to-centroid (ties -> lowest id)."""
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    # 40 is exactly the centroid direction (c2c = 1.0); 41 is tilted
    # (lower c2c) but still a near-dup -> 41 must be the keeper
    rows = [
        (40, [1.0, 0.0, 0.0, 0.0]),
        (41, [0.99, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, centroids=cents, threshold=0.9).collect()}
    assert out[41]["keep"] == 1 and out[40]["keep"] == 0
    assert out[40]["grp"] == out[41]["grp"] == 40


def test_semdedup_fitted_centroids_invariants(spark):
    """centroids=None fits the engine k-means (the paper's actual
    procedure): structural invariants must hold regardless of the
    learned model."""
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    df = _semdedup_fixture(spark)
    out = semantic_dedup(df, k=2, threshold=0.95, seed=42, max_iter=5).collect()
    assert len(out) == 6  # every row labeled exactly once
    groups = {}
    for r in out:
        groups.setdefault(r["grp"], []).append(r)
    for grp, members in groups.items():
        assert sum(m["keep"] for m in members) == 1, (grp, members)
        # group label is the min member id, and members share a cluster
        assert grp == min(m["vec_id"] for m in members)
        assert len({m["j"] for m in members}) == 1


def test_semdedup_empty_input_schema_follows_key_type(spark):
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    out = semantic_dedup(empty, centroids=[(0, [1.0, 0.0])])
    assert out.count() == 0
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {"vec_id": "int", "j": "int", "grp": "int", "keep": "int"}


def test_semdedup_pair_join_is_cluster_keyed_not_cartesian(spark):
    """The ONLY quadratic term must be the in-cluster equi-join: the
    physical plan may not contain a cartesian/broadcast-nested-loop
    stage (100-TB contract: shuffle keyed by cluster id)."""
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    df = _semdedup_fixture(spark)
    cents = [(0, [1.0] + [0.0] * 7), (1, [0.0, 1.0] + [0.0] * 6)]
    plan = (
        semantic_dedup(df, centroids=cents, threshold=0.95)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_join_auto_bits_scales_with_corpus():
    """n_bits=None derives SRP depth from corpus size (clamped [4,16])
    so bucket occupancy stays ~constant as the corpus grows — a fixed
    depth is a fixture constant that turns candidate generation
    quadratic at scale (r7 sf1 probe: 213 s at 6 bits vs 22 s at 10)."""
    from clickhouse_k_means_spark.operators.similarity import _auto_n_bits

    assert _auto_n_bits(2_000) == 6        # the old fixture default
    assert _auto_n_bits(20_000) == 10      # the sf1 probe fix
    assert _auto_n_bits(1) == 4            # floor
    assert _auto_n_bits(10**9) == 16       # ceiling
    assert _auto_n_bits(32) == 4 and _auto_n_bits(33) == 4


def test_knn_join_auto_bits_end_to_end(spark):
    from clickhouse_k_means_spark.operators.similarity import knn_join

    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = knn_join(df, k=3)  # n_bits auto-derived
    got = out.groupBy("a").count().collect()
    assert all(r["count"] <= 3 for r in got)
    assert len(got) > 0


def test_knn_join_partitioned_recall_on_clustered_data(spark):
    """Hierarchical IVF->SRP kNN (VERDICT r8 item 4): on clustered
    data — the regime where cell partitioning could LOSE cross-cell
    neighbors — multi-assignment (probe_cells) keeps recall: every
    point's top-3 must match exact brute force on 3 tight clusters."""
    import math

    from clickhouse_k_means_spark.operators.similarity import (
        brute_force_topk,
        knn_join_partitioned,
    )

    rows = []
    for c, base in enumerate([0.0, 2.0, 4.0]):
        for i in range(20):
            a = base + 0.02 * i
            rows.append(
                (c * 20 + i,
                 [math.cos(a), math.sin(a), math.cos(2 * a), math.sin(2 * a)])
            )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = knn_join_partitioned(
        df, k=3, n_cells=3, probe_cells=2, n_tables=16, seed=42
    )
    exact = brute_force_topk(
        df.withColumnRenamed("vec_id", "q"),
        df.withColumnRenamed("vec_id", "n"),
        k=4, query_key="q", corpus_key="n",
    ).filter("q != n")
    # exact top-3 excluding self
    from pyspark.sql import Window as W

    w = W.partitionBy("q").orderBy(F.col("score").desc(), F.col("n"))
    etop = (exact.withColumn("r", F.row_number().over(w)).filter("r <= 3")
            .select("q", F.col("n").alias("b")))
    hits = etop.join(
        out.select(F.col("a").alias("q"), "b"), ["q", "b"], "left_semi"
    ).groupBy("q").count().collect()
    assert len(hits) == 60
    assert all(r["count"] >= 2 for r in hits), sorted(
        r["count"] for r in hits)[:5]


def test_knn_join_partitioned_contract_and_validation(spark):
    from clickhouse_k_means_spark.operators.similarity import (
        knn_join_partitioned,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = knn_join_partitioned(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["a", "b", "sim", "rank"]
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="probe_cells"):
        knn_join_partitioned(df, probe_cells=0)
    with pytest.raises(ValueError, match="probe_cells"):
        knn_join_partitioned(df, n_cells=2, probe_cells=3)
    # arg validation fires BEFORE the empty-input early return —
    # an empty frame must not hide a misconfiguration (review, r9)
    with pytest.raises(ValueError, match="probe_cells"):
        knn_join_partitioned(empty, n_cells=2, probe_cells=3)
    # adaptive path (n_bits=None) runs end-to-end and bounds k
    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(40)]
    df2 = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = knn_join_partitioned(df2, k=3, n_cells=2, probe_cells=1)
    per = got.groupBy("a").count().collect()
    assert per and all(r["count"] <= 3 for r in per)


def test_auto_n_cells_derivation_and_none_path(spark):
    """VERDICT r9 item 5: n_cells=None self-sets from a cheap count,
    mirroring _auto_n_bits (the r7 fixture-constant lesson). Pins the
    derivation arithmetic: target expected occupancy per_bucket*2^12
    = 131072, n_cells = ceil(n*probe/target), clamp
    [probe_cells, 1024]."""
    from clickhouse_k_means_spark.operators.similarity import (
        _auto_n_cells,
        knn_join_partitioned,
    )

    # small corpora floor at probe_cells (multi-probe stays legal)
    assert _auto_n_cells(60_000, probe_cells=2) == 2
    assert _auto_n_cells(60_000, probe_cells=3) == 3
    # the linear regime: ceil(n*probe / 131072)
    assert _auto_n_cells(1_000_000, probe_cells=2) == 16
    assert _auto_n_cells(8_000_000, probe_cells=2) == 123
    # the quantizer-sample resolution clamp
    assert _auto_n_cells(67_108_864, probe_cells=2) == 1024
    assert _auto_n_cells(10**9, probe_cells=2) == 1024
    # cell capacity headroom: at the target occupancy the adaptive
    # mask needs ceil(log2(131072/32)) = 12 bits — 4 spare below the
    # 16-bit clamp, so ~16x cell skew stays adaptive
    import math

    assert math.ceil(math.log2((32 << 12) / 32)) == 12
    # the None path runs end-to-end (derives the floor here) and
    # bounds k like the explicit path
    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(40)]
    df2 = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = knn_join_partitioned(df2, k=3, n_cells=None, probe_cells=2)
    per = got.groupBy("a").count().collect()
    assert per and all(r["count"] <= 3 for r in per)
    with pytest.raises(ValueError, match="probe_cells"):
        knn_join_partitioned(df2, n_cells=None, probe_cells=0)


def test_semdedup_zero_norm_vector_never_steals_keeper(spark):
    """A zero-norm embedding has UNDEFINED cosine (NULL): it must form
    no edges and must not outrank real members for the keeper slot
    (review finding, r7: NULL sorted FIRST under a plain asc window)."""
    from clickhouse_k_means_spark.operators.semdedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 0.0, 0.0, 0.0]),       # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0])]
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, centroids=cents, threshold=0.95).collect()}
    assert out[3]["grp"] == 3 and out[3]["keep"] == 1  # own singleton
    assert out[1]["grp"] == out[2]["grp"] == 1
    assert out[1]["keep"] + out[2]["keep"] == 1


def test_semdedup_arrow_tier_tie_breaks_to_lowest_j(spark):
    """Unsorted user-supplied centroids with an equidistant point:
    every tier (and the oracle) must resolve to the LOWEST j."""
    from clickhouse_k_means_spark.operators import semdedup as sd

    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    cents = [(5, [1.0, 0.0]), (2, [-1.0, 0.0])]  # both at distance 1
    small = sd.semantic_dedup(df, centroids=cents, threshold=0.9).collect()
    assert small[0]["j"] == 2
    # force the Arrow tier for the same model
    orig = sd._UNROLL_BUDGET
    try:
        sd._UNROLL_BUDGET = 0
        arrow = sd.semantic_dedup(df, centroids=cents, threshold=0.9).collect()
    finally:
        sd._UNROLL_BUDGET = orig
    assert arrow[0]["j"] == 2


def test_span_dedup_first_occurrence_wins(spark):
    """C4-style span dedup: global first occurrence by (doc_id,
    span_id) survives, later repeats — including intra-document ones —
    are removed; reassembly preserves span order; empty and tail-span
    docs round-trip."""
    from clickhouse_k_means_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "c d a b x y"),   # two spans already seen in doc 1
            (3, "a b a b"),       # intra-doc repeat of a doc-1 span
            (4, ""),
            (5, "z"),             # short tail span survives
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["dedup_text"])
        for r in span_dedup(df, span_tokens=2).collect()
    }
    assert rows[1] == (3, 3, "a b c d e f")
    assert rows[2] == (3, 1, "x y")
    assert rows[3] == (2, 0, "")
    assert rows[4] == (0, 0, "")
    assert rows[5] == (1, 1, "z")


def test_span_dedup_validation_and_rerun_stability(spark):
    from clickhouse_k_means_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="span_tokens"):
        span_dedup(df, span_tokens=0)
    # layout-independence: exact string keys -> identical results
    a = sorted(map(tuple, span_dedup(df, span_tokens=2).collect()))
    b = sorted(
        map(tuple, span_dedup(df.repartition(8), span_tokens=2).collect())
    )
    assert a == b


def test_span_dedup_plan_single_span_shuffle(spark, sf_dir):
    """Scale guard: the keep-first window shuffles on the 128-bit span
    digest (uniform — boilerplate hot spans never concentrate on one
    reducer), and the plan contains no join between data-scale
    relations beyond the final broadcast-able doc_id restore."""
    from clickhouse_k_means_spark.operators.dedup import span_dedup
    from clickhouse_k_means_spark.plans.audit import audit_plan
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    info = audit_plan(span_dedup(docs, span_tokens=10))
    assert not info["has_cartesian"], info
    hash_shuffles = [s for s in info["shuffle_keys"] if "span_hash" in s]
    assert hash_shuffles, info["shuffle_keys"]


def test_cdc_dedup_catches_misaligned_duplicate(spark):
    """VERDICT r8 item 3 'Done =' probe: a duplicated run embedded at
    offsets that differ (and are NOT span_tokens apart) is invisible
    to span_dedup's fixed tiling but must be caught by cdc_dedup —
    content-defined boundaries align the two copies identically
    regardless of position."""
    from clickhouse_k_means_spark.operators.dedup import (
        cdc_dedup,
        span_dedup,
    )

    run = (
        "quantum widgets orbit seven green towers under crimson skies "
        "while nine silver foxes jump over lazy dogs near ancient "
        "stone bridges beyond seven rivers"
    )
    df = spark.createDataFrame(
        [
            (1, "intro one two " + run),                      # offset 3
            (2, "different preamble of five tokens here " + run),  # 7
        ],
        "doc_id bigint, text string",
    )
    sp = {r["doc_id"]: r for r in span_dedup(df, span_tokens=10).collect()}
    cd = {r["doc_id"]: r for r in cdc_dedup(df, divisor=4).collect()}
    # fixed tiling misses: doc 2 keeps every span
    assert sp[2]["n_kept"] == sp[2]["n_spans"]
    # CDC catches: doc 2 loses interior chunks of the duplicated run
    assert cd[2]["n_kept"] < cd[2]["n_chunks"], cd
    # first occurrence keeps everything
    assert cd[1]["n_kept"] == cd[1]["n_chunks"]
    # the removed chunks are a contiguous interior piece of the run:
    # doc 2's surviving text must still start with its own preamble
    assert cd[2]["dedup_text"].startswith("different preamble")


def test_cdc_dedup_edges_and_rerun_stability(spark):
    from clickhouse_k_means_spark.operators.dedup import cdc_dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "xyz"), (3, "xyz"), (4, "a b c")],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="divisor"):
        cdc_dedup(df, divisor=0)
    rows = {r["doc_id"]: r for r in cdc_dedup(df, divisor=4).collect()}
    # empty doc: 0 chunks; no-breakpoint docs degrade to whole-doc
    # exact dedup (doc 2 keeps its single chunk, doc 3 loses it)
    assert (rows[1]["n_chunks"], rows[1]["n_kept"]) == (0, 0)
    assert rows[2]["n_kept"] == rows[2]["n_chunks"] >= 1
    assert rows[3]["n_kept"] == 0 and rows[3]["dedup_text"] == ""
    # layout-independence
    a = sorted(map(tuple, cdc_dedup(df, divisor=4).collect()))
    b = sorted(map(tuple, cdc_dedup(df.repartition(8), divisor=4).collect()))
    assert a == b


def test_cdc_dedup_measured_catch_rate_vs_run_length(spark):
    """VERDICT r9 item 2: PIN the docstring's recall claim with a
    measured catch-rate curve. Seeded fixture plants duplicated runs
    of controlled length (0.5x, 1x, 2x, 4x, 8x the divisor) at random
    alignments in pairs of documents; per trial the guarantee is
    EXACT: with b = number of breakpoint tokens inside the run, the
    later copy loses exactly max(0, b-1) chunks — nothing else, at
    any alignment — and edge chunks (the run's boundary chunks that
    extend into non-duplicated context) are never removed. The
    aggregate curve matches the geometric-decay claim: ~0 below 1x
    divisor, ->1 above 2x (Lee et al. ExactSubstr's 50-token
    threshold analogue, operators/dedup.py docstring)."""
    import hashlib
    import random

    from clickhouse_k_means_spark.operators.dedup import cdc_dedup

    divisor = 8
    rng = random.Random(1234)

    def is_bp(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % divisor == 0

    def chunk(toks: list[str]) -> list[str]:
        """Mirror _cdc_chunk_table: a chunk ends at (and includes)
        each breakpoint token; the tail after the last breakpoint is
        a final partial chunk."""
        out, start = [], 0
        for i, t in enumerate(toks):
            if is_bp(t):
                out.append(" ".join(toks[start : i + 1]))
                start = i + 1
        if start < len(toks):
            out.append(" ".join(toks[start:]))
        return out

    classes = {4: 30, 8: 30, 16: 30, 32: 30, 64: 30}  # run_len -> trials
    docs, truth = [], {}
    doc_id = 0
    for run_len, n_trials in sorted(classes.items()):
        for t in range(n_trials):
            run = [f"r{run_len}x{t}x{j}" for j in range(run_len)]
            b = sum(1 for tok in run if is_bp(tok))
            pre_a = [f"fa{doc_id}x{j}" for j in range(rng.randint(3, 12))]
            post_a = [f"ga{doc_id}x{j}" for j in range(rng.randint(3, 12))]
            pre_b = [f"fb{doc_id}x{j}" for j in range(rng.randint(3, 12))]
            post_b = [f"gb{doc_id}x{j}" for j in range(rng.randint(3, 12))]
            toks_a = pre_a + run + post_a
            toks_b = pre_b + run + post_b
            docs.append((doc_id, " ".join(toks_a)))
            docs.append((doc_id + 1, " ".join(toks_b)))
            # exact expected removals for the LATER copy: its chunks
            # already produced by the first copy (every token is
            # trial-unique, so cross-trial collisions are impossible
            # and within-doc chunks are distinct)
            expected = len(set(chunk(toks_b)) & set(chunk(toks_a)))
            truth[doc_id + 1] = (run_len, b, expected, set(pre_b + post_b))
            doc_id += 2
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in cdc_dedup(df, divisor=divisor).collect()}

    caught = {L: 0 for L in classes}
    for later_key, (run_len, b, expected, fillers) in truth.items():
        r = rows[later_key]
        removed = r["n_chunks"] - r["n_kept"]
        # exact parity with the simulated chunking, per trial
        assert removed == expected, (
            f"doc {later_key}: run_len={run_len} b={b} "
            f"removed={removed} expected={expected}"
        )
        # the docstring's GUARANTEE: >= 2 breakpoints in the run =>
        # its b-1 interior chunks are ALWAYS removed, any alignment
        # (boundary luck can only remove MORE, never fewer)
        assert removed >= max(0, b - 1), (later_key, b, removed)
        kept_toks = set(r["dedup_text"].split())
        # edge non-removal: every filler token survives (boundary
        # chunks mix run + context, so they are unique and kept —
        # unless boundary luck makes a pure-run chunk, which holds
        # no filler either way)
        assert fillers <= kept_toks, later_key
        # and the FIRST copy never loses anything
        first = rows[later_key - 1]
        assert first["n_kept"] == first["n_chunks"], later_key - 1
        if removed > 0:
            caught[run_len] += 1
    rate = {L: caught[L] / n for L, n in classes.items()}
    # the measured curve (seeded => exact): geometric decay in run
    # length. P(b>=2 | L) at p=1/8: L=4 ~0.08, L=8 ~0.26, L=16 ~0.61,
    # L=32 ~0.92, L=64 ~0.997
    assert rate[4] <= 0.35, rate
    assert rate[64] >= 0.90, rate
    assert rate[4] <= rate[8] <= rate[16] <= rate[32], rate
    assert rate[32] >= 0.70, rate


def test_cdc_dedup_plan_skew_proof_keep_first(spark, sf_dir):
    """Scale guard: chunking is map-only (HOFs inside the row — no
    per-token explode), and keep-first is the aggregation+join form
    keyed by the 128-bit chunk digest, NOT a row_number window (a hot
    boilerplate chunk would send every instance to one window
    reducer; partial aggregation collapses hot keys map-side)."""
    from clickhouse_k_means_spark.operators.dedup import cdc_dedup
    from clickhouse_k_means_spark.plans.audit import audit_plan
    from clickhouse_k_means_spark.sources.dataset import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = cdc_dedup(docs, divisor=8)
    info = audit_plan(out)
    assert not info["has_cartesian"], info
    hash_shuffles = [s for s in info["shuffle_keys"] if "span_hash" in s]
    assert hash_shuffles, info["shuffle_keys"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # keep-first must be HashAggregate (partial+final), never a Window
    assert "Window" not in plan, plan[:2000]


def test_incremental_span_dedup_cross_batch(spark, tmp_path):
    """Rolling-ingest span dedup: batch 2's keepers exclude every span
    batch 1 committed, within-batch keep-first still applies, and only
    genuinely new span hashes are committed per batch."""
    from clickhouse_k_means_spark.operators.dedup import (
        incremental_span_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "spans"))
    b1 = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f")], "doc_id bigint, text string"
    )
    r1, n1 = incremental_span_dedup(b1, store, span_tokens=2)
    got1 = {r["doc_id"]: tuple(r)[1:] for r in r1.collect()}
    assert n1 == 3  # "a b", "c d", "e f"
    assert got1[1] == (2, 2, "a b c d")
    assert got1[2] == (2, 1, "e f")  # "c d" lost to doc 1
    b2 = spark.createDataFrame(
        [(10, "a b x y"), (11, "x y e f")], "doc_id bigint, text string"
    )
    r2, n2 = incremental_span_dedup(b2, store, span_tokens=2)
    got2 = {r["doc_id"]: tuple(r)[1:] for r in r2.collect()}
    assert n2 == 1  # only "x y" is new corpus-wide
    assert got2[10] == (2, 1, "x y")  # "a b" in history
    assert got2[11] == (2, 0, "")     # "x y" lost in-batch, "e f" in history
    # replaying batch 2 commits nothing further
    r3, n3 = incremental_span_dedup(b2, store, span_tokens=2)
    assert n3 == 0
    assert all(r["n_kept"] == 0 for r in r3.collect())


def test_incremental_span_dedup_history_not_shuffled(spark, tmp_path):
    """Scale guard: with broadcast_batch=True the history read carries
    no hashpartitioning exchange — the batch's hash set broadcasts
    into a semi scan (the incremental-exact shape)."""
    from clickhouse_k_means_spark.operators.dedup import (
        incremental_span_dedup,
    )
    from clickhouse_k_means_spark.plans.audit import audit_plan
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "spans"))
    b1 = spark.createDataFrame(
        [(1, "a b c d")], "doc_id bigint, text string"
    )
    incremental_span_dedup(b1, store, span_tokens=2)
    # second batch: capture the history-probe plan via the survivors df
    b2 = spark.createDataFrame(
        [(2, "a b z z")], "doc_id bigint, text string"
    )
    out, _ = incremental_span_dedup(b2, store, span_tokens=2)
    info = audit_plan(out)
    # reassembly shuffles on the doc key / span digest only; nothing
    # repartitions on text_hash (the history side)
    assert not any("text_hash" in s for s in info["shuffle_keys"]), info


_PROBE_CASES = {
    "exact": ("incremental_exact_dedup", {}),
    "near": ("incremental_near_dedup", {}),
    "span": ("incremental_span_dedup", {"span_tokens": 2}),
    "cdc": ("incremental_cdc_dedup", {"divisor": 1}),
}


@pytest.mark.parametrize("verb", list(_PROBE_CASES))
def test_history_probe_scans_history_once_behind_broadcast_batch(
    spark, tmp_path, monkeypatch, verb
):
    """The frame ``_history_matches`` hands each verb (captured from a
    real second-batch call) is one history FileScan joined to the
    broadcast batch, with no hashpartitioning exchange: the history is
    read once and never shuffled. It holds exactly the batch rows
    that hit history."""
    from clickhouse_k_means_spark.operators import dedup
    from clickhouse_k_means_spark.plans.audit import plan_string
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    name, kw = _PROBE_CASES[verb]
    fn = getattr(dedup, name)
    store = SnapshotStateStore(str(tmp_path / verb))
    schema = "doc_id bigint, text string"
    fn(spark.createDataFrame([(1, "a b c d")], schema), store, **kw)
    probes = []
    real = dedup._history_matches

    def spy(*args, **kwargs):
        probes.append(real(*args, **kwargs))
        return probes[-1]

    monkeypatch.setattr(dedup, "_history_matches", spy)
    b2 = spark.createDataFrame([(2, "a b c d"), (3, "p q r s")], schema)
    fn(b2, store, **kw)
    (hits,) = probes
    assert {r["doc_id"] for r in hits.collect()} == {2}
    plan = plan_string(hits).split("== Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "hashpartitioning" not in plan, plan
    lines = plan.splitlines()
    (at,) = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    below = []
    for ln in lines[at + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    # the broadcast side is the checkpointed batch, never the history
    assert any("ExistingRDD" in ln for ln in below), plan
    assert not any("FileScan" in ln for ln in below), plan


def test_incremental_embed_dedup_cross_batch(spark, tmp_path):
    """Rolling-ingest embedding dedup: in-batch dominators (lower key
    within cosine threshold) and committed history both drop a vector;
    replaying a batch commits nothing."""
    from clickhouse_k_means_spark.operators.similarity import (
        incremental_embed_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "emb"))
    b1 = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),   # dominated by 1
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    s1, n1 = incremental_embed_dedup(b1, store, threshold=0.95)
    assert sorted(r["vec_id"] for r in s1.collect()) == [1, 3]
    assert n1 == 2
    b2 = spark.createDataFrame(
        [
            (10, [0.998, 0.02, 0.0, 0.0]),   # ~ committed 1
            (11, [0.0, 0.0, 1.0, 0.0]),      # new direction
            (12, [0.0, 0.001, 0.999, 0.0]),  # dominated by 11 in-batch
        ],
        "vec_id bigint, embedding array<double>",
    )
    s2, n2 = incremental_embed_dedup(b2, store, threshold=0.95)
    assert sorted(r["vec_id"] for r in s2.collect()) == [11]
    assert n2 == 1
    s3, n3 = incremental_embed_dedup(b2, store, threshold=0.95)
    assert n3 == 0 and s3.count() == 0


def test_incremental_embed_dedup_dominator_not_component(spark, tmp_path):
    """Pinned policy: the dominator rule, NOT connected components.
    Star shape — sim(1,3) and sim(2,3) over threshold, sim(1,2) under
    it: components would merge {1,2,3} and keep only vec 1; the
    dominator rule keeps 1 AND 2 (nothing with a lower key is within
    threshold of 2) and drops only 3. Also pins that a dominator drops
    its target regardless of the dominator's own survival."""
    import math

    from clickhouse_k_means_spark.operators.similarity import (
        incremental_embed_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    def v(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    store = SnapshotStateStore(str(tmp_path / "emb"))
    # angles 0, 40, 20 deg: cos(20)=0.9397 >= 0.93, cos(40)=0.766 < 0.93
    df = spark.createDataFrame(
        [(1, v(0)), (2, v(40)), (3, v(20))],
        "vec_id bigint, embedding array<double>",
    )
    # n_tables=16: SRP miss probability for a 20-deg pair ~(0.61)^16,
    # negligible even though the seeds are fixed
    surv, n = incremental_embed_dedup(
        df, store, threshold=0.93, n_tables=16
    )
    assert sorted(r["vec_id"] for r in surv.collect()) == [1, 2]
    assert n == 2
    # domination survives the dominator's own drop: a fresh chain
    # 0/10/20 deg at threshold 0.95 — 2 drops via 1 (cos10=.985), and
    # 3 drops via the ALREADY-DROPPED 2 (cos10), since cos(20) < .95
    store2 = SnapshotStateStore(str(tmp_path / "emb2"))
    chain = spark.createDataFrame(
        [(1, v(0)), (2, v(10)), (3, v(20))],
        "vec_id bigint, embedding array<double>",
    )
    surv2, n2 = incremental_embed_dedup(
        chain, store2, threshold=0.95, n_tables=16
    )
    assert sorted(r["vec_id"] for r in surv2.collect()) == [1]
    assert n2 == 1


def test_incremental_embed_dedup_commit_is_atomic(spark, tmp_path):
    """ADVICE r8: history must land as ONE commit per batch — a single
    table whose snapshot version carries BOTH the band rows and the
    vector payload, so a crash can never tear bands from vecs."""
    from clickhouse_k_means_spark.operators.similarity import (
        incremental_embed_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "emb"))
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    _, n1 = incremental_embed_dedup(b1, store, n_tables=4)
    assert n1 == 2
    # one table, one version — not the old {_bands, _vecs} pair
    assert store.tables() == ["seen_embed"]
    assert store.latest_version("seen_embed") == 1
    snap = store.read(spark, "seen_embed")
    bands = snap.filter(F.col("t").isNotNull())
    vecs = snap.filter(F.col("t").isNull())
    assert bands.count() == 2 * 4  # n_survivors * n_tables
    assert vecs.count() == 2
    # every band row's key has its vector payload IN THE SAME snapshot
    missing = bands.select("k").distinct().join(
        vecs.select("k").distinct(), "k", "left_anti"
    )
    assert missing.count() == 0
    # second batch = exactly one more version
    b2 = spark.createDataFrame(
        [(3, [0.0, 0.0, 1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    incremental_embed_dedup(b2, store, n_tables=4)
    assert store.latest_version("seen_embed") == 2


def test_incremental_embed_dedup_history_not_shuffled(spark, tmp_path):
    """Scale guard: the survivors plan never repartitions on the
    history side — probes go through broadcast joins only."""
    from clickhouse_k_means_spark.operators.similarity import (
        incremental_embed_dedup,
    )
    from clickhouse_k_means_spark.plans.audit import audit_plan
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "emb"))
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    incremental_embed_dedup(b1, store)
    b2 = spark.createDataFrame(
        [(2, [0.0, 1.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    out, _ = incremental_embed_dedup(b2, store)
    info = audit_plan(out)
    assert not info["has_cartesian"], info
    assert info["n_shuffles"] == 0, info["shuffle_keys"]


def test_ivf_index_build_append_query(spark, tmp_path):
    """Persistent IVF index (VERDICT r8 item 5): ONE atomic commit
    carries quantizer + assignments; appends bucket through the
    COMMITTED quantizer without re-fit; version pinning replays the
    exact index a version committed (time travel)."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_append,
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    def ring(i, n=40):
        a = 2 * math.pi * i / n
        return [math.cos(a), math.sin(a), 0.0, 0.0]

    b1 = spark.createDataFrame(
        [(i, ring(i)) for i in range(0, 40, 2)],
        "vec_id bigint, embedding array<double>",
    )
    b2 = spark.createDataFrame(
        [(i, ring(i)) for i in range(1, 40, 2)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "ivf"))
    v1 = ivf_index(b1, store, nlist=4, seed=42)
    assert v1 == 1
    # atomicity: quantizer rows and assignments share version 1
    snap = store.read(spark, "ivf_index", version=1)
    assert snap.filter(F.col("n").isNull()).count() == 4
    assert snap.filter(F.col("n").isNotNull()).count() == 20
    # rebuild without truncate is refused (would orphan assignments)
    with pytest.raises(ValueError, match="already exists"):
        ivf_index(b1, store, nlist=4)
    v2 = ivf_append(b2, store)
    assert v2 == 2
    # appended rows bucket through the SAME quantizer: every appended
    # vector's cell must be one of the 4 committed cells
    cells = {
        r["cell"]
        for r in store.read(spark, "ivf_index")
        .filter(F.col("n").isNotNull()).select("cell").distinct().collect()
    }
    assert cells <= {0, 1, 2, 3}
    # query the full index: a probe vector between ring points must
    # return its true nearest neighbors (exact rerank inside cells)
    q = spark.createDataFrame(
        [(100, ring(10))], "vec_id bigint, embedding array<double>"
    )
    got = ivf_query(q, store, k=3, nprobe=2, query_key="vec_id").collect()
    assert [r["n"] for r in sorted(got, key=lambda r: r["rank"])][0] == 10
    # version pinning: at v1 only even ids exist
    at_v1 = ivf_query(q, store, k=5, nprobe=4, query_key="vec_id",
                      version=1)
    assert at_v1.filter("n % 2 = 1").count() == 0
    # empty-table guards
    store2 = SnapshotStateStore(str(tmp_path / "ivf2"))
    with pytest.raises(FileNotFoundError):
        ivf_query(q, store2)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        ivf_index(empty, store2)
    # the rebuild guard's own remedy must WORK (review, r9): a logical
    # truncate empties the snapshot but exists() stays True forever —
    # ivf_index must accept the truncated table and rebuild
    store.truncate("ivf_index")
    v_re = ivf_index(b2, store, nlist=4, seed=7)
    assert v_re == 4  # v1 build, v2 append, v3 truncate, v4 rebuild
    snap_re = store.read(spark, "ivf_index")
    assert snap_re.filter(F.col("n").isNull()).count() == 4
    assert snap_re.filter(F.col("n").isNotNull()).count() == 20


def test_ivf_key_validation(spark, tmp_path):
    """ADVICE r9: the single-table layout reserves NULL ``n`` for
    quantizer rows, so a key that casts lossily (string) or is NULL
    must fail LOUDLY — a silent NULL would be misread as a centroid
    row and corrupt every later quantizer read."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_append,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "ivfk"))
    str_keyed = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="integral type"):
        ivf_index(str_keyed, store)
    ok = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    ivf_index(ok, store, nlist=2, seed=42)
    with pytest.raises(ValueError, match="integral type"):
        ivf_append(str_keyed, store)
    # integral column that CONTAINS a NULL: raises at execution (the
    # guard rides the value expression so Catalyst can't prune it)
    with_null = spark.createDataFrame(
        [(3, [1.0, 1.0]), (None, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL key"):
        ivf_append(with_null, store)
    # the failed append must not have committed anything
    assert store.latest_version("ivf_index") == 1


def test_ivf_append_retry_is_idempotent(spark, tmp_path):
    """ADVICE r9: re-ingesting a batch (retry without rollback) must
    NOT append duplicate assignment rows — duplicates would occupy
    top-k slots in ivf_query and displace genuine neighbors."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_append,
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "ivfd"))
    base = spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    ivf_index(base, store, nlist=2, seed=42)
    batch = spark.createDataFrame(
        [(10, [10.0, 0.0]), (11, [11.0, 0.0]), (11, [11.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    ivf_append(batch, store)  # within-batch dup key 11 collapses
    ivf_append(batch, store)  # full retry: nothing fresh → no dups
    n_rows = (
        store.read(spark, "ivf_index").filter(F.col("n").isNotNull()).count()
    )
    assert n_rows == 10  # 8 base + vec 10 + vec 11, each exactly once
    q = spark.createDataFrame(
        [(0, [10.5, 0.0])], "vec_id bigint, embedding array<double>"
    )
    got = ivf_query(q, store, k=4, nprobe=2, query_key="vec_id").collect()
    ns = [r["n"] for r in got]
    assert len(ns) == len(set(ns)), f"duplicate neighbors: {ns}"


def test_ivf_stats_and_refit_restore_drifted_index(spark, tmp_path):
    """VERDICT r9 item 4: ``ivf_stats`` makes drift visible (occupancy
    skew), ``ivf_refit`` fixes it — recall restored on a deliberately
    drifted corpus, history still time-travelable."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_append,
        ivf_index,
        ivf_query,
        ivf_refit,
        ivf_stats,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "ivfr"))
    # original corpus: a tight 8x8 grid near [10, 0, *] — the fitted
    # cells differ only by tiny within-grid offsets, so their Voronoi
    # boundaries slice right through any far-away region
    old = spark.createDataFrame(
        [
            (i, [10.0 + (i % 8) * 0.1, (i // 8) * 0.1, 0.0, 0.0])
            for i in range(64)
        ],
        "vec_id bigint, embedding array<double>",
    )
    ivf_index(old, store, nlist=4, seed=42)
    healthy = {
        r["cell"]: r["n_vecs"]
        for r in ivf_stats(spark, store).collect()
    }
    assert len(healthy) == 4 and sum(healthy.values()) == 64
    # drifted ingest: a far cluster near [*, *, 100, 0] whose jitter
    # spans the same dims the old quantizer split on → its points
    # scatter across the old cells' Voronoi slices
    drift = spark.createDataFrame(
        [
            (100 + i, [(i % 8) * 0.12, (i // 8) * 0.12, 100.0, 0.0])
            for i in range(64)
        ],
        "vec_id bigint, embedding array<double>",
    )
    ivf_append(drift, store)
    v_drifted = store.latest_version("ivf_index")

    def recall_at_5(version=None):
        """hits@5 for a drift-region query vs exact cosine top-5."""
        q = spark.createDataFrame(
            [(0, [0.0, 0.0, 100.0, 0.0])],
            "vec_id bigint, embedding array<double>",
        )
        got = {
            r["n"]
            for r in ivf_query(
                q, store, k=5, nprobe=1, query_key="vec_id", version=version
            ).collect()
        }
        return len(got & set(range(100, 164)))

    r_drifted = recall_at_5()
    # refit on the current (mixed) corpus: one atomic replace commit
    v_refit = ivf_refit(spark, store, nlist=4, seed=42)
    assert v_refit == v_drifted + 1
    r_refit = recall_at_5()
    assert r_refit == 5, (r_drifted, r_refit)
    assert r_refit >= r_drifted
    # stats after refit: all 128 vectors still present, one row per
    # cell, occupancy in ppm sums to ~1e6
    st = ivf_stats(spark, store).collect()
    assert sum(r["n_vecs"] for r in st) == 128
    assert abs(sum(r["occupancy_ppm"] for r in st) - 1_000_000) < len(st) + 1
    # time travel: a query pinned BEFORE the refit replays the drifted
    # index exactly (same recall as the pre-refit probe)
    assert recall_at_5(version=v_drifted) == r_drifted
    # and the refit quantizer is genuinely new: the drifted region now
    # owns at least one dedicated cell (its points no longer ride the
    # old grid's cells)
    snap = store.read(spark, "ivf_index")
    drift_cells = {
        r["cell"]
        for r in snap.filter(F.col("n") >= 100).select("cell").distinct().collect()
    }
    old_cells = {
        r["cell"]
        for r in snap.filter((F.col("n") >= 0) & (F.col("n") < 64))
        .select("cell").distinct().collect()
    }
    assert drift_cells.isdisjoint(old_cells), (drift_cells, old_cells)


def test_ivfpq_index_build_append_query_time_travel(spark, tmp_path):
    """Persistent IVF-PQ index (r11 — the FAISS-IVFPQ composition):
    ONE atomic commit carries quantizer + residual codebooks + codes;
    appends encode through the COMMITTED geometry and are
    key-idempotent; queries probe nprobe cells via the masked ADC LUT
    and exact-rerank; version pinning replays all three layers;
    rebuild over a committed index refuses loudly."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivfpq_append,
        ivfpq_index,
        ivfpq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "ivfpq"))
    # two well-separated direction clusters in 4-D: cells split them
    base = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    v1 = ivfpq_index(base, store, nlist=2, m_sub=2, n_codes=4, seed=42)
    snap = store.read(spark, "ivfpq_index")
    assert snap.filter("n is null and sub is null").count() == 2  # cells
    assert snap.filter("n is null and sub is not null").count() == 8
    assert snap.filter("n is not null").count() == 32
    # rebuild refuses
    with pytest.raises(ValueError, match="already exists"):
        ivfpq_index(base, store, nlist=2, m_sub=2, n_codes=4)
    # append through committed geometry; retry adds zero rows
    batch = spark.createDataFrame(
        [(200, [0.0, 0.0, 0.7071, 0.7071]), (200, [0.0, 0.0, 0.7071, 0.7071])],
        "vec_id bigint, embedding array<double>",
    )
    v2 = ivfpq_append(batch, store)
    ivfpq_append(batch, store)
    assert store.read(spark, "ivfpq_index").filter("n is not null").count() == 33
    assert v2 == v1 + 1
    # query: e2-e3-plane query must find e2-e3-plane neighbors only
    # (nprobe=1 of 2 cells -> the masked LUT excludes the other plane)
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.8, 0.6])], "vec_id bigint, embedding array<double>"
    )
    got = ivfpq_query(
        q, store, k=5, nprobe=1, rerank=16, query_key="vec_id"
    ).collect()
    assert len(got) == 5
    assert all(r["n"] >= 100 for r in got), [r["n"] for r in got]
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == [
        1, 2, 3, 4, 5,
    ]
    # exactness of the rerank: top-1 is the true nearest by cosine
    qv = [0.0, 0.0, 0.8, 0.6]
    best = max(
        (r for r in base.collect() if r["vec_id"] >= 100),
        key=lambda r: sum(a * b for a, b in zip(r["embedding"], qv)),
    )["vec_id"]
    top = min(got, key=lambda r: r["rank"])
    assert top["n"] in (best, 200)  # 200 is the appended near-diagonal
    # time travel: pinned BEFORE the append, vec 200 is invisible
    got_v1 = ivfpq_query(
        q, store, k=33, nprobe=2, rerank=64, query_key="vec_id", version=v1
    ).collect()
    assert all(r["n"] != 200 for r in got_v1)
    # empty-query short circuit
    assert (
        ivfpq_query(q.filter("vec_id < 0"), store, query_key="vec_id").count()
        == 0
    )


def test_ivfpq_stats_and_refit_restore_drifted_index(spark, tmp_path):
    """IVF-PQ maintenance (r11): drifted ingest skews BOTH layers —
    cell occupancy (the IVF disease) and residual quantization error
    (the PQ disease). ``ivfpq_stats``/``ivfpq_qerr`` show it, the
    combined advisor fires, one ``ivfpq_refit`` repairs both layers
    atomically; history stays time-travelable."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivfpq_append,
        ivfpq_index,
        ivfpq_qerr,
        ivfpq_query,
        ivfpq_refit,
        ivfpq_refit_due,
        ivfpq_skew_factor,
        ivfpq_stats,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "ivfpqm"))
    old = spark.createDataFrame(
        [
            (
                i,
                [
                    math.cos(i * math.pi / 64),
                    math.sin(i * math.pi / 64),
                    0.0,
                    0.0,
                ],
            )
            for i in range(32)
        ],
        "vec_id bigint, embedding array<double>",
    )
    ivfpq_index(old, store, nlist=4, m_sub=2, n_codes=4, seed=42)
    st0 = ivfpq_stats(spark, store).collect()
    assert len(st0) == 4 and sum(r["n_vecs"] for r in st0) == 32
    qerr0 = ivfpq_qerr(spark, store)
    assert not ivfpq_refit_due(spark, store)
    # drift: a tight far direction in the e2-e3 plane — piles into few
    # cells AND its residuals exceed what the old codebooks represent
    drift = spark.createDataFrame(
        [
            (
                100 + i,
                [
                    0.0,
                    0.0,
                    math.cos(i * math.pi / 256),
                    math.sin(i * math.pi / 256),
                ],
            )
            for i in range(96)
        ],
        "vec_id bigint, embedding array<double>",
    )
    ivfpq_append(drift, store)
    v_drifted = store.latest_version("ivfpq_index")
    skew_b = ivfpq_skew_factor(spark, store)
    qerr_b = ivfpq_qerr(spark, store)
    assert qerr_b > 2 * qerr0, (qerr0, qerr_b)
    assert ivfpq_refit_due(spark, store)

    def drift_recall(version=None):
        q = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0, 0.01])],
            "vec_id bigint, embedding array<double>",
        )
        got = {
            r["n"]
            for r in ivfpq_query(
                q, store, k=5, nprobe=1, rerank=16, query_key="vec_id",
                version=version,
            ).collect()
        }
        return len(got & set(range(100, 196)))

    r_drifted = drift_recall()
    v_refit = ivfpq_refit(spark, store, seed=42)  # inherits 4/2/4
    assert v_refit == v_drifted + 1
    skew_a = ivfpq_skew_factor(spark, store)
    qerr_a = ivfpq_qerr(spark, store)
    assert qerr_a < qerr_b, (qerr_b, qerr_a)
    assert skew_a < skew_b, (skew_b, skew_a)
    assert drift_recall() == 5 >= r_drifted
    snap = store.read(spark, "ivfpq_index")
    assert snap.filter("n is null and sub is null").count() == 4
    assert snap.filter("n is null and sub is not null").count() == 8
    assert snap.filter("n is not null").count() == 128
    # time travel: pinned stats + query replay the drifted index
    assert ivfpq_skew_factor(spark, store, version=v_drifted) == skew_b
    assert drift_recall(version=v_drifted) == r_drifted


def test_pq_stats_and_refit_restore_drifted_codebooks(spark, tmp_path):
    """VERDICT r10 item 4: ``pq_stats`` makes codebook drift visible
    (stored-code quantization error), ``pq_refit_due`` advises, and
    ``pq_refit`` repairs — ADC error restored on a deliberately
    drifted corpus, history still time-travelable."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        pq_append,
        pq_index,
        pq_qerr,
        pq_query,
        pq_refit,
        pq_refit_due,
        pq_stats,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "pqd"))
    # original corpus: unit directions spread over the e0-e1 plane —
    # the version-1 codebooks represent that plane well and see only
    # zeros in the e2-e3 subspace
    old = spark.createDataFrame(
        [
            (
                i,
                [
                    math.cos(i * math.pi / 64),
                    math.sin(i * math.pi / 64),
                    0.0,
                    0.0,
                ],
            )
            for i in range(32)
        ],
        "vec_id bigint, embedding array<double>",
    )
    pq_index(old, store, m_sub=2, n_codes=4, seed=42)
    st0 = pq_stats(spark, store).collect()
    assert [r["sub"] for r in sorted(st0, key=lambda r: r["sub"])] == [0, 1]
    assert all(r["n_sample"] == 32 for r in st0)
    qerr0 = pq_qerr(spark, store)
    assert not pq_refit_due(spark, store)  # healthy: refit buys ~1.0x
    # drifted ingest: unit directions in the e2-e3 plane — every code
    # row lands on the ~zero code in subspace 1, so the stored-code
    # quantization error spikes (the silent-ADC-decay scenario)
    drift = spark.createDataFrame(
        [
            (
                100 + i,
                [
                    0.0,
                    0.0,
                    math.cos(i * math.pi / 64),
                    math.sin(i * math.pi / 64),
                ],
            )
            for i in range(32)
        ],
        "vec_id bigint, embedding array<double>",
    )
    pq_append(drift, store)
    v_drifted = store.latest_version("pq_index")
    st_drift = sorted(
        pq_stats(spark, store).collect(), key=lambda r: r["sub"]
    )
    qerr1 = pq_qerr(spark, store)
    assert qerr1 > 2 * qerr0, (qerr0, qerr1)
    assert pq_refit_due(spark, store)

    def drift_recall(version=None):
        """hits@3 for a drift-region query vs exact cosine top-3,
        rerank bounded so ADC quality (not the exact rerank) decides
        the shortlist."""
        q = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0, 0.1])],
            "vec_id bigint, embedding array<double>",
        )
        got = {
            r["n"]
            for r in pq_query(
                q, store, k=3, rerank=16, query_key="vec_id",
                version=version,
            ).collect()
        }
        qv = [0.0, 0.0, 1.0, 0.1]
        nrm = math.sqrt(sum(x * x for x in qv))
        exact = sorted(
            (
                (
                    -sum(a * b for a, b in zip(r["embedding"], qv)) / nrm,
                    r["vec_id"],
                )
                for r in drift.collect()
            ),
        )[:3]
        return len(got & {v for _, v in exact})

    r_drifted = drift_recall()
    # refit inherits the committed geometry (m_sub=2, n_codes=4):
    # one atomic replace commit, history preserved
    v_refit = pq_refit(spark, store, seed=42)
    assert v_refit == v_drifted + 1
    qerr2 = pq_qerr(spark, store)
    assert qerr2 < qerr1, (qerr1, qerr2)
    assert drift_recall() == 3 >= r_drifted
    books = (
        store.read(spark, "pq_index")
        .filter(F.col("n").isNull())
        .select("sub", "code")
        .collect()
    )
    assert {r["sub"] for r in books} == {0, 1}  # inherited m_sub
    assert len(books) == 8  # inherited n_codes=4 per subspace
    # time travel: stats pinned BEFORE the refit replay the drifted
    # error bit-for-bit, and a pinned query replays the old index
    st_pinned = sorted(
        pq_stats(spark, store, version=v_drifted).collect(),
        key=lambda r: r["sub"],
    )
    assert [r["qerr_e9"] for r in st_pinned] == [
        r["qerr_e9"] for r in st_drift
    ]
    assert drift_recall(version=v_drifted) == r_drifted
    # explicit resize still works
    pq_refit(spark, store, n_codes=2, seed=42)
    resized = (
        store.read(spark, "pq_index").filter(F.col("n").isNull()).count()
    )
    assert resized == 4  # 2 subspaces x 2 codes


def test_incremental_embed_dedup_refuses_legacy_two_table_state(
    spark, tmp_path
):
    """Migration guard (review, r9): a state dir written by the
    pre-atomic two-table layout must fail loudly — silently starting a
    fresh history would re-admit every previously-ingested
    near-duplicate."""
    from clickhouse_k_means_spark.operators.similarity import (
        incremental_embed_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "emb"))
    # simulate the legacy layout
    store.append(
        spark.createDataFrame([(1, 0, 3)], "k bigint, t int, bucket bigint"),
        "seen_embed_bands",
    )
    batch = spark.createDataFrame(
        [(2, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="legacy two-table layout"):
        incremental_embed_dedup(batch, store)


def test_incremental_cdc_dedup_cross_batch_any_alignment(spark, tmp_path):
    """Rolling-ingest CDC dedup: a batch-2 document embedding already-
    committed content at a DIFFERENT token offset still loses those
    chunks (alignment-independence across the history boundary — the
    property incremental_span_dedup lacks); replay commits nothing."""
    from clickhouse_k_means_spark.operators.dedup import (
        incremental_cdc_dedup,
        incremental_span_dedup,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    run = (
        "quantum widgets orbit seven green towers under crimson skies "
        "while nine silver foxes jump over lazy dogs near ancient "
        "stone bridges beyond seven rivers"
    )
    b1 = spark.createDataFrame(
        [(1, "prefix alpha " + run)], "doc_id bigint, text string"
    )
    b2 = spark.createDataFrame(
        [(2, "a very different and longer preamble " + run)],
        "doc_id bigint, text string",
    )
    store = SnapshotStateStore(str(tmp_path / "cdc"))
    s1, n1 = incremental_cdc_dedup(b1, store, divisor=4)
    r1 = s1.collect()[0]
    assert r1["n_kept"] == r1["n_chunks"] and n1 == r1["n_chunks"]
    s2, n2 = incremental_cdc_dedup(b2, store, divisor=4)
    r2 = s2.collect()[0]
    # the misaligned embedded run's interior chunks hit history
    assert r2["n_kept"] < r2["n_chunks"], r2
    assert r2["dedup_text"].startswith("a very different")
    # replay: everything now committed
    s3, n3 = incremental_cdc_dedup(b2, store, divisor=4)
    assert n3 == 0 and s3.collect()[0]["n_kept"] == 0
    # contrast: the SPAN form misses the same misaligned duplicate
    store2 = SnapshotStateStore(str(tmp_path / "span"))
    incremental_span_dedup(b1, store2, span_tokens=10)
    sp2, _ = incremental_span_dedup(b2, store2, span_tokens=10)
    rp2 = sp2.collect()[0]
    assert rp2["n_kept"] == rp2["n_spans"]  # all kept = dup missed


def test_pipeline_cli_cdc_modes(tmp_path, capsys, spark):
    """dedup --mode cdc rewrites text; ingest --mode cdc commits chunk
    hashes and drops cross-batch misaligned duplicates."""
    from clickhouse_k_means_spark.pipeline import main as pmain

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    src = str(tmp_path / "d1")
    spark.createDataFrame(
        [(1, "one two " + run), (2, "three four five " + run)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "kept")
    rc = pmain(["dedup", "--input", src, "--out", out, "--mode", "cdc",
                "--divisor", "4"])
    assert rc == 0
    back = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(back[1].asDict()) == {"doc_id", "n_chunks", "n_kept",
                                     "dedup_text"}
    assert back[2]["n_kept"] < back[2]["n_chunks"]
    capsys.readouterr()

    state = str(tmp_path / "state")
    out1 = str(tmp_path / "i1")
    rc = pmain(["ingest", "--input", src, "--out", out1, "--mode", "cdc",
                "--state", state, "--divisor", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["committed"] > 0


def test_knn_join_partitioned_adaptive_depth_bounds_dense_cells(spark):
    """The occupancy-adaptive mask is the r9 scale claim: on a corpus
    with one DENSE cluster and sparse outliers, per-cell depths must
    differ (dense cell deeper) and the adaptive candidate count must
    be at most the fixed-shallow-depth count — cell skew cannot turn
    candidate generation quadratic."""
    import math

    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.functions.vector import (
        nearest_cells_batch,
        numpy_kmeans,
        srp_buckets_batch,
    )
    from clickhouse_k_means_spark.operators.similarity import (
        srp_hyperplanes,
    )
    import numpy as np

    rng = np.random.RandomState(7)
    dense = rng.standard_normal((4000, 8)) * 0.05 + np.array([5.0] * 8)
    sparse = rng.standard_normal((40, 8)) * 0.05 - np.array([5.0] * 8)
    vecs = np.vstack([dense, sparse])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    centers = numpy_kmeans(vecs, k=2, seed=1, n_iter=10)
    cellp = nearest_cells_batch([list(map(float, c)) for c in centers])
    tables = [srp_hyperplanes(8, n_bits=16, seed=42)]
    buckets = srp_buckets_batch(tables)
    coded = df.select(
        F.col("vec_id").alias("kk"),
        cellp(F.col("embedding"))[0].alias("cell"),
        buckets(F.col("embedding"))[0].alias("code"),
    ).cache()
    counts = {r["cell"]: r["count"]
              for r in coded.groupBy("cell").count().collect()}
    per_bucket = 32
    bits = {
        c: min(16, max(4, math.ceil(math.log2(max(n, 2) / per_bucket))))
        for c, n in counts.items()
    }
    # dense cell (400 pts) must get a deeper code than sparse (40)
    dense_cell = max(counts, key=counts.get)
    sparse_cell = min(counts, key=counts.get)
    assert bits[dense_cell] > bits[sparse_cell], (counts, bits)

    def pair_count(depth_by_cell):
        b = coded.withColumn(
            "bucket",
            F.col("code").bitwiseAND(
                F.when(
                    F.col("cell") == dense_cell,
                    F.lit((1 << depth_by_cell[dense_cell]) - 1),
                ).otherwise(F.lit((1 << depth_by_cell[sparse_cell]) - 1))
            ),
        )
        row = (
            b.groupBy("cell", "bucket").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1)))
            .collect()[0][0]
        )
        return int(row or 0)

    adaptive = pair_count(bits)
    fixed_shallow = pair_count({dense_cell: 4, sparse_cell: 4})
    assert adaptive <= fixed_shallow, (adaptive, fixed_shallow)
    # and the dense cell's occupancy is actually bounded: expected
    # <= ~2x per_bucket per bucket on average
    avg_dense = counts[dense_cell] / (1 << bits[dense_cell])
    assert avg_dense <= 2 * per_bucket, avg_dense
    coded.unpersist()


def test_training_order_exact_permutation_and_plan(spark):
    """Seeded global shuffle: position is the exact rank of the
    portable key hash (pure function of key+seed — repartition- and
    rerun-invariant), shards are round-robin, and the plan is the
    two-phase distributed rank: no SinglePartition window funnel, no
    cartesian."""
    from clickhouse_k_means_spark.functions.hashing import hash64
    from clickhouse_k_means_spark.operators.packing import training_order
    from clickhouse_k_means_spark.plans.audit import audit_plan

    df = spark.createDataFrame(
        [(i,) for i in range(97)], "doc_id bigint"
    )
    out = training_order(df, key="doc_id", seed=11, n_shards=3)
    rows = out.collect()
    assert sorted(r["position"] for r in rows) == list(range(97))
    assert all(r["shard"] == r["position"] % 3 for r in rows)
    # exact rank of the md5 hash64, ties impossible for distinct keys
    hs = {
        r["doc_id"]: r["h"]
        for r in df.withColumn(
            "h", hash64(F.col("doc_id").cast("string"), salt=11)
        ).collect()
    }
    exact = {d: i for i, d in enumerate(sorted(hs, key=lambda d: (hs[d], d)))}
    assert {r["doc_id"]: r["position"] for r in rows} == exact
    # repartition-invariant
    again = {
        r["doc_id"]: r["position"]
        for r in training_order(
            df.repartition(13), key="doc_id", seed=11
        ).collect()
    }
    assert again == exact
    # different seed -> different permutation (epochs)
    other = {
        r["doc_id"]: r["position"]
        for r in training_order(df, key="doc_id", seed=12).collect()
    }
    assert other != exact
    info = audit_plan(training_order(df, key="doc_id", seed=11))
    assert not info["has_cartesian"], info
    assert not info["single_partition"], info
    # ADVICE r9: the enumeration lineage (pre-checkpoint) must carry
    # exactly ONE exchange — the range sort. The old
    # Window.partitionBy(spark_partition_id()) form hid a SECOND
    # full-data hash exchange (+ re-sort) behind the checkpoint,
    # doubling shuffled bytes against the docstring's claim.
    from clickhouse_k_means_spark.operators.packing import _enumerated

    lineage = audit_plan(_enumerated(df, "doc_id", 11))
    assert lineage["n_shuffles"] == 1, lineage["shuffle_keys"]
    assert "rangepartitioning" in lineage["shuffle_keys"][0], lineage
    with pytest.raises(ValueError, match="n_shards"):
        training_order(df, n_shards=0)


def test_quantizer_sample_scales_with_cell_count():
    """The quantizer sample follows the cell count (8/centroid floor,
    2048 minimum) so auto-derived large n_cells is resolvable by the
    driver fit — every committed gate uses k <= 64, whose sample stays
    the historical 2048 (replayability unchanged)."""
    from clickhouse_k_means_spark.functions.vector import quantizer_sample_n

    assert quantizer_sample_n(8) == 2048
    assert quantizer_sample_n(64) == 2048
    assert quantizer_sample_n(256) == 2048
    assert quantizer_sample_n(257) == 2056
    assert quantizer_sample_n(1024) == 8192


def test_streaming_ivf_ingest_exactly_once_and_bootstrap(spark, tmp_path):
    """streaming/ann_stream.StreamingIvfIngest: one atomic index
    version per micro-batch; a FULL replay (fresh checkpoint — the
    at-least-once worst case) adds zero rows because ivf_append is
    key-idempotent; an index with no committed quantizer fails the
    stream loudly (bootstrap contract)."""
    import pyspark.sql.utils  # noqa: F401

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingIvfIngest,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 17, 2)],
        "vec_id bigint, embedding array<double>",
    )
    ivf_index(seed, store, nlist=4, seed=42)
    # two source files -> two micro-batches (maxFilesPerTrigger=1)
    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(2, 10, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10, 18, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "b"))

    def attach(ckpt):
        ing = StreamingIvfIngest(store)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = ing.attach(stream, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()
        return ing

    ing = attach("ckpt1")
    assert ing.n_batches == 2 and len(ing.versions) == 2
    snap = store.read(spark, "ivf_index")
    assigned = snap.filter(F.col("n").isNotNull())
    assert assigned.count() == 16  # 8 seed + 8 streamed, exactly once
    assert assigned.select("n").distinct().count() == 16
    # full replay with a fresh checkpoint: key-idempotent, zero added
    attach("ckpt2")
    assert (
        store.read(spark, "ivf_index").filter(F.col("n").isNotNull()).count()
        == 16
    )
    # streamed vectors are queryable
    q = spark.createDataFrame(
        [(0, [10.2, 1.0])], "vec_id bigint, embedding array<double>"
    )
    got = ivf_query(q, store, k=1, nprobe=2, query_key="vec_id").collect()
    assert got[0]["n"] == 10
    # bootstrap contract: no committed quantizer -> loud stream failure
    empty_store = SnapshotStateStore(str(tmp_path / "empty"))
    ing2 = StreamingIvfIngest(empty_store)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .parquet(f"{src}/*")
    )
    q2 = ing2.attach(stream, checkpoint=str(tmp_path / "ckpt3"))
    with pytest.raises(Exception, match="quantizer|Foreach|STREAM"):
        q2.awaitTermination()


def test_streaming_pq_ingest_exactly_once_and_bootstrap(spark, tmp_path):
    """streaming/ann_stream.StreamingPqIngest (r11 — the PQ twin):
    one atomic code-row version per micro-batch; a FULL replay adds
    zero rows (pq_append shares the key-idempotence probe); a table
    with no committed codebooks fails the stream loudly."""
    from clickhouse_k_means_spark.operators.ann_index import (
        pq_index,
        pq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingPqIngest,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(1, 17, 2)],
        "vec_id bigint, embedding array<double>",
    )
    pq_index(seed, store, m_sub=2, n_codes=4, seed=42)
    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(2, 10, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(10, 18, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "b"))

    def attach(ckpt):
        ing = StreamingPqIngest(store)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = ing.attach(stream, checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()
        return ing

    ing = attach("ckpt1")
    assert ing.n_batches == 2 and len(ing.versions) == 2
    coded = store.read(spark, "pq_index").filter(F.col("n").isNotNull())
    assert coded.count() == 16  # 8 seed + 8 streamed, exactly once
    assert coded.select("n").distinct().count() == 16
    attach("ckpt2")  # full replay, fresh checkpoint: zero added
    assert (
        store.read(spark, "pq_index").filter(F.col("n").isNotNull()).count()
        == 16
    )
    # streamed vectors are queryable (exact rerank recovers vec 10)
    q = spark.createDataFrame(
        [(0, [10.2, 1.0, 0.5, 0.0])], "vec_id bigint, embedding array<double>"
    )
    got = pq_query(q, store, k=1, rerank=16, query_key="vec_id").collect()
    assert got[0]["n"] == 10
    # bootstrap contract: no committed codebooks -> loud failure
    empty_store = SnapshotStateStore(str(tmp_path / "empty"))
    ing2 = StreamingPqIngest(empty_store)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .parquet(f"{src}/*")
    )
    q2 = ing2.attach(stream, checkpoint=str(tmp_path / "ckpt3"))
    with pytest.raises(Exception, match="codebooks|Foreach|STREAM"):
        q2.awaitTermination()


def test_pq_index_build_append_query_time_travel(spark, tmp_path):
    """Persistent PQ index (r10 — the memory-side sibling of
    ivf_index): ONE atomic commit carries codebooks + codes; appends
    encode through the COMMITTED codebooks and are key-idempotent;
    queries ADC the committed code column and exact-rerank; version
    pinning replays old codebooks AND old codes."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        pq_append,
        pq_index,
        pq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    def ring(i, n=40):
        a = 2 * math.pi * i / n
        return [math.cos(a), math.sin(a), 0.0, 0.0]

    b1 = spark.createDataFrame(
        [(i, ring(i)) for i in range(0, 40, 2)],
        "vec_id bigint, embedding array<double>",
    )
    b2 = spark.createDataFrame(
        [(i, ring(i)) for i in range(1, 40, 2)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "pq"))
    v1 = pq_index(b1, store, m_sub=2, n_codes=8, seed=42)
    assert v1 == 1
    snap = store.read(spark, "pq_index", version=1)
    assert snap.filter(F.col("n").isNull()).count() == 16  # 2 subs x 8
    assert snap.filter(F.col("n").isNotNull()).count() == 20
    with pytest.raises(ValueError, match="already exists"):
        pq_index(b1, store, m_sub=2, n_codes=8)
    pq_append(b2, store)
    pq_append(b2, store)  # retry: key-idempotent, zero added
    assert (
        store.read(spark, "pq_index").filter(F.col("n").isNotNull()).count()
        == 40
    )
    # dim indivisible by m_sub fails loudly
    with pytest.raises(ValueError, match="not divisible"):
        pq_index(b1, SnapshotStateStore(str(tmp_path / "pq2")), m_sub=3)
    # string key fails loudly (the ivf ADVICE-r9 guard, shared)
    bad = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="integral type"):
        pq_append(bad, store)
    # query: probe between ring points -> true nearest first (exact
    # rerank over the ADC shortlist)
    q = spark.createDataFrame(
        [(100, ring(10))], "vec_id bigint, embedding array<double>"
    )
    got = pq_query(q, store, k=3, query_key="vec_id").collect()
    assert [r["n"] for r in sorted(got, key=lambda r: r["rank"])][0] == 10
    # time travel: at v1 only even ids exist
    at_v1 = pq_query(q, store, k=5, query_key="vec_id", version=1)
    assert at_v1.filter("n % 2 = 1").count() == 0
    # empty query batch -> typed empty frame
    empty_q = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    assert pq_query(empty_q, store, query_key="vec_id").count() == 0


def test_ivf_refit_due_advisor(spark, tmp_path):
    """ivf_refit_due closes the maintenance loop mechanically: balanced
    index -> False; after the drift pile-up -> True; after refit ->
    False again (the if-due-then-refit scheduled-job form)."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_append,
        ivf_index,
        ivf_refit,
        ivf_refit_due,
        ivf_skew_factor,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "adv"))
    grid = spark.createDataFrame(
        [(i, [10.0 + (i % 8) * 0.1, (i // 8) * 0.1]) for i in range(64)],
        "vec_id bigint, embedding array<double>",
    )
    ivf_index(grid, store, nlist=4, seed=42)
    assert not ivf_refit_due(spark, store, threshold=4.0)
    # drifted pile-up: 3x the corpus lands far away (few cells)
    drift = spark.createDataFrame(
        [(100 + i, [0.0, 100.0 + (i % 3) * 0.01]) for i in range(192)],
        "vec_id bigint, embedding array<double>",
    )
    ivf_append(drift, store)
    skew_drifted = ivf_skew_factor(spark, store)
    assert skew_drifted > 2.0, skew_drifted
    assert ivf_refit_due(spark, store, threshold=2.0)
    ivf_refit(spark, store, nlist=4, seed=42)
    assert ivf_skew_factor(spark, store) < skew_drifted
    with pytest.raises(ValueError, match="threshold"):
        ivf_refit_due(spark, store, threshold=1.0)


def test_refit_refuses_to_shrink_committed_geometry(spark, tmp_path):
    """ADVICE r11: when the corpus sample is smaller than the
    inherited (or explicitly requested) geometry, every refit RAISES
    instead of silently committing fewer codes/cells — the
    no-silent-resize rule the builders already follow."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_refit,
        ivfpq_index,
        ivfpq_refit,
        pq_index,
        pq_refit,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * i, 1.0])
            for i in range(8)
        ],
        "vec_id bigint, embedding array<double>",
    )
    pq_store = SnapshotStateStore(str(tmp_path / "pq"))
    pq_index(vecs, pq_store, m_sub=2, n_codes=4, seed=42)
    with pytest.raises(ValueError, match="smaller than the inherited"):
        pq_refit(spark, pq_store, n_codes=64)
    ivf_store = SnapshotStateStore(str(tmp_path / "ivf"))
    ivf_index(vecs, ivf_store, nlist=2, seed=42)
    with pytest.raises(ValueError, match="smaller than the inherited"):
        ivf_refit(spark, ivf_store, nlist=64)
    ivfpq_store = SnapshotStateStore(str(tmp_path / "ivfpq"))
    ivfpq_index(vecs, ivfpq_store, nlist=2, m_sub=2, n_codes=4, seed=42)
    with pytest.raises(ValueError, match="smaller than the inherited"):
        ivfpq_refit(spark, ivfpq_store, n_codes=64)


def test_ivfpq_adc_lut_is_compact_over_probed_union(spark):
    """ADVICE r11 (medium): the ADC LUT is built over the UNION of
    probed cells only — (Q, P, m, n_codes), P = |union| — not all
    nlist cells; cells outside the union score +inf for every query,
    probed (q, cell) pairs match the exact folded-residual distance,
    and masked pairs inside the union are +inf per query."""
    import numpy as np
    import pandas as pd

    from clickhouse_k_means_spark.functions.vector import (
        ivfpq_adc_lut,
        ivfpq_adc_scores,
    )

    rng = np.random.RandomState(7)
    nlist, m_sub, n_codes, dsub = 16, 2, 4, 2
    centroids = rng.randn(nlist, m_sub * dsub)
    books = [rng.randn(n_codes, dsub) for _ in range(m_sub)]
    q_mat = rng.randn(3, m_sub * dsub)
    # queries probe cells {1, 5}, {5, 9}, {1, 9} -> union {1, 5, 9}
    mask = np.zeros((3, nlist), dtype=bool)
    mask[0, [1, 5]] = mask[1, [5, 9]] = mask[2, [1, 9]] = True
    lut, cell_to_idx = ivfpq_adc_lut(centroids, books, q_mat, probe_mask=mask)
    # the LUT's cell axis must span exactly the 3-cell union
    assert lut.shape == (3, 3, m_sub, n_codes), lut.shape
    # score through the kernel the search's Arrow pass runs:
    # rows in cells 1 (probed by q0/q2), 5, 9, and 2 (outside union)
    cells = pd.Series([1, 5, 9, 2])
    codes = pd.Series([[0, 1], [2, 3], [1, 0], [3, 2]])
    out = ivfpq_adc_scores(
        lut, cell_to_idx, cells.to_numpy(), np.array(codes.tolist())
    ).T  # (4 rows, 3 queries)
    assert out.shape == (4, 3)
    # outside-union row: +inf for every query
    assert np.isinf(out[3]).all()
    # masked-inside-union: q1 never probes cell 1 -> inf; q0 does
    assert np.isinf(out[0][1]) and np.isfinite(out[0][0])
    # probed pairs equal the exact folded-residual distance
    for row, (cell, cds) in enumerate(zip(cells, codes)):
        for qi in range(3):
            if not mask[qi, cell]:
                continue
            want = 0.0
            for s in range(m_sub):
                recon = (
                    centroids[cell, s * dsub : (s + 1) * dsub]
                    + books[s][cds[s]]
                )
                d = q_mat[qi, s * dsub : (s + 1) * dsub] - recon
                want += float((d * d).sum())
            assert abs(out[row][qi] - want) < 1e-9, (row, qi)


def test_streaming_ivfpq_ingest_exactly_once_and_bootstrap(spark, tmp_path):
    """streaming/ann_stream.StreamingIvfPqIngest (r12 — VERDICT r11
    item 5, the composed-index twin): one atomic code-row version per
    micro-batch, queryable between batches; a FULL replay adds zero
    rows (ivfpq_append shares the key-idempotence probe); a table with
    no committed geometry fails the stream loudly; the per-kind query
    name distinguishes it from the IVF/PQ ingests."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivfpq_index,
        ivfpq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingIvfPqIngest,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(1, 17, 2)],
        "vec_id bigint, embedding array<double>",
    )
    ivfpq_index(seed, store, nlist=2, m_sub=2, n_codes=4, seed=42)
    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(2, 10, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(10, 18, 2)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "b"))

    def attach(ckpt):
        ing = StreamingIvfPqIngest(store)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = ing.attach(stream, checkpoint=str(tmp_path / ckpt))
        assert q.name == "streaming_ivfpq_ingest"
        q.awaitTermination()
        return ing

    ing = attach("ckpt1")
    assert ing.n_batches == 2 and len(ing.versions) == 2
    coded = store.read(spark, "ivfpq_index").filter(F.col("n").isNotNull())
    assert coded.count() == 16  # 8 seed + 8 streamed, exactly once
    assert coded.select("n").distinct().count() == 16
    attach("ckpt2")  # full replay, fresh checkpoint: zero added
    assert (
        store.read(spark, "ivfpq_index")
        .filter(F.col("n").isNotNull())
        .count()
        == 16
    )
    # streamed vectors are queryable (exact rerank recovers vec 10)
    q = spark.createDataFrame(
        [(0, [10.2, 1.0, 0.5, 0.0])], "vec_id bigint, embedding array<double>"
    )
    got = ivfpq_query(
        q, store, k=1, nprobe=2, rerank=16, query_key="vec_id"
    ).collect()
    assert got[0]["n"] == 10
    # bootstrap contract: no committed geometry -> loud failure
    empty_store = SnapshotStateStore(str(tmp_path / "empty"))
    ing2 = StreamingIvfPqIngest(empty_store)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .parquet(f"{src}/*")
    )
    q2 = ing2.attach(stream, checkpoint=str(tmp_path / "ckpt3"))
    with pytest.raises(Exception, match="quantizer|codebooks|Foreach|STREAM"):
        q2.awaitTermination()


def test_ann_delete_uniform_across_index_family(spark, tmp_path):
    """Key-level delete (r12 — VERDICT r11 item 6): ann_delete removes
    the named code rows from ivf/pq/ivfpq indexes uniformly as ONE
    filtered replace-commit — deleted keys vanish from queries at the
    new version, remain at the pinned pre-delete version (time travel
    preserved), geometry rows are untouched, and deleting absent keys
    (or a double-delete) commits nothing: zero version churn."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ann_delete,
        ivf_index,
        ivf_query,
        ivfpq_index,
        ivfpq_query,
        pq_index,
        pq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.3), math.sin(i * 0.3), 1.0, 0.5])
            for i in range(32)
        ],
        "vec_id bigint, embedding array<double>",
    )
    q = vecs.filter("vec_id = 3")

    def check(build, query, store, table, **qkw):
        build()
        v1 = store.latest_version(table)
        geom_before = (
            store.read(spark, table).filter(F.col("n").isNull()).count()
        )
        # vec 3 is its own nearest neighbor before the delete
        assert (
            query(version=None, **qkw).filter("rank = 1").collect()[0]["n"]
            == 3
        )
        v2 = ann_delete(spark, [3, 4, 9999], store, table=table)
        assert v2 == v1 + 1
        got = {r["n"] for r in query(version=None, **qkw).collect()}
        assert 3 not in got and 4 not in got and got
        # pinned pre-delete version still sees the deleted keys
        assert (
            query(version=v1, **qkw).filter("rank = 1").collect()[0]["n"]
            == 3
        )
        # geometry untouched by the delete
        assert (
            store.read(spark, table).filter(F.col("n").isNull()).count()
            == geom_before
        )
        # double-delete / absent keys / empty list: no version churn
        assert ann_delete(spark, [3, 4], store, table=table) == v2
        assert ann_delete(spark, [], store, table=table) == v2
        # DataFrame-shaped delete set (the takedown-feed form)
        v3 = ann_delete(
            spark, vecs.filter("vec_id = 5"), store, table=table
        )
        assert v3 == v2 + 1
        assert 5 not in {r["n"] for r in query(version=None, **qkw).collect()}
        assert store.latest_version(table) == v3

    ivf_store = SnapshotStateStore(str(tmp_path / "ivf"))
    check(
        lambda: ivf_index(vecs, ivf_store, nlist=2, seed=42),
        lambda version, **kw: ivf_query(
            q, ivf_store, k=8, nprobe=2, query_key="vec_id",
            version=version,
        ),
        ivf_store,
        "ivf_index",
    )
    pq_store = SnapshotStateStore(str(tmp_path / "pq"))
    check(
        lambda: pq_index(vecs, pq_store, m_sub=2, n_codes=8, seed=42),
        lambda version, **kw: pq_query(
            q, pq_store, k=8, rerank=32, query_key="vec_id",
            version=version,
        ),
        pq_store,
        "pq_index",
    )
    ivfpq_store = SnapshotStateStore(str(tmp_path / "ivfpq"))
    check(
        lambda: ivfpq_index(
            vecs, ivfpq_store, nlist=2, m_sub=2, n_codes=8, seed=42
        ),
        lambda version, **kw: ivfpq_query(
            q, ivfpq_store, k=8, nprobe=2, rerank=32, query_key="vec_id",
            version=version,
        ),
        ivfpq_store,
        "ivfpq_index",
    )
    # missing table fails loudly
    with pytest.raises(ValueError, match="does not exist"):
        ann_delete(spark, [1], ivf_store, table="nope")
    # keys DataFrame without the key column fails loudly
    # r13: the missing-column failure now comes from the family's
    # shared _require_integral_key (uniform wording across
    # index/append/upsert/delete)
    with pytest.raises(ValueError, match="no column"):
        ann_delete(
            spark, vecs.select("embedding"), ivf_store, table="ivf_index"
        )


def test_ann_upsert_updates_in_place_across_index_family(spark, tmp_path):
    """Atomic update-or-insert (r12): the appends are key-idempotent —
    an UPDATED vector for a committed key is silently skipped — so
    ann_upsert is the update path: one replace-commit drops the key's
    old code rows and lands the re-encode, for all three families
    (layout-detected). Pinned pre-upsert versions keep the old
    payload; geometry is untouched; an empty batch commits nothing."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ann_upsert,
        ivf_index,
        ivf_query,
        ivfpq_index,
        ivfpq_query,
        pq_index,
        pq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    # two well-separated direction clusters; key 3 starts in cluster A
    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    # the update moves key 3 to cluster B and inserts brand-new key 500
    batch = spark.createDataFrame(
        [
            (3, [0.0, 0.0, 0.6, 0.8]),
            (500, [0.0, 0.0, 0.8, 0.6]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    probe_b = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.7, 0.7])], "vec_id bigint, embedding array<double>"
    )

    def check(build, query, store, table, **qkw):
        build()
        v1 = store.latest_version(table)
        geom_before = (
            store.read(spark, table).filter(F.col("n").isNull()).count()
        )
        n_before = (
            store.read(spark, table).filter(F.col("n").isNotNull()).count()
        )
        v2 = ann_upsert(batch, store, table=table)
        assert v2 == v1 + 1
        snap = store.read(spark, table).filter(F.col("n").isNotNull())
        # exactly one NEW key: 3 was replaced in place, 500 inserted
        assert snap.count() == n_before + 1
        assert snap.filter("n = 3").count() == 1
        # geometry untouched
        assert (
            store.read(spark, table).filter(F.col("n").isNull()).count()
            == geom_before
        )
        # the moved key now answers cluster-B probes ahead of most of
        # cluster A: both upserted keys rank in the B-probe's top-k
        got = {r["n"] for r in query(version=None, **qkw).collect()}
        assert 3 in got and 500 in got, got
        # pinned pre-upsert version: key 3 still carries the OLD
        # cluster-A payload (absent from B-probe top-k), 500 absent
        got_v1 = {r["n"] for r in query(version=v1, **qkw).collect()}
        assert 3 not in got_v1 and 500 not in got_v1, got_v1
        # empty batch: no version churn
        assert (
            ann_upsert(batch.filter("vec_id < 0"), store, table=table) == v2
        )

    ivf_store = SnapshotStateStore(str(tmp_path / "ivf"))
    check(
        lambda: ivf_index(vecs, ivf_store, nlist=2, seed=42),
        lambda version, **kw: ivf_query(
            probe_b, ivf_store, k=10, nprobe=1, query_key="vec_id",
            version=version,
        ),
        ivf_store,
        "ivf_index",
    )
    pq_store = SnapshotStateStore(str(tmp_path / "pq"))
    check(
        lambda: pq_index(vecs, pq_store, m_sub=2, n_codes=8, seed=42),
        lambda version, **kw: pq_query(
            probe_b, pq_store, k=10, rerank=16, query_key="vec_id",
            version=version,
        ),
        pq_store,
        "pq_index",
    )
    ivfpq_store = SnapshotStateStore(str(tmp_path / "ivfpq"))
    check(
        lambda: ivfpq_index(
            vecs, ivfpq_store, nlist=2, m_sub=2, n_codes=8, seed=42
        ),
        lambda version, **kw: ivfpq_query(
            probe_b, ivfpq_store, k=10, nprobe=1, rerank=16,
            query_key="vec_id", version=version,
        ),
        ivfpq_store,
        "ivfpq_index",
    )
    # unknown layout / missing table fail loudly
    with pytest.raises(ValueError, match="does not exist"):
        ann_upsert(batch, ivf_store, table="nope")


def test_filtered_query_pushes_predicate_across_family(spark, tmp_path):
    """Filtered ANN search (r13 — VERDICT r12 item 3): the where=
    predicate reaches the CANDIDATE SCAN for all three families, so
    (a) every returned neighbor satisfies it, (b) the full k survives
    whenever k survivors exist — even at nprobe=1 when the nearest
    cells hold NO survivors (the adaptive widening), and (c) the
    ranking equals exact brute force over the survivors (tiny fixture,
    full rerank)."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_query,
        ivfpq_index,
        ivfpq_query,
        pq_index,
        pq_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    # two separated direction clusters; ALL allowed keys live in
    # cluster B, so a B-cluster filter forces an A-side probe to widen
    # past its nearest (all-A) cells
    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    meta = vecs.select(
        "vec_id",
        F.when(F.col("vec_id") >= 100, F.lit("en")).otherwise(
            F.lit("de")
        ).alias("lang"),
    )
    # probe from INSIDE cluster A, filter to cluster-B ('en') rows:
    # the unfiltered nearest cells are pure A, so only widening can
    # serve k results
    probe_a = spark.createDataFrame(
        [(0, [1.0, 0.01, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    allowed = {100 + i for i in range(16)}

    def check(build, query, store):
        build()
        got = query().collect()
        ns = [r["n"] for r in sorted(got, key=lambda r: r["rank"])]
        assert len(ns) == 8, ns          # full k survives the filter
        assert set(ns) <= allowed, ns    # zero predicate violations
        # exact filtered brute force on the fixture: scores within
        # cluster B are identical up to fp noise for an A-side probe,
        # so assert membership not order beyond the guarantee above
        assert len(set(ns)) == 8

    s1 = SnapshotStateStore(str(tmp_path / "fivf"))
    check(
        lambda: ivf_index(vecs, s1, nlist=2, seed=42),
        lambda: ivf_query(
            probe_a, s1, k=8, nprobe=1, query_key="vec_id",
            where=F.col("lang") == "en", meta=meta, meta_key="vec_id",
        ),
        s1,
    )
    s2 = SnapshotStateStore(str(tmp_path / "fpq"))
    check(
        lambda: pq_index(vecs, s2, m_sub=2, n_codes=8, seed=42),
        lambda: pq_query(
            probe_a, s2, k=8, rerank=32, query_key="vec_id",
            where=F.col("lang") == "en", meta=meta, meta_key="vec_id",
        ),
        s2,
    )
    s3 = SnapshotStateStore(str(tmp_path / "fivfpq"))
    check(
        lambda: ivfpq_index(vecs, s3, nlist=2, m_sub=2, n_codes=8, seed=42),
        lambda: ivfpq_query(
            probe_a, s3, k=8, nprobe=1, rerank=32, query_key="vec_id",
            where=F.col("lang") == "en", meta=meta, meta_key="vec_id",
        ),
        s3,
    )


def test_filtered_query_direct_predicate_empty_and_validation(spark, tmp_path):
    """The meta-less where= form filters the index's own columns (an
    n-only predicate pushes to the parquet scan); an all-false
    predicate returns ZERO rows with the contract schema (never an
    error, never unfiltered results); a non-integral meta key fails
    loudly (the family's ADVICE-r9 rule)."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.3), math.sin(i * 0.3), 0.0, 0.0])
            for i in range(24)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "divf"))
    ivf_index(vecs, store, nlist=4, seed=42)
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    # direct predicate: only even ids are candidates
    got = ivf_query(
        q, store, k=5, nprobe=1, query_key="vec_id", where="pmod(n, 2) = 0"
    ).collect()
    assert len(got) == 5 and all(r["n"] % 2 == 0 for r in got)
    # SQL-string and Column forms agree
    got2 = ivf_query(
        q, store, k=5, nprobe=1, query_key="vec_id",
        where=F.pmod(F.col("n"), F.lit(2)) == 0,
    ).collect()
    assert sorted(r["n"] for r in got) == sorted(r["n"] for r in got2)
    # all-false predicate: zero rows, contract schema
    empty = ivf_query(q, store, k=5, query_key="vec_id", where="n < 0")
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["q", "n", "score", "rank"]
    # non-integral meta key: loud failure
    bad_meta = spark.createDataFrame(
        [("a", "en")], "vec_id string, lang string"
    )
    with pytest.raises(ValueError, match="integral type"):
        ivf_query(
            q, store, k=5, query_key="vec_id",
            where=F.col("lang") == "en", meta=bad_meta, meta_key="vec_id",
        )


def test_ann_delete_rejects_non_integral_keys(spark, tmp_path):
    """ADVICE r12 (medium): a malformed takedown feed (string key
    column) used to cast to NULL, silently become a no-op, and return
    the unchanged version as success. ann_delete must now enforce the
    family's _require_integral_key rule, and a NULL key inside an
    integral column raises at execution."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_delete,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "delk"))
    ivf_index(vecs, store, nlist=2, seed=42)
    v1 = store.latest_version("ivf_index")
    str_keys = spark.createDataFrame([("3",), ("4",)], "vec_id string")
    with pytest.raises(ValueError, match="integral type"):
        ann_delete(spark, str_keys, store, table="ivf_index")
    null_keys = spark.createDataFrame([(3,), (None,)], "vec_id bigint")
    with pytest.raises(Exception, match="NULL key"):
        ann_delete(spark, null_keys, store, table="ivf_index")
    # neither failure committed anything
    assert store.latest_version("ivf_index") == v1


def test_streaming_upsert_ingest_marker_exactly_once(spark, tmp_path):
    """StreamingUpsertIngest (r13 — VERDICT r12 item 4 'Done ='): a
    replayed stream (fresh checkpoint, same batch ids) adds ZERO
    versions because the batch_id marker rides each upsert's
    replace-commit atomically; the updated payload is visible at
    head; the old payload survives at the pinned pre-batch version."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingUpsertIngest,
    )

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    ivf_index(vecs, store, nlist=2, seed=42)
    v_pre = store.latest_version("ivf_index")
    # two micro-batch files: move key 3 to cluster B; insert key 500
    src = tmp_path / "src"
    spark.createDataFrame(
        [(3, [0.0, 0.0, 0.6, 0.8])], "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(500, [0.0, 0.0, 0.8, 0.6])],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "b"))

    def run(ckpt: str) -> StreamingUpsertIngest:
        ing = StreamingUpsertIngest(store)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        ing.attach(stream, checkpoint=str(tmp_path / ckpt)).awaitTermination()
        return ing

    ing1 = run("ckpt1")
    assert ing1.n_batches == 2 and ing1.n_skipped == 0
    v_head = store.latest_version("ivf_index")
    assert v_head == v_pre + 2  # one replace-version per micro-batch
    # full replay with a FRESH checkpoint: same batch ids re-delivered
    # -> the committed marker skips both, zero versions added
    ing2 = run("ckpt2")
    assert ing2.n_skipped == 2 and ing2.n_batches == 0
    assert store.latest_version("ivf_index") == v_head
    # updated payload at head: both upserted keys answer a B probe
    probe_b = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.7, 0.7])], "vec_id bigint, embedding array<double>"
    )
    head = {
        r["n"]
        for r in ivf_query(
            probe_b, store, k=10, nprobe=1, query_key="vec_id"
        ).collect()
    }
    assert 3 in head and 500 in head
    # old payload at the pinned pre-stream version
    pinned = {
        r["n"]
        for r in ivf_query(
            probe_b, store, k=10, nprobe=1, query_key="vec_id",
            version=v_pre,
        ).collect()
    }
    assert 3 not in pinned and 500 not in pinned


def test_ann_compact_due_advisor_and_compaction(spark, tmp_path):
    """ann_compact_due (r13 — VERDICT r12 item 6 'Done ='; r14: churn
    commits are merge-on-read delta layers now, so the churn disease
    the advisor watches is READ amplification — pending layers — not
    dead bytes): the advisor fires after a delete/upsert churn
    sequence via the layer trigger, optimize FOLDS the layers (and
    preserves pinned reads above the vacuum horizon), vacuum reclaims
    the superseded files, and the advisor clears afterwards with the
    head snapshot intact."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_compact_due,
        ann_delete,
        ann_upsert,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5)]) for i in range(64)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "comp"))
    v1 = ivf_index(vecs, store, nlist=2, seed=42)
    assert not ann_compact_due(store, "ivf_index", max_delta_layers=2)
    # churn: two upsert rounds + one delete — each ONE O(batch) delta
    # layer (r14), no corpus rewrite
    for r in range(2):
        ann_upsert(
            vecs.filter(F.pmod("vec_id", F.lit(4)) == r).select(
                "vec_id",
                F.transform("embedding", lambda x: -x).alias("embedding"),
            ),
            store,
            table="ivf_index",
        )
    ann_delete(spark, [63], store, table="ivf_index")
    assert store.delta_layers("ivf_index") == 3
    # the layer trigger fires; the dead-bytes arm alone does NOT (the
    # whole point of merge-on-read: churn no longer strands a full
    # stale table copy per commit)
    assert ann_compact_due(store, "ivf_index", max_delta_layers=2)
    assert not ann_compact_due(store, "ivf_index", max_delta_layers=8,
                               max_versions=32)
    # parameter validation
    with pytest.raises(ValueError, match="max_versions"):
        ann_compact_due(store, "ivf_index", max_versions=0)
    with pytest.raises(ValueError, match="dead_ratio"):
        ann_compact_due(store, "ivf_index", dead_ratio=0)
    with pytest.raises(ValueError, match="max_delta_layers"):
        ann_compact_due(store, "ivf_index", max_delta_layers=0)
    # version-sprawl arm fires independently of dead bytes/layers
    assert ann_compact_due(store, "ivf_index", max_versions=2,
                           dead_ratio=1e9, max_delta_layers=8)
    pre_rows = store.read(spark, "ivf_index", version=v1).count()
    head_rows = store.read(spark, "ivf_index").count()
    store.optimize(spark, "ivf_index")
    # optimize FOLDS the pending layers into a packed base...
    assert store.delta_layers("ivf_index") == 0
    # ...and keeps time travel: the pinned pre-churn read still works
    assert store.read(spark, "ivf_index", version=v1).count() == pre_rows
    removed = store.vacuum("ivf_index")
    assert removed > 0
    assert not ann_compact_due(store, "ivf_index", max_delta_layers=2)
    assert store.read(spark, "ivf_index").count() == head_rows


def test_refit_due_redraws_when_fit_prefix_outgrows_sample(spark, tmp_path):
    """ADVICE r12: the advisor's 'the prefix IS the refit's fit set'
    contract breaks when quantizer_sample_n(n_codes) > sample_n — the
    fit set silently truncated to the diagnostic draw. The advisor
    must REDRAW at the refit's size instead, so its verdict is
    sample_n-invariant once the redraw engages (both calls fit on the
    identical hash-ordered prefix)."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        pq_index,
        pq_refit_due,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.05), math.sin(i * 0.05),
                 math.cos(i * 0.11), math.sin(i * 0.11)])
            for i in range(256)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "redraw"))
    pq_index(vecs, store, m_sub=2, n_codes=8, seed=42)
    # quantizer_sample_n(8) = 2048 > sample_n=64: the redraw engages
    # and both calls must fit candidates on the SAME prefix -> same
    # verdict as the full-size diagnostic call
    small = pq_refit_due(spark, store, sample_n=64, seed=42)
    full = pq_refit_due(spark, store, sample_n=2048, seed=42)
    assert small == full


def test_ann_recall_probe_and_advisor(spark, tmp_path):
    """ann_recall_probe (r13): full-probe recall is EXACTLY 1e6 ppm
    (the index query and brute force share the (score desc, n asc)
    tie rule, so at nprobe=nlist the sets are identical); a starved
    probe budget (nprobe=1 on a two-cluster fixture with cross-cluster
    queries) measures strictly less; the advisor fires exactly when
    the measured value crosses the floor; layout detection covers the
    PQ family; validation is loud."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ann_recall_due,
        ann_recall_probe,
        ivf_index,
        pq_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.2), math.sin(i * 0.2), 0.0, 0.0])
            for i in range(24)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.2), math.sin(i * 0.2)])
            for i in range(24)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "rec"))
    ivf_index(vecs, store, nlist=4, seed=42)
    full = ann_recall_probe(spark, store, k=5, sample_n=8, seed=42, nprobe=4)
    assert full == 1_000_000
    starved = ann_recall_probe(
        spark, store, k=5, sample_n=8, seed=42, nprobe=1
    )
    assert starved <= full
    # the advisor inverts exactly at the measured value
    assert ann_recall_due(
        spark, store, floor_ppm=min(full, starved + 1), k=5, sample_n=8,
        seed=42, nprobe=1,
    ) == (starved < min(full, starved + 1))
    assert not ann_recall_due(
        spark, store, floor_ppm=max(1, starved), k=5, sample_n=8,
        seed=42, nprobe=1,
    )
    # PQ layout detection: rerank >= corpus makes the path exact
    pq_store = SnapshotStateStore(str(tmp_path / "recpq"))
    pq_index(vecs, pq_store, m_sub=2, n_codes=8, seed=42)
    pq_full = ann_recall_probe(
        spark, pq_store, table="pq_index", k=5, sample_n=8, seed=42,
        rerank=64,
    )
    assert pq_full == 1_000_000
    with pytest.raises(ValueError, match="floor_ppm"):
        ann_recall_due(spark, store, floor_ppm=0)
    with pytest.raises(ValueError, match="sample_n"):
        ann_recall_probe(spark, store, sample_n=0)


def test_streaming_upsert_marker_namespaced_by_query(spark, tmp_path):
    """ADVICE r13 (medium): the replay marker is keyed by
    (query_name, batch_id) — Delta's (txnAppId, txnVersion) analog —
    so a legitimately NEW streaming query into the same table (fresh
    checkpoint, ids restarting at 0) commits instead of being
    silently skipped against an OLD stream's marker; a replay of the
    SAME logical stream still skips; and an anonymous pre-namespace
    marker never blocks a named stream."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ann_upsert,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingUpsertIngest,
    )

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    ivf_index(vecs, store, nlist=2, seed=42)
    v_pre = store.latest_version("ivf_index")
    src = tmp_path / "src"
    spark.createDataFrame(
        [(3, [0.0, 0.0, 0.6, 0.8])], "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(
        [(500, [0.0, 0.0, 0.8, 0.6])],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(src / "b"))

    def run(ckpt: str, name: str | None) -> StreamingUpsertIngest:
        ing = StreamingUpsertIngest(store)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        ing.attach(
            stream, checkpoint=str(tmp_path / ckpt), query_name=name
        ).awaitTermination()
        return ing

    # stream A (default name) commits one version per micro-batch
    a = run("ckpt_a", None)
    assert a.n_batches == 2 and a.n_skipped == 0
    assert store.latest_version("ivf_index") == v_pre + 2
    # a DIFFERENT logical stream into the same table: ids restart at
    # 0, but its own namespace holds no marker — MUST commit, not skip
    b = run("ckpt_b", "feed_b")
    assert b.n_batches == 2 and b.n_skipped == 0
    assert store.latest_version("ivf_index") == v_pre + 4
    # replaying the SAME logical stream (same name, fresh checkpoint)
    # still hits the marker and adds zero versions
    b2 = run("ckpt_b2", "feed_b")
    assert b2.n_skipped == 2 and b2.n_batches == 0
    assert store.latest_version("ivf_index") == v_pre + 4
    # an anonymous marker (no batch_query — the pre-namespace shape)
    # interleaves; a NEW named stream must ignore it and commit
    ann_upsert(
        spark.createDataFrame(
            [(600, [0.0, 0.0, 0.5, 0.9])],
            "vec_id bigint, embedding array<double>",
        ),
        store,
        metadata={"batch_id": 99},
    )
    c = run("ckpt_c", "feed_c")
    assert c.n_batches == 2 and c.n_skipped == 0
    # and feed_b's marker still skips across the interleaved commits
    # (backward manifest scan within the namespace)
    b3 = run("ckpt_b3", "feed_b")
    assert b3.n_skipped == 2 and b3.n_batches == 0


def test_ivf_query_filtered_preserves_query_key_type(spark, tmp_path):
    """ADVICE r13 (low): adding where= to an ivf_query call must not
    change the output schema — the filtered arm carries the caller's
    query-key values (and type) through the driver round-trip instead
    of int()-coercing them to bigint."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 5) + 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    ivf_index(vecs, store, nlist=2, seed=42)
    queries = spark.createDataFrame(
        [("qa", [1.0, 1.0]), ("qb", [6.0, 4.0])],
        "qid string, embedding array<double>",
    )
    plain = ivf_query(queries, store, k=3, nprobe=2, query_key="qid")
    filt = ivf_query(
        queries, store, k=3, nprobe=2, query_key="qid",
        where="n % 2 = 0",
    )
    assert dict(plain.dtypes)["q"] == "string"
    assert dict(filt.dtypes)["q"] == dict(plain.dtypes)["q"]
    rows = filt.collect()
    assert rows and all(int(r["n"]) % 2 == 0 for r in rows)
    assert {r["q"] for r in rows} == {"qa", "qb"}
    # the PQ families share the query tail: a string key survives both
    # the unfiltered and the filtered path there too
    from clickhouse_k_means_spark.operators.ann_index import (
        ivfpq_index,
        ivfpq_query,
        pq_index,
        pq_query,
    )

    pq_store = SnapshotStateStore(str(tmp_path / "pq"))
    pq_index(vecs, pq_store, m_sub=2, n_codes=4, seed=42)
    ivfpq_store = SnapshotStateStore(str(tmp_path / "ivfpq"))
    ivfpq_index(vecs, ivfpq_store, nlist=2, m_sub=2, n_codes=4, seed=42)
    for query, st, kw in (
        (pq_query, pq_store, {}),
        (ivfpq_query, ivfpq_store, {"nprobe": 2}),
    ):
        for where in (None, "n % 2 = 0"):
            out = query(
                queries, st, k=3, query_key="qid", where=where, **kw
            )
            assert dict(out.dtypes)["q"] == "string", (query, where)
            rows = out.collect()
            assert {r["q"] for r in rows} == {"qa", "qb"}, (query, where)
            assert len(rows) == 6
            if where is not None:
                assert all(int(r["n"]) % 2 == 0 for r in rows)


def test_family_wrapper_on_another_familys_table_raises_named_error(
    spark, tmp_path
):
    """Every ivf_*/pq_*/ivfpq_* wrapper reads the committed layout
    first: pointed at another family's table it raises a ValueError
    naming both families instead of an analysis or type error from
    deep inside the plan."""
    from clickhouse_k_means_spark.operators import ann_index as A
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 5) + 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    A.ivf_index(vecs, store, table="ivf", nlist=2, seed=42)
    A.pq_index(vecs, store, table="pq", m_sub=2, n_codes=4, seed=42)
    A.ivfpq_index(vecs, store, table="ivfpq", nlist=2, m_sub=2, n_codes=4)
    batch = vecs.limit(2)
    qk = {"query_key": "vec_id"}
    calls = [
        ("ivfpq", "ivf", lambda t: A.ivf_append(batch, store, table=t)),
        ("ivf", "pq", lambda t: A.pq_append(batch, store, table=t)),
        ("pq", "ivfpq", lambda t: A.ivfpq_append(batch, store, table=t)),
        ("pq", "ivf", lambda t: A.ivf_query(batch, store, table=t, **qk)),
        ("ivf", "pq", lambda t: A.pq_query(batch, store, table=t, **qk)),
        ("ivf", "ivfpq", lambda t: A.ivfpq_query(batch, store, table=t, **qk)),
        ("pq", "ivf", lambda t: A.ivf_stats(spark, store, table=t)),
        ("pq", "ivfpq", lambda t: A.ivfpq_skew_factor(spark, store, table=t)),
        ("ivf", "pq", lambda t: A.pq_qerr(spark, store, table=t)),
        ("ivf", "ivfpq", lambda t: A.ivfpq_refit_due(spark, store, table=t)),
        ("ivfpq", "pq", lambda t: A.pq_refit(spark, store, table=t)),
        ("pq", "ivf", lambda t: A.ivf_refit(spark, store, table=t)),
        ("pq", "ivf", lambda t: A.ivf_index(vecs, store, table=t)),
    ]
    for table, family, call in calls:
        with pytest.raises(
            ValueError, match=f"holds a {table} index, not a {family} index"
        ):
            call(table)


def test_ann_recall_due_version_pinned(spark, tmp_path):
    """ADVICE r13 (low): ann_recall_due takes an EXPLICIT version=
    and forwards it to the probe — a pinned-snapshot advisor reading
    matches the pinned probe, and version never double-binds through
    query_kw."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_recall_due,
        ann_recall_probe,
        ann_upsert,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 5) + 1.0]) for i in range(48)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    v1 = ivf_index(vecs, store, nlist=2, seed=42)
    # churn the head so the pinned version is genuinely different
    ann_upsert(
        spark.createDataFrame(
            [(999, [3.0, 3.0])], "vec_id bigint, embedding array<double>"
        ),
        store,
    )
    ppm_pinned = ann_recall_probe(
        spark, store, sample_n=4, nprobe=2, version=v1
    )
    assert ann_recall_due(
        spark, store, floor_ppm=1_000_000, sample_n=4, nprobe=2, version=v1
    ) == (ppm_pinned < 1_000_000)
    # an impossible floor fires; a trivial floor clears — both pinned
    assert not ann_recall_due(
        spark, store, floor_ppm=1, sample_n=4, nprobe=2, version=v1
    ) or ppm_pinned == 0


def test_ann_delete_predicate_takedown(spark, tmp_path):
    """ann_delete(where=) (r14 — VERDICT r13 item 4): takedown feeds
    arrive as predicates, not key lists. Direct form filters the
    index's own columns; meta form resolves the predicate over a
    metadata table; both commit ONE O(batch) tombstone layer over
    keys that actually exist, re-issuing the same predicate commits
    nothing, and malformed combinations fail loudly."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_delete,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 5) + 1.0]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "preddel"))
    ivf_index(vecs, store, nlist=2, seed=42)
    v1 = store.latest_version("ivf_index")
    # direct form: predicate over the index's own key column
    v2 = ann_delete(spark, store=store, where="n % 10 = 3")
    assert v2 == v1 + 1
    left = {r["n"] for r in store.read(spark, "ivf_index")
            .filter(F.col("n").isNotNull()).select("n").collect()}
    assert left == {i for i in range(60) if i % 10 != 3}
    # idempotent: same predicate matches nothing now — no commit
    assert ann_delete(spark, store=store, where="n % 10 = 3") == v2
    # meta form: predicate over a metadata table, keys via meta_key
    meta = spark.createDataFrame(
        [(i, "bad" if i % 10 == 7 else "ok") for i in range(60)],
        "doc_id bigint, domain string",
    )
    v3 = ann_delete(
        spark, store=store, where="domain = 'bad'", meta=meta,
        meta_key="doc_id",
    )
    assert v3 == v2 + 1
    left = {r["n"] for r in store.read(spark, "ivf_index")
            .filter(F.col("n").isNotNull()).select("n").collect()}
    assert left == {i for i in range(60) if i % 10 not in (3, 7)}
    # time travel: pre-takedown version still holds everything
    assert store.read(spark, "ivf_index", version=v1).filter(
        F.col("n").isNotNull()
    ).count() == 60
    # validation: exactly one of keys/where; meta requires where
    with pytest.raises(ValueError, match="exactly one"):
        ann_delete(spark, [1], store=store, where="n = 1")
    with pytest.raises(ValueError, match="exactly one"):
        ann_delete(spark, store=store)
    with pytest.raises(ValueError, match="meta= requires"):
        ann_delete(spark, [1], store=store, meta=meta)


def test_ann_recall_filtered_probes_survivors_only(spark, tmp_path):
    """ann_recall_probe/due(where=) (r14 — VERDICT r13 item 5):
    the filtered advisor samples from predicate survivors, runs the
    family's FILTERED query path, and brute-forces over survivors
    only — at full probe the two legs coincide exactly (1e6 ppm);
    the meta form agrees with the direct form; the due API matches
    probe < floor; malformed combinations fail loudly."""
    from clickhouse_k_means_spark.operators.ann_index import (
        ann_recall_due,
        ann_recall_probe,
        ivf_index,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    vecs = spark.createDataFrame(
        [(i, [float(i % 11) + 1.0, float(i % 7) + 1.0]) for i in range(96)],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "recf"))
    ivf_index(vecs, store, nlist=4, seed=42)
    full = ann_recall_probe(
        spark, store, k=5, sample_n=6, seed=42, nprobe=4,
        where="n % 4 = 2",
    )
    assert full == 1_000_000
    meta = vecs.select(
        F.col("vec_id").alias("doc_id"),
        F.pmod("vec_id", F.lit(4)).alias("bucket"),
    )
    assert ann_recall_probe(
        spark, store, k=5, sample_n=6, seed=42, nprobe=4,
        where="bucket = 2", meta=meta, meta_key="doc_id",
    ) == full
    # the due API is budget-probe < floor, on the FILTERED path
    at_budget = ann_recall_probe(
        spark, store, k=5, sample_n=6, seed=42, nprobe=1,
        where="n % 4 = 2",
    )
    assert ann_recall_due(
        spark, store, floor_ppm=1_000_000, k=5, sample_n=6, seed=42,
        nprobe=1, where="n % 4 = 2",
    ) == (at_budget < 1_000_000)
    # loud failures: meta without where; predicate matching nothing
    with pytest.raises(ValueError, match="meta= requires"):
        ann_recall_probe(spark, store, meta=meta)
    with pytest.raises(ValueError, match="matching the predicate"):
        ann_recall_probe(spark, store, where="n > 1000000")


def test_streaming_cdc_apply_marker_exactly_once(spark, tmp_path):
    """StreamingCdcApply (r14 — VERDICT r13 item 6 'Done ='): a CDC
    stream with upserts AND deletes interleaved applies each
    micro-batch as ONE atomic marked delta commit; a full replay with
    a fresh checkpoint adds ZERO versions; the mixed batch is visible
    at head (delete gone, update moved, insert present); the
    pre-stream version is pinned intact."""
    import math

    from clickhouse_k_means_spark.operators.ann_index import (
        ann_cdc_apply,
        ivf_index,
        ivf_query,
    )
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.ann_stream import (
        StreamingCdcApply,
    )

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.0, 0.0])
            for i in range(16)
        ]
        + [
            (100 + i, [0.0, 0.0, math.cos(i * 0.01), math.sin(i * 0.01)])
            for i in range(16)
        ],
        "vec_id bigint, embedding array<double>",
    )
    store = SnapshotStateStore(str(tmp_path / "store"))
    ivf_index(vecs, store, nlist=2, seed=42)
    v_pre = store.latest_version("ivf_index")
    schema = "vec_id bigint, embedding array<double>, op string"
    src = tmp_path / "src"
    # batch a: delete key 5, move key 3 to cluster B (one atomic layer)
    spark.createDataFrame(
        [(5, None, "d"), (3, [0.0, 0.0, 0.6, 0.8], "u")], schema
    ).coalesce(1).write.parquet(str(src / "a"))
    # batch b: insert key 500, delete key 7
    spark.createDataFrame(
        [(500, [0.0, 0.0, 0.8, 0.6], "u"), (7, None, "d")], schema
    ).coalesce(1).write.parquet(str(src / "b"))

    def run(ckpt: str) -> StreamingCdcApply:
        ing = StreamingCdcApply(store)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        ing.attach(stream, checkpoint=str(tmp_path / ckpt)).awaitTermination()
        return ing

    a = run("ckpt1")
    assert a.n_batches == 2 and a.n_skipped == 0
    v_head = store.latest_version("ivf_index")
    assert v_head == v_pre + 2  # ONE version per mixed micro-batch
    # full replay, fresh checkpoint: marker skips both, zero versions
    b = run("ckpt2")
    assert b.n_skipped == 2 and b.n_batches == 0
    assert store.latest_version("ivf_index") == v_head
    # head state: 5 and 7 deleted, 3 moved to B, 500 inserted
    head_keys = {
        r["n"]
        for r in store.read(spark, "ivf_index")
        .filter(F.col("n").isNotNull()).select("n").collect()
    }
    assert 5 not in head_keys and 7 not in head_keys
    assert 500 in head_keys and 3 in head_keys
    probe_b = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.7, 0.7])], "vec_id bigint, embedding array<double>"
    )
    hits = {
        r["n"]
        for r in ivf_query(
            probe_b, store, k=10, nprobe=1, query_key="vec_id"
        ).collect()
    }
    assert 3 in hits and 500 in hits
    # pre-stream version pinned intact
    pinned = {
        r["n"]
        for r in store.read(spark, "ivf_index", version=v_pre)
        .filter(F.col("n").isNotNull()).select("n").collect()
    }
    assert {5, 7, 3} <= pinned and 500 not in pinned
    # batch-form loud failures: unknown op, missing op column
    with pytest.raises(ValueError, match="unknown op"):
        ann_cdc_apply(
            spark.createDataFrame([(1, [0.0, 0.0, 0.0, 0.0], "x")], schema),
            store,
        )
    with pytest.raises(ValueError, match="op column"):
        ann_cdc_apply(
            spark.createDataFrame(
                [(1, [0.0, 0.0, 0.0, 0.0])],
                "vec_id bigint, embedding array<double>",
            ),
            store,
        )


# ---- storeless IVF/PQ: the persistent index's fit, encode and search --

_STORELESS = {
    "ivf": ({"nlist": 8}, {"nprobe": 7}),
    "pq": ({"m_sub": 16, "n_codes": 64}, {"rerank": 100}),
}


@pytest.mark.parametrize("family", ["ivf", "pq"])
def test_storeless_topk_matches_index_and_query(spark, sf_dir, tmp_path, family):
    """``ivf_topk``/``pq_topk`` return the rows and scores of
    ``*_index`` + ``*_query`` at the same geometry and seed: one fit,
    encode and search path, with and without the commit."""
    from clickhouse_k_means_spark.operators import ann_index, similarity
    from clickhouse_k_means_spark.sources.dataset import load_table
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    geometry, search = _STORELESS[family]
    store = SnapshotStateStore(str(tmp_path / "s"))
    getattr(ann_index, f"{family}_index")(c, store, **geometry)
    indexed = getattr(ann_index, f"{family}_query")(
        q, store, k=10, query_key="vec_id", **search
    )
    storeless = getattr(similarity, f"{family}_topk")(
        q, c, k=10, query_key="vec_id", corpus_key="vec_id",
        **geometry, **search,
    )
    got = sorted(map(tuple, storeless.collect()))
    assert len(got) == 50
    assert got == sorted(map(tuple, indexed.collect()))


def _random_vectors(spark, key_type: str = "bigint", nan_key=None):
    """200 seeded random 8-d vectors; ``nan_key``'s vector is all NaN."""
    import numpy as np

    x = np.random.default_rng(5).standard_normal((200, 8))
    rows = [
        (i if key_type == "bigint" else f"k{i}",
         [float("nan")] * 8 if i == nan_key else [float(v) for v in x[i]])
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, f"vec_id {key_type}, embedding array<double>"
    )


_SMALL = {"ivf": {"nlist": 4, "nprobe": 2}, "pq": {"m_sub": 2, "n_codes": 4}}


@pytest.mark.parametrize("family", ["ivf", "pq"])
def test_storeless_topk_names_bad_vectors(spark, family):
    """A non-finite corpus vector and a zero-norm query raise a
    ``ValueError`` naming the key, where an all-NaN corpus vector used
    to empty ``ivf_topk``'s result and a zero query failed in the
    cosine division."""
    from clickhouse_k_means_spark.operators import similarity

    topk = getattr(similarity, f"{family}_topk")
    kw = {"k": 3, "query_key": "vec_id", "corpus_key": "vec_id", **_SMALL[family]}
    corpus = _random_vectors(spark, nan_key=17)
    queries = _random_vectors(spark).filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="key 17 vector has a non-finite"):
        topk(queries, corpus, **kw).collect()
    zero = spark.createDataFrame(
        [(9, [0.0] * 8)], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="query 9 vector has zero norm"):
        topk(zero, _random_vectors(spark), **kw).collect()


@pytest.mark.parametrize("family", ["ivf", "pq"])
def test_storeless_topk_keeps_string_query_keys(spark, family):
    """String query keys come back as strings, with the neighbours the
    same queries find under integer keys."""
    from clickhouse_k_means_spark.operators import similarity

    topk = getattr(similarity, f"{family}_topk")
    kw = {"k": 3, "corpus_key": "vec_id", "query_key": "vec_id", **_SMALL[family]}
    corpus = _random_vectors(spark)
    by_int = topk(corpus.filter(F.col("vec_id") < 3), corpus, **kw)
    by_str = topk(
        _random_vectors(spark, "string").filter(
            F.col("vec_id").isin("k0", "k1", "k2")
        ),
        corpus, **kw,
    )
    assert by_str.schema["q"].dataType.simpleString() == "string"
    assert sorted((f"k{r['q']}", r["n"], r["score"]) for r in by_int.collect()) == \
        sorted((r["q"], r["n"], r["score"]) for r in by_str.collect())


@pytest.fixture(scope="module")
def small_indexes(spark, tmp_path_factory):
    """One store holding a 64-vector IVF, PQ and IVF-PQ index."""
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path_factory.mktemp("ann_sizes")))
    corpus = _random_vectors(spark).filter(F.col("vec_id") < 64)
    ann_index.ivf_index(corpus, store, nlist=4)
    ann_index.pq_index(corpus, store, m_sub=2, n_codes=4)
    ann_index.ivfpq_index(corpus, store, nlist=4, m_sub=2, n_codes=4)
    return store


@pytest.mark.parametrize(
    "family, sizes, error",
    [
        ("ivfpq", {"nprobe": -2}, "nprobe must be >= 1, got -2"),
        ("ivf", {"nprobe": 0}, "nprobe must be >= 1, got 0"),
        ("pq", {"k": 0}, "k must be >= 1, got 0"),
        ("ivfpq", {"rerank": 0}, r"rerank must be >= k \(10\), got 0"),
        ("pq", {"rerank": -1}, r"rerank must be >= k \(10\), got -1"),
        ("pq", {"k": 5, "rerank": 2}, r"rerank must be >= k \(5\), got 2"),
    ],
    ids=["nprobe-2", "nprobe0", "k0", "rerank0", "rerank-1", "rerank-below-k"],
)
def test_ann_query_rejects_bad_search_sizes(spark, small_indexes, family,
                                            sizes, error):
    """A search size no query can be served with raises a
    ``ValueError`` naming the function and the value, before the query
    batch is collected (its collect here would fail). These used to
    answer quietly: ``nprobe=-2`` probed all but 2 cells, ``nprobe=0``,
    ``k=0`` and ``rerank=-1`` returned no rows, ``rerank=0`` meant 4k,
    and ``rerank`` below ``k`` returned fewer than ``k`` rows."""
    from clickhouse_k_means_spark.operators import ann_index

    queries = spark.range(2).select(
        F.col("id").alias("q"),
        F.raise_error(F.lit("query batch collected"))
        .cast("array<double>").alias("embedding"),
    )
    with pytest.raises(ValueError, match=f"{family}_query: {error}"):
        getattr(ann_index, f"{family}_query")(queries, small_indexes, **sizes)


def _codebook_replay(rows, g, queries, k: int, rerank: int, nprobe):
    """The codebook search contract in NumPy over the stored vector
    ``rows`` of geometry ``g``: per query ROW the top-``rerank`` rows by
    ``(ADC distance, n)`` among its probed cells, exact cosine over
    them, the rows of one key merged and ranked ``(score desc, n
    asc)``. Returns ``{(key, rank): (n, score)}``."""
    import numpy as np

    from clickhouse_k_means_spark.functions.vector import (
        ivfpq_adc_lut,
        ivfpq_adc_scores,
        normalize_rows,
        pq_adc_lut,
        pq_adc_scores,
    )
    from clickhouse_k_means_spark.operators.ann_index import _probe_order

    n = np.array([r["n"] for r in rows])
    v = np.array([r["v"] for r in rows])
    codes = np.array([r["codes"] for r in rows])
    q_mat = normalize_rows(np.array([qv for _, qv in queries]))
    if g.centroids is None:
        d = pq_adc_scores(pq_adc_lut(g.books, q_mat), codes)
    else:
        mask = np.zeros((len(q_mat), len(g.centroids)), dtype=bool)
        probes = _probe_order(q_mat, g.centroids, True)[:, :nprobe]
        for qi, cells in enumerate(probes):
            mask[qi, cells] = True
        lut, cell_to_idx = ivfpq_adc_lut(g.centroids, g.books, q_mat, mask)
        cells = np.array([r["cell"] for r in rows])
        d = ivfpq_adc_scores(lut, cell_to_idx, cells, codes)
    merged: dict = {}
    for qi, (key, qv) in enumerate(queries):
        live = np.flatnonzero(np.isfinite(d[qi]))
        for j in live[np.lexsort((n[live], d[qi, live]))][:rerank]:
            score = np.dot(qv, v[j]) / (np.linalg.norm(qv) * np.linalg.norm(v[j]))
            merged.setdefault(key, []).append((-float(score), int(n[j])))
    return {
        (key, rank): (nn, -neg)
        for key, cands in merged.items()
        for rank, (neg, nn) in enumerate(sorted(cands)[:k], 1)
    }


@pytest.mark.parametrize("family", ["pq", "ivfpq"])
def test_codebook_shortlist_is_layout_independent(spark, tmp_path, family):
    """The PQ / IVF-PQ Arrow pass keeps a shortlist per batch, so the
    answer must not depend on how the scan is cut: 7-row Arrow batches
    over 11 partitions return exactly what one partition at the default
    batch size returns, and what the query API returns on the stored
    layout. All equal the NumPy replay of the search contract
    (``_codebook_replay``), with a query key repeated on two vectors
    and with ``rerank`` past the 200-vector corpus."""
    import numpy as np

    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    geometry = {"m_sub": 4, "n_codes": 8}
    search = {}
    if family == "ivfpq":
        geometry["nlist"] = 6
        search["nprobe"] = 2
    table = f"{family}_index"
    getattr(ann_index, f"{family}_index")(_random_vectors(spark), store, **geometry)
    rng = np.random.default_rng(11)
    queries = [(key, [float(x) for x in rng.standard_normal(8)])
               for key in (0, 1, 1, 2)]
    qdf = spark.createDataFrame(queries, "q bigint, embedding array<double>")
    g = ann_index._geometry(spark, store, table, None, family, "test")
    rows = g.snap.filter(F.col("n").isNotNull())
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    for rerank in (None, 256):
        def top5(scan):
            return sorted(map(tuple, ann_index._search(
                qdf, scan, g.centroids, g.books, 5, search.get("nprobe"),
                rerank, "q", "embedding", "test",
            ).collect()))

        single = top5(rows.coalesce(1))
        old = spark.conf.get(batch)
        spark.conf.set(batch, "7")
        try:
            spread = top5(rows.repartition(11))
        finally:
            spark.conf.set(batch, old)
        assert spread == single
        api = getattr(ann_index, f"{family}_query")(qdf, store, k=5,
                                                    rerank=rerank, **search)
        assert sorted(map(tuple, api.collect())) == single
        want = _codebook_replay(rows.collect(), g, queries, 5, rerank or 20,
                                search.get("nprobe"))
        got = {(q, rank): (n, score) for q, n, score, rank in single}
        assert got.keys() == want.keys() and len(got) == 15
        for key, (n, score) in want.items():
            assert got[key][0] == n and abs(got[key][1] - score) < 1e-12, key
