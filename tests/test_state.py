"""Persistent state store (the reference's MergeTree role): fit →
append → re-read → delta_finish must match the in-memory result
(VERDICT r2 item 8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_k_means_spark.plans.kmeans import KMeansEngine, delta_finish
from clickhouse_k_means_spark.sources.dataset import load_yh
from clickhouse_k_means_spark.sources.state import SnapshotStateStore


@pytest.fixture()
def snap(tmp_path):
    return SnapshotStateStore(str(tmp_path / "snap"))


def test_history_roundtrip_delta_finish(spark, sf_dir, snap):
    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    res = KMeansEngine(k=3, seed=42, max_iter=8).fit(yh)
    hist = res.history_df(spark)
    want = delta_finish(hist)

    snap.append(hist, "wcr")
    back = snap.read(spark, "wcr")
    assert back.count() == hist.count()
    assert delta_finish(back) == want


def test_fit_persists_state_per_step(spark, sf_dir, snap):
    """State store wired INTO the fit: WCR rows are committed per step
    as produced; the persisted table replays delta_finish identically
    to the in-memory history, and each step is its own version, so
    time travel to version s + 1 sees exactly steps 0..s."""
    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    eng = KMeansEngine(k=3, seed=42, max_iter=8)
    res = eng.fit(yh, state_store=snap, state_table="wcr_live")

    back = snap.read(spark, "wcr_live")
    # every in-memory WCR row made it to disk, no extras
    assert back.count() == len(res.history)
    for s in range(res.n_iter + 1):
        steps = {
            r["step"]
            for r in snap.read(spark, "wcr_live", version=s + 1)
            .select("step").distinct().collect()
        }
        assert steps == set(range(s + 1))
    # convergence metric replayed from the persisted table matches the
    # one replayed from the in-memory history
    assert delta_finish(back) == delta_finish(res.history_df(spark))


def test_append_accumulates_runs(spark, snap):
    df1 = spark.createDataFrame([(0, 1, [1.0])], "step bigint, j int, C array<double>")
    df2 = spark.createDataFrame([(1, 1, [2.0])], "step bigint, j int, C array<double>")
    snap.append(df1, "wcr")
    snap.append(df2, "wcr")
    assert snap.read(spark, "wcr").count() == 2


def test_truncate(spark, snap):
    """Truncate empties the table; it is logical, so the table still
    exists (with its schema) as an empty committed snapshot."""
    df = spark.createDataFrame([(0, 1, [1.0])], "step bigint, j int, C array<double>")
    snap.append(df, "wcr")
    assert snap.exists("wcr")
    snap.truncate("wcr")
    assert snap.exists("wcr")
    back = snap.read(spark, "wcr")
    assert back.count() == 0
    assert back.columns == ["step", "j", "C"]


def test_dedup_components_roundtrip(spark, sf_dir, snap):
    from clickhouse_k_means_spark.operators.components import dedup_components

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (50, 60)], "a long, b long"
    )
    comp = dedup_components(pairs)
    snap.append(comp, "components")
    back = snap.read(spark, "components")
    got = {(r["n"], r["component"], r["is_canonical"]) for r in back.collect()}
    want = {(r["n"], r["component"], r["is_canonical"]) for r in comp.collect()}
    assert got == want


# ---- SnapshotStateStore (r4): versioned snapshots / time travel ----


def _batch(spark, step, val):
    return spark.createDataFrame(
        [(step, 1, [float(val)])], "step bigint, j int, C array<double>"
    )


def test_snapshot_append_read_versions(spark, snap):
    v1 = snap.append(_batch(spark, 0, 1.0), "wcr")
    v2 = snap.append(_batch(spark, 1, 2.0), "wcr")
    assert (v1, v2) == (1, 2)
    assert snap.read(spark, "wcr").count() == 2
    # time travel: version 1 still sees only the first batch
    assert snap.read(spark, "wcr", version=1).count() == 1


def test_snapshot_isolation_reader_pinned(spark, snap):
    snap.append(_batch(spark, 0, 1.0), "wcr")
    pinned = snap.read(spark, "wcr")          # resolves manifest v1 NOW
    snap.append(_batch(spark, 1, 2.0), "wcr")  # concurrent append
    assert pinned.count() == 1                 # read not torn by v2
    assert snap.read(spark, "wcr").count() == 2


def test_snapshot_logical_truncate_and_time_travel(spark, snap):
    snap.append(_batch(spark, 0, 1.0), "wcr")
    assert snap.exists("wcr")
    v = snap.truncate("wcr")
    assert snap.read(spark, "wcr").count() == 0
    assert snap.read(spark, "wcr", version=v - 1).count() == 1  # still there


def test_snapshot_commit_race_no_lost_update(spark, snap):
    """Simulate a racing writer claiming our version: pre-create the
    manifest the next commit would take. The store must retry onto the
    following version and keep BOTH writers' files visible."""
    import json
    from pathlib import Path

    snap.append(_batch(spark, 0, 1.0), "wcr")
    # racing writer stages a data file + claims version 2 directly
    data = Path(snap._data("wcr"))
    race_file = "racer-part-0.parquet"
    _batch(spark, 9, 9.0).toPandas().to_parquet(data / race_file)
    base = snap._read_manifest("wcr", 1)["files"]
    mdir = Path(snap._manifests("wcr"))
    (mdir / "v00000002.json").write_text(
        json.dumps({"version": 2, "files": base + [race_file]})
    )
    # our append must land at version 3 including the racer's file
    v = snap.append(_batch(spark, 1, 2.0), "wcr")
    assert v == 3
    assert snap.read(spark, "wcr").count() == 3
    # the racer's manifest records no schema: reads never infer one
    with pytest.raises(ValueError, match="records no schema"):
        snap.read(spark, "wcr", version=2)


def test_snapshot_vacuum_reclaims_unreferenced(spark, snap):
    from pathlib import Path

    snap.append(_batch(spark, 0, 1.0), "wcr")
    snap.append(_batch(spark, 1, 2.0), "wcr")
    snap.truncate("wcr")
    n_files = len(list(Path(snap._data("wcr")).glob("*.parquet")))
    removed = snap.vacuum("wcr")
    assert removed == n_files  # empty latest snapshot references nothing
    assert snap.read(spark, "wcr").count() == 0
    assert snap.latest_version("wcr") == 3  # only latest manifest survives


def test_snapshot_staged_but_uncommitted_invisible(spark, snap):
    """A data file without a manifest entry (crash between stage and
    commit) must be invisible to readers."""
    from pathlib import Path

    snap.append(_batch(spark, 0, 1.0), "wcr")
    orphan = Path(snap._data("wcr")) / "orphan-part-0.parquet"
    _batch(spark, 5, 5.0).toPandas().to_parquet(orphan)
    assert snap.read(spark, "wcr").count() == 1


def test_fit_persists_into_snapshot_store(spark, snap):
    """KMeansEngine.fit(state_store=...) works against the snapshot
    store too (same append contract): per-step commits, delta_finish
    parity from the committed snapshot."""
    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    res = KMeansEngine(k=3, seed=42, max_iter=6).fit(
        yh, state_store=snap, state_table="wcr_fit"
    )
    back = snap.read(spark, "wcr_fit")
    assert back.count() == len(res.history)
    assert delta_finish(back) == delta_finish(res.history_df(spark))
    # one committed version per persisted step (0..n_iter)
    assert snap.latest_version("wcr_fit") == res.n_iter + 1


def test_incremental_exact_dedup_across_batches(spark, snap):
    """Ingest-shape dedup: batch 2's duplicates of batch 1 content are
    dropped even though they never co-existed in one DataFrame; the
    hash history advances one snapshot per ingest."""
    from clickhouse_k_means_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    s1, n1 = incremental_exact_dedup(b1, snap, table="seen")
    assert {r["doc_id"] for r in s1.collect()} == {1, 2}  # 3 is in-batch dup
    assert n1 == 2

    b2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    s2, n2 = incremental_exact_dedup(b2, snap, table="seen")
    assert {r["doc_id"] for r in s2.collect()} == {11}  # 10 dups batch 1
    assert n2 == 1
    # replaying an already-seen batch commits nothing new
    s3, n3 = incremental_exact_dedup(b1, snap, table="seen")
    assert n3 == 0 and s3.count() == 0
    assert snap.latest_version("seen") == 2  # no empty commits


def test_snapshot_empty_read_keeps_table_schema(spark, snap):
    """The manifest carries the table schema, so an EMPTY snapshot
    (fresh truncate) reads back with the real column types — not a
    placeholder that breaks column-selecting callers."""
    snap.append(_batch(spark, 0, 1.0), "wcr")
    cols = snap.read(spark, "wcr").schema
    snap.truncate("wcr")
    empty = snap.read(spark, "wcr")
    assert empty.count() == 0
    assert empty.schema == cols


_WCR_SCHEMA = "struct<step:bigint,j:int,C:array<double>>"


@pytest.mark.parametrize(
    "change",
    ["extra", "missing", "retyped"],
)
def test_snapshot_append_rejects_a_batch_that_redefines_the_table(
    spark, snap, change
):
    """Reads apply the manifest's schema to every file, so an append
    may not add, drop or retype a column: it raises, naming the table
    and both schemas, and commits nothing."""
    snap.append(_batch(spark, 0, 1.0), "wcr")
    batch = _batch(spark, 1, 2.0)
    batch = {
        "extra": batch.withColumn("extra", F.lit(1)),
        "missing": batch.drop("C"),
        "retyped": batch.withColumn("j", F.col("j").cast("bigint")),
    }[change]
    with pytest.raises(ValueError, match="does not match the table schema") as e:
        snap.append(batch, "wcr")
    assert "'wcr'" in str(e.value)
    assert batch.schema.simpleString() in str(e.value)
    assert _WCR_SCHEMA in str(e.value)
    assert snap.latest_version("wcr") == 1


def test_snapshot_merge_delta_rejects_a_batch_that_redefines_the_table(
    spark, snap
):
    snap.append(_batch(spark, 0, 1.0), "wcr")
    retyped = _batch(spark, 1, 2.0).withColumn("j", F.col("j").cast("bigint"))
    with pytest.raises(ValueError, match=f"batch schema .* {_WCR_SCHEMA}"):
        snap.merge_delta("wcr", "step", fresh=retyped)
    int_keys = spark.createDataFrame([(0,)], "step int")
    with pytest.raises(ValueError, match="tombstone schema struct<step:int>"):
        snap.merge_delta("wcr", "step", tombstones=int_keys)
    assert snap.latest_version("wcr") == 1
    # the table's own key type still commits
    snap.merge_delta(
        "wcr", "step", tombstones=int_keys.select(F.col("step").cast("bigint"))
    )
    assert snap.read(spark, "wcr").count() == 0


def test_snapshot_append_in_another_column_order_reads_in_table_order(
    spark, snap
):
    """Column order and nullability do not count: a reordered batch
    (here also with a non-null array element type) appends and reads
    back in the table's column order. A replace may still redefine."""
    snap.append(_batch(spark, 0, 1.0), "wcr")
    snap.append(
        spark.createDataFrame([(1, 2)], "j int, step bigint").select(
            F.array(F.lit(2.0)).alias("C"), "step", "j"
        ),
        "wcr",
    )
    got = snap.read(spark, "wcr")
    assert got.columns == ["step", "j", "C"]
    assert sorted(map(tuple, got.collect())) == [(0, 1, [1.0]), (2, 1, [2.0])]
    snap.replace(spark.createDataFrame([("x",)], "s string"), "wcr")
    assert snap.read(spark, "wcr").columns == ["s"]


def test_truncate_then_ingest_does_not_crash(spark, snap):
    """Regression (r5 advisory): after truncate(), exists() is still
    True and incremental_exact_dedup selects text_hash from the empty
    snapshot — this must work, and prior batches are forgotten."""
    from clickhouse_k_means_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    incremental_exact_dedup(b1, snap, table="seen")
    snap.truncate("seen")
    s, n = incremental_exact_dedup(b1, snap, table="seen")
    assert n == 2  # history wiped: both survive again
    assert {r["doc_id"] for r in s.collect()} == {1, 2}


def test_incremental_dedup_broadcast_path_never_shuffles_history(spark, snap):
    """The ingest default (broadcast_batch=True) must read history
    once joined to the broadcast batch and anti-join the batch
    against the (broadcast) hit set — NO shuffle of the history side
    at any size. Guarded on the physical plan: two BroadcastHashJoins,
    zero hash-partition exchanges."""
    from clickhouse_k_means_spark.operators.dedup import (
        _drop_matches,
        _history_matches,
        incremental_exact_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    incremental_exact_dedup(b1, snap, table="seen")
    batch_keep = spark.createDataFrame(
        [(10, "aa"), (11, "bb")], "doc_id long, text_hash string"
    )
    import re

    jvm = spark._jvm

    def _fresh(broadcast_batch):
        hits = _history_matches(
            batch_keep, snap, "seen", {"text_hash": "text_hash"},
            broadcast_batch,
        )
        return _drop_matches(batch_keep, hits, "text_hash", broadcast_batch)

    def _plan(df):
        return df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    # pin auto-broadcast OFF so the asserts see the joins OUR hints
    # force (at real history scale Catalyst could never auto-broadcast
    # the history side anyway — tiny test inputs would)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(_fresh(broadcast_batch=True))
        # formatted explain prints each node twice (tree + detail);
        # count the numbered detail headers
        assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
        # formatted mode spells a shuffle as an Exchange node whose
        # Arguments line says hashpartitioning(...)
        assert "hashpartitioning" not in plan, plan
        # the fallback backfill shape (corpus-sized batch) still shuffles
        plan2 = _plan(_fresh(broadcast_batch=False))
        assert "hashpartitioning" in plan2, plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_incremental_dedup_backfill_path_equivalent(spark, snap):
    """broadcast_batch=False (shuffle anti-join backfill shape) keeps
    identical dedup semantics to the broadcast ingest shape."""
    from clickhouse_k_means_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    incremental_exact_dedup(b1, snap, table="seen_bf")
    b2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    s2, n2 = incremental_exact_dedup(
        b2, snap, table="seen_bf", broadcast_batch=False
    )
    assert {r["doc_id"] for r in s2.collect()} == {11}
    assert n2 == 1


def test_incremental_distinct_matches_single_shot(spark, snap):
    """Union of per-batch sketches must EQUAL the single-shot sketch
    estimate (per-register max is order- and overlap-insensitive), and
    land within tolerance of the exact count."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.functions.sketches import IncrementalDistinct

    ev = spark.range(60_000).select((F.col("id") % 23_456).alias("u"))
    inc = IncrementalDistinct(snap, table="hll")
    assert inc.estimate(spark) == 0  # nothing committed yet
    # overlapping, unordered batches
    inc.update(ev.filter("u >= 10000"), "u")
    inc.update(ev.filter("u < 15000"), "u")
    inc.update(ev.filter("u % 2 = 0"), "u")
    est = inc.estimate(spark)
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("e")
    ).first()["e"]
    # all three batches are >= 10k distinct -> dense HLL mode, where
    # union is bit-identical to single-shot (the sparse->dense
    # promotion zone is only bounded-close; see IncrementalDistinct)
    assert est == int(single)
    exact = 23_456
    assert abs(est - exact) <= exact * 0.05
    # one snapshot commit per update
    assert snap.latest_version("hll") == 3


def test_incremental_histogram_exact_merge_and_quantile(spark, snap):
    """Merged bin counts across unordered overlapping batches must be
    BIT-IDENTICAL to a single-shot histogram (integer merge), and the
    quantile estimate lands within one bin width of the exact value."""
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.functions.sketches import IncrementalHistogram

    df = spark.range(10_000).select((F.col("id") % 997).cast("double").alias("v"))
    hist = IncrementalHistogram(snap, lo=0.0, width=100.0, n_bins=10, table="h")
    hist.update(df.filter("v < 600"), "v")
    hist.update(df.filter("v >= 300"), "v")  # overlap on purpose? no —
    # rows, not values, define the histogram: together these two
    # filters cover every row exactly once plus the 300-599 overlap
    merged = {(r["bin"], r["cnt"]) for r in hist.merged(spark).collect()}
    both = df.filter("v < 600").unionByName(df.filter("v >= 300"))
    single = IncrementalHistogram(
        snap, lo=0.0, width=100.0, n_bins=10, table="h_single"
    )
    single.update(both, "v")
    want = {(r["bin"], r["cnt"]) for r in single.merged(spark).collect()}
    assert merged == want
    # quantile: p=0.5 over 0..996 uniform-ish -> exact ~ 498; bound by
    # one bin width above
    q = single.quantile(spark, 0.5)
    import numpy as np

    exact = float(np.quantile(both.toPandas()["v"], 0.5))
    assert exact <= q <= exact + 100.0 + 1e-9


def test_incremental_histogram_clamps_and_validates(spark, snap):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.functions.sketches import IncrementalHistogram

    with _pytest.raises(ValueError, match="width"):
        IncrementalHistogram(snap, lo=0, width=0, n_bins=5)
    hist = IncrementalHistogram(snap, lo=0.0, width=1.0, n_bins=4, table="hc")
    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (3.5,), (99.0,), (None,)], "v double"
    )
    hist.update(df, "v")
    got = {(r["bin"], r["cnt"]) for r in hist.merged(spark).collect()}
    assert got == {(0, 2), (3, 2)}  # -5 clamps to 0, 99 clamps to 3, null dropped
    with _pytest.raises(ValueError, match="p must be"):
        hist.quantile(spark, 0.0)


def test_snapshot_upsert_scd1(spark, tmp_path):
    """upsert supersedes matching keys, carries the rest, keeps old
    versions time-travelable, and vacuum reclaims them."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    v1 = store.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"),
        "t",
    )
    v2 = store.upsert(
        spark,
        spark.createDataFrame([(2, "B2"), (4, "d")], "k bigint, v string"),
        "t",
        key="k",
    )
    assert v2 == v1 + 1
    now = {(r["k"], r["v"]) for r in store.read(spark, "t").collect()}
    assert now == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    # time travel still sees the pre-merge state
    old = {(r["k"], r["v"]) for r in store.read(spark, "t", version=v1).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}
    # upsert into a missing table is a plain first append
    store.upsert(
        spark, spark.createDataFrame([(9, "z")], "k bigint, v string"), "t2", key="k"
    )
    assert store.read(spark, "t2").count() == 1
    # vacuum drops superseded files; latest still reads
    store.vacuum("t")
    assert {(r["k"], r["v"]) for r in store.read(spark, "t").collect()} == now


# ---- exactly-once streaming sink (streaming/snapshot_sink.py) ----


def test_snapshot_sink_commits_and_skips_replay(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.snapshot_sink import (
        SnapshotStreamSink,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    sink = SnapshotStreamSink(store, "t")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    b1 = spark.createDataFrame([(3, "c")], "id long, s string")

    assert sink.process_batch(b0, 0) is True
    assert sink.process_batch(b1, 1) is True
    # post-crash replay: same id re-delivered -> skipped, no dup rows
    assert sink.process_batch(b1, 1) is False
    assert sink.process_batch(b0, 0) is False  # older id also skipped
    assert sink.n_committed == 2 and sink.n_skipped == 2
    assert store.read(spark, "t").count() == 3
    assert sink.last_batch_id() == 1
    # marker rides in the manifest, readable without data IO, and is
    # namespaced by the query name
    assert store.latest_metadata("t") == {
        "batch_query": "snapshot_ingest", "batch_id": 1,
    }


def test_snapshot_sink_empty_batch_not_committed(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.snapshot_sink import (
        SnapshotStreamSink,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    sink = SnapshotStreamSink(store, "t")
    empty = spark.createDataFrame([], "id long")
    assert sink.process_batch(empty, 0) is False
    assert not store.exists("t")


def test_snapshot_sink_end_to_end_stream(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.snapshot_sink import (
        SnapshotStreamSink,
    )

    src = tmp_path / "src"
    spark.range(50).selectExpr("id", "id % 5 as k").write.parquet(str(src))
    store = SnapshotStateStore(str(tmp_path / "store"))
    sink = SnapshotStreamSink(store, "ingest")
    stream = spark.readStream.schema("id long, k long").parquet(str(src))
    q = sink.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = store.read(spark, "ingest")
    assert got.count() == 50
    assert sink.n_committed >= 1
    # rerunning the finished stream from the same checkpoint must not
    # re-ingest anything (no new data, and markers guard replays)
    q2 = sink.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert store.read(spark, "ingest").count() == 50


def test_snapshot_sink_second_query_into_one_table_lands_all_rows(
    spark, tmp_path
):
    """A second streaming query into the same table (new query name,
    fresh checkpoint, batch ids restarting at 0) commits its batches:
    the marker is matched per query name, so the first query's marker
    cannot skip them. A replay of either query under its own name
    still adds nothing."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.snapshot_sink import (
        SnapshotStreamSink,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    for name, lo, hi in (("a", 0, 10), ("b", 10, 40)):
        spark.range(lo, hi).coalesce(1).write.parquet(str(tmp_path / name))

    def run(src: str, name: str, ckpt: str) -> SnapshotStreamSink:
        sink = SnapshotStreamSink(store, "t")
        stream = spark.readStream.schema("id long").parquet(str(tmp_path / src))
        sink.attach(
            stream, checkpoint=str(tmp_path / ckpt), query_name=name
        ).awaitTermination()
        return sink

    assert run("a", "feed_a", "ckpt_a").n_committed == 1
    assert run("b", "feed_b", "ckpt_b").n_committed == 1
    assert sorted(r["id"] for r in store.read(spark, "t").collect()) == list(
        range(40)
    )
    replay = run("b", "feed_b", "ckpt_b2")
    assert replay.n_committed == 0 and replay.n_skipped == 1
    assert store.read(spark, "t").count() == 40


def test_latest_metadata_empty_for_plain_appends(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "store"))
    store.append(spark.createDataFrame([(1,)], "id long"), "t")
    assert store.latest_metadata("t") == {}
    assert store.latest_metadata("missing") == {}


# ---- SCD-2 history tracking (sources/state.py) ----


def test_scd2_two_batches_intervals_and_views(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        scd2_as_of,
        scd2_current,
        upsert_scd2,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    b1 = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    upsert_scd2(store, spark, b1, "dim", key="k", seq=1)
    b2 = spark.createDataFrame([(2, 99), (4, 40)], "k long, v long")
    upsert_scd2(store, spark, b2, "dim", key="k", seq=2)

    hist = store.read(spark, "dim")
    rows = {(r.k, r.valid_from_seq): r for r in hist.collect()}
    assert len(rows) == 5
    assert rows[(2, 1)].valid_to_seq == 2  # superseded
    assert rows[(2, 2)].valid_to_seq is None and rows[(2, 2)].v == 99
    assert rows[(1, 1)].valid_to_seq is None  # untouched stays open
    assert rows[(4, 2)].valid_to_seq is None  # fresh insert

    cur = {r.k: r.v for r in scd2_current(hist).collect()}
    assert cur == {1: 10, 2: 99, 3: 30, 4: 40}
    asof1 = {r.k: r.v for r in scd2_as_of(hist, 1).collect()}
    assert asof1 == {1: 10, 2: 20, 3: 30}


def test_scd2_rejects_non_advancing_seq_and_colliding_key(spark, tmp_path):
    import pytest

    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        upsert_scd2,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    b = spark.createDataFrame([(1, 10)], "k long, v long")
    upsert_scd2(store, spark, b, "dim", key="k", seq=5)
    with pytest.raises(ValueError, match="advance"):
        upsert_scd2(store, spark, b, "dim", key="k", seq=5)
    with pytest.raises(ValueError, match="collides"):
        upsert_scd2(store, spark, b, "dim", key="valid_from_seq", seq=9)


def test_scd2_history_survives_time_travel(spark, tmp_path):
    """Each upsert is one store commit: store-level time travel plus
    SCD-2 sequence travel compose."""
    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        upsert_scd2,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    b1 = spark.createDataFrame([(1, 10)], "k long, v long")
    v1 = upsert_scd2(store, spark, b1, "dim", key="k", seq=1)
    b2 = spark.createDataFrame([(1, 11)], "k long, v long")
    upsert_scd2(store, spark, b2, "dim", key="k", seq=2)
    old = store.read(spark, "dim", version=v1)
    assert old.count() == 1 and old.collect()[0].v == 10


# ---- fit crash recovery (plans/kmeans.resume_fit) ----


def test_resume_fit_replays_uninterrupted_fit(spark, tmp_path):
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    full_store = SnapshotStateStore(str(tmp_path / "full"))
    eng = KMeansEngine(k=3, seed=42, max_iter=8)
    full = eng.fit(yh, state_store=full_store, state_table="wcr")
    assert full.n_iter >= 2, "fixture fit too short to test resume"

    # simulate a crash after step `cut`: copy only steps <= cut
    cut = 1
    crashed = SnapshotStateStore(str(tmp_path / "crashed"))
    log = full_store.read(spark, "wcr").filter(f"step <= {cut}")
    crashed.append(log, "wcr")

    resumed = KMeansEngine(k=3, seed=999, max_iter=8).resume_fit(
        yh, crashed, state_table="wcr"
    )  # note: seed irrelevant after init — resume must not re-init
    assert resumed.model == full.model
    assert resumed.converged == full.converged
    assert resumed.n_iter == full.n_iter
    # the persisted log caught up to the full fit's step count
    got_steps = {
        r.step for r in crashed.read(spark, "wcr").select("step").collect()
    }
    want_steps = {
        r.step for r in full_store.read(spark, "wcr").select("step").collect()
    }
    assert got_steps == want_steps
    # history stitched: restored prefix + continued steps, one model per step
    assert {s for s, _, _ in resumed.history} == want_steps


def test_resume_fit_validates(spark, tmp_path):
    import pytest

    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    store = SnapshotStateStore(str(tmp_path / "s"))
    with pytest.raises((ValueError, Exception)):
        KMeansEngine(k=3).resume_fit(yh, store)
    eng = KMeansEngine(k=3, seed=42, max_iter=2)
    eng.fit(yh, state_store=store, state_table="wcr")
    with pytest.raises(ValueError, match="k="):
        KMeansEngine(k=5).resume_fit(yh, store, state_table="wcr")


# ---- snapshot CDC diff (sources/state.snapshot_diff) ----


def test_snapshot_diff_all_change_types(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        snapshot_diff,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    v1 = store.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ),
        "t",
    )
    # v2: key 1 unchanged, key 2 changed, key 3 removed, key 4 added
    store.truncate("t")
    v3 = store.append(
        spark.createDataFrame(
            [(1, 10), (2, 99), (4, 40)], "k long, v long"
        ),
        "t",
    )
    diff = {
        r.k: r.change
        for r in snapshot_diff(store, spark, "t", v1, v3, key="k").collect()
    }
    assert diff == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_key_only_table(spark, tmp_path):
    """A table with ONLY the key column: no digest columns — presence
    is the whole row, so only added/removed/unchanged can occur."""
    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        snapshot_diff,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    v1 = store.append(spark.createDataFrame([(1,), (2,)], "k long"), "t")
    store.truncate("t")
    v3 = store.append(spark.createDataFrame([(2,), (5,)], "k long"), "t")
    diff = {
        r.k: r.change
        for r in snapshot_diff(store, spark, "t", v1, v3, key="k").collect()
    }
    assert diff == {1: "removed", 2: "unchanged", 5: "added"}


def test_scd2_temporal_join_point_in_time(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        scd2_temporal_join,
        upsert_scd2,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    upsert_scd2(
        store, spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        "dim", key="k", seq=1,
    )
    upsert_scd2(
        store, spark,
        spark.createDataFrame([(2, 99), (3, 30)], "k long, v long"),
        "dim", key="k", seq=2,
    )
    hist = store.read(spark, "dim")
    facts = spark.createDataFrame(
        [(2, 1), (2, 2), (1, 2), (3, 1), (3, 2)], "k long, seq long"
    )
    got = {
        (r.k, r.seq): r.v
        for r in scd2_temporal_join(facts, hist, "k", "seq").collect()
    }
    # key 2 at seq 1 sees the OLD value; at seq 2 the rewrite;
    # key 3 did not exist at seq 1 -> inner join drops that fact
    assert got == {(2, 1): 20, (2, 2): 99, (1, 2): 10, (3, 2): 30}
    left = scd2_temporal_join(facts, hist, "k", "seq", how="left")
    assert left.count() == 5  # the pre-existence fact kept with NULLs
    import pytest

    with pytest.raises(ValueError, match="collides"):
        scd2_temporal_join(facts, hist, "k", "valid_from_seq")


def test_resume_fit_after_convergence_is_noop(spark, tmp_path):
    """Crash AFTER the fit converged: resume must recognize
    convergence from the log's last two steps and return WITHOUT
    replaying an extra Lloyd step or appending spurious state."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.sources.dataset import load_yh

    yh = load_yh(spark, "/root/testdata/sf0.001", "lineitem")
    store = SnapshotStateStore(str(tmp_path / "s"))
    # k=1 converges by construction: step 1 lands on the global mean,
    # step 2 recomputes the identical mean -> movement 0
    full = KMeansEngine(k=1, seed=42, max_iter=6).fit(
        yh, state_store=store, state_table="wcr"
    )
    assert full.converged, "k=1 fit must converge at the global mean"
    steps_before = {
        r.step for r in store.read(spark, "wcr").select("step").collect()
    }
    resumed = KMeansEngine(k=1, seed=1, max_iter=6).resume_fit(
        yh, store, state_table="wcr"
    )
    assert resumed.converged and resumed.model == full.model
    assert resumed.n_iter == full.n_iter
    steps_after = {
        r.step for r in store.read(spark, "wcr").select("step").collect()
    }
    assert steps_after == steps_before  # nothing appended


def test_scd2_rejects_duplicate_keys_in_batch(spark, tmp_path):
    """One open row per key per batch is the invariant every SCD-2
    consumer (snapshot_diff, temporal joins) relies on; a duplicate
    key in one batch must be rejected, not silently fan out
    (ADVICE r5)."""
    import pytest

    from clickhouse_k_means_spark.sources.state import (
        SnapshotStateStore,
        upsert_scd2,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    dup = spark.createDataFrame([(1, 10), (1, 11)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_scd2(store, spark, dup, "dim", key="k", seq=1)
    assert not store.exists("dim")  # nothing committed
    # clean batch still works, including against an existing table
    ok = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    upsert_scd2(store, spark, ok, "dim", key="k", seq=1)
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_scd2(store, spark, dup, "dim", key="k", seq=2)


def test_snapshot_sink_marker_survives_interleaved_commit(spark, tmp_path):
    """An upsert/append from OUTSIDE the sink between two micro-batches
    must not erase the batch_id idempotence marker: replay after such
    a mix would double-commit (ADVICE r5 — marker now found by
    backward manifest scan, not latest-manifest-only)."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore
    from clickhouse_k_means_spark.streaming.snapshot_sink import (
        SnapshotStreamSink,
    )

    store = SnapshotStateStore(str(tmp_path / "store"))
    sink = SnapshotStreamSink(store, "t")
    b0 = spark.createDataFrame([(1, "a")], "id long, s string")
    assert sink.process_batch(b0, 7) is True
    # accidental non-sink commit on the same table (no batch_id meta)
    store.append(spark.createDataFrame([(9, "z")], "id long, s string"), "t")
    assert store.latest_metadata("t") == {}  # newest manifest lacks it
    assert sink.last_batch_id() == 7  # but the marker is still found
    # crash-replay of batch 7 is therefore still skipped
    assert sink.process_batch(b0, 7) is False
    assert store.read(spark, "t").count() == 2


# ---- injectable commit protocol (VERDICT r5 item 8) ----


class _FakeConditionalPut:
    """Object-store-style conditional put backed by plain writes, with
    a scripted number of initial losses to simulate a racing writer."""

    def __init__(self, lose_first: int = 0):
        self.lose_first = lose_first
        self.attempts = 0
        self.committed = []

    def put_if_absent(self, final, content) -> bool:
        self.attempts += 1
        if self.attempts <= self.lose_first:
            # the "other writer" claims this version
            final.write_text(
                content.replace('"meta": {}', '"meta": {"winner": "other"}')
            )
            return False
        if final.exists():
            return False
        final.write_text(content)
        self.committed.append(final.name)
        return True


def test_snapshot_store_accepts_injected_commit_protocol(spark, tmp_path):
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    proto = _FakeConditionalPut()
    store = SnapshotStateStore(str(tmp_path / "s"), commit_protocol=proto)
    v1 = store.append(spark.createDataFrame([(1,)], "id long"), "t")
    v2 = store.append(spark.createDataFrame([(2,)], "id long"), "t")
    assert (v1, v2) == (1, 2)
    assert proto.committed == ["v00000001.json", "v00000002.json"]
    assert store.read(spark, "t").count() == 2


def test_snapshot_commit_retries_when_protocol_loses_race(spark, tmp_path):
    """A lost conditional put must re-read the winner's manifest as the
    new base and land at the next version with no lost update."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    proto = _FakeConditionalPut(lose_first=1)
    store = SnapshotStateStore(str(tmp_path / "s"), commit_protocol=proto)
    v = store.append(spark.createDataFrame([(1,)], "id long"), "t")
    # attempt 1 lost v1 to the scripted "other writer"; retry won v2
    assert v == 2
    assert proto.attempts == 2
    got = store.read(spark, "t")
    assert got.count() == 1  # own batch applied exactly once
    assert store.latest_metadata("t") == {}


def test_default_protocol_is_hard_link(tmp_path):
    from clickhouse_k_means_spark.sources.state import (
        HardLinkCommitProtocol,
        SnapshotStateStore,
    )

    store = SnapshotStateStore(str(tmp_path / "s"))
    assert isinstance(store._protocol, HardLinkCommitProtocol)
    final = tmp_path / "m.json"
    assert store._protocol.put_if_absent(final, "a") is True
    assert store._protocol.put_if_absent(final, "b") is False
    assert final.read_text() == "a"
    # no temp litter either way
    assert list(tmp_path.glob(".tmp-*")) == []


def test_rollback_and_tables_listing(spark, tmp_path):
    """rollback(v) restores a table to an earlier snapshot as a NEW
    version (Delta RESTORE); tables() lists committed tables only —
    the primitives the ingest CLI's failed-write undo uses (ADVICE r8)."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    assert store.tables() == []
    store.append(spark.createDataFrame([(1,)], "id long"), "t")
    store.append(spark.createDataFrame([(2,)], "id long"), "t")
    store.append(spark.createDataFrame([(9,)], "id long"), "u")
    assert store.tables() == ["t", "u"]
    assert store.read(spark, "t").count() == 2
    v = store.rollback("t", 1)
    assert v == 3  # restore is a new commit, history preserved
    assert {r["id"] for r in store.read(spark, "t").collect()} == {1}
    # the rolled-back version is still time-travelable
    assert store.read(spark, "t", version=2).count() == 2
    # schema rides through a rollback of an empty-after-truncate table
    store.truncate("u")
    v_u = store.rollback("u", 1)
    assert {r["id"] for r in store.read(spark, "u", version=v_u).collect()} == {9}


def test_drop_removes_table_physically(spark, tmp_path):
    """drop() undoes table CREATION: exists() back to False (unlike
    truncate, which stays True forever) — the primitive the ingest
    CLI's failed-FIRST-write rollback needs (ADVICE r9)."""
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    store = SnapshotStateStore(str(tmp_path / "s"))
    store.append(spark.createDataFrame([(1,)], "id long"), "t")
    assert store.exists("t")
    store.drop("t")
    assert not store.exists("t")
    assert store.tables() == []
    store.drop("t")  # no-op on a missing table
    # truncate, by contrast, keeps the table existing (the contract
    # the drop docstring contrasts against)
    store.append(spark.createDataFrame([(1,)], "id long"), "u")
    store.truncate("u")
    assert store.exists("u")


# ---- merge-on-read delta commits (r14 — VERDICT r13 item 2) ----


def test_merge_delta_is_o_batch_and_resolves_on_read(spark, snap):
    """A churn commit stages ONLY the change: the base files of the
    pre-churn snapshot are carried by name (no restage), tombstoned
    keys disappear from the resolved read, fresh rows appear, and the
    pinned pre-churn version replays exactly."""
    base = spark.range(0, 100).select(
        F.col("id").alias("n"), (F.col("id") * 10).alias("val")
    )
    v1 = snap.append(base, "t")
    m1_files = set(snap._read_manifest("t", v1)["files"])
    tomb = spark.createDataFrame([(3,), (7,)], "n bigint")
    fresh = spark.createDataFrame([(7, 999), (200, 2000)], "n bigint, val bigint")
    v2 = snap.merge_delta("t", "n", tombstones=tomb, fresh=fresh)
    m2 = snap._read_manifest("t", v2)
    # O(batch): the base file list is IDENTICAL (carried by name)
    assert set(m2["files"]) == m1_files
    assert len(m2["deltas"]) == 1
    got = {r["n"]: r["val"] for r in snap.read(spark, "t").collect()}
    assert 3 not in got            # tombstoned, no replacement
    assert got[7] == 999           # tombstoned + fresh = upsert
    assert got[200] == 2000        # pure insert
    assert got[5] == 50 and len(got) == 100
    # time travel: the pre-churn version is untouched
    pinned = {r["n"]: r["val"] for r in snap.read(spark, "t", version=v1).collect()}
    assert pinned[3] == 30 and pinned[7] == 70 and 200 not in pinned
    # churn-commit bytes scale with the BATCH, not the corpus
    layer = m2["deltas"][0]
    data = snap._data("t")
    batch_bytes = sum(
        (data / f).stat().st_size
        for f in layer["tombstones"] + layer["fresh"]
    )
    base_bytes = sum((data / f).stat().st_size for f in m2["files"])
    assert batch_bytes < base_bytes


def test_merge_delta_append_rollback_vacuum_interplay(spark, snap):
    """Layers survive the surrounding lifecycle: a plain append over
    pending deltas lands AFTER them (never exposed to earlier
    tombstones), rollback restores a delta-bearing manifest verbatim,
    vacuum keeps layer files, and optimize folds layers to zero with
    identical resolved content."""
    base = spark.range(0, 50).select(
        F.col("id").alias("n"), (F.col("id") + 100).alias("val")
    )
    snap.append(base, "t")
    snap.merge_delta(
        "t", "n",
        tombstones=spark.createDataFrame([(1,)], "n bigint"),
    )
    # plain append of a row with the TOMBSTONED key: must be visible
    # (the append happens after the delete)
    v3 = snap.append(
        spark.createDataFrame([(1, 777)], "n bigint, val bigint"), "t"
    )
    got = {r["n"]: r["val"] for r in snap.read(spark, "t").collect()}
    assert got[1] == 777 and len(got) == 50
    assert snap.delta_layers("t") == 2  # tombstone layer + append rider
    # another churn, then rollback to v3: layers restored verbatim
    snap.merge_delta(
        "t", "n", tombstones=spark.createDataFrame([(2,)], "n bigint")
    )
    assert 2 not in {r["n"] for r in snap.read(spark, "t").collect()}
    snap.rollback("t", v3)
    back = {r["n"]: r["val"] for r in snap.read(spark, "t").collect()}
    assert back == got
    # vacuum keeps every file the head's layers reference
    snap.vacuum("t")
    assert {r["n"]: r["val"] for r in snap.read(spark, "t").collect()} == got
    # optimize folds: zero layers, same resolved rows
    snap.optimize(spark, "t")
    assert snap.delta_layers("t") == 0
    assert {r["n"]: r["val"] for r in snap.read(spark, "t").collect()} == got


def test_merge_delta_fold_keeps_user_columns_named_like_its_tags(spark, snap):
    """The single-join fold tags rows with internal origin/ordinal
    columns; a table that already has columns of those names must read
    back with its own values, not have them overwritten and dropped."""
    schema = "n bigint, __ckms_origin string, __ckms_tl bigint"
    snap.append(
        spark.createDataFrame([(1, "base-1", 10), (2, "base-2", 20)], schema), "t"
    )
    snap.merge_delta(
        "t", "n",
        tombstones=spark.createDataFrame([(2,)], "n bigint"),
        fresh=spark.createDataFrame([(2, "fresh-2", 21)], schema),
    )
    got = snap.read(spark, "t")
    assert got.columns == ["n", "__ckms_origin", "__ckms_tl"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "base-1", 10), (2, "fresh-2", 21)
    ]


def _random_layers(seed: int, mixed: bool) -> tuple[list, list]:
    """A base and 7 random delta layers over rows ``(a, b, v)``, each
    layer ``(key, tombstones or None, fresh rows or None)``: a mix of
    tombstone-only, fresh-only and tombstone+fresh layers, with NULL
    keys (in both key columns) among the rows and the tombstones.
    Pinned inside the random mix: ``a = 100`` is tombstoned at layers
    2 and 5 with a fresh row at layer 3 (dead at the head), and
    ``a = 101`` is tombstoned at layer 2 and re-added at layer 4 (live
    at the head). ``mixed`` keys some tombstone layers on ``b``
    instead of ``a``."""
    import random

    rng = random.Random(seed)
    base = [(a, a % 3, 0.0) for a in range(12)] + [(100, 50, 0.0), (101, 50, 0.0)]
    base += [(None, None, -1.0), (None, None, -2.0)]
    layers = []
    for i in range(1, 8):
        kinds = {2: ("tomb", "both"), 5: ("tomb", "both"), 3: ("fresh", "both"),
                 4: ("fresh", "both")}.get(i, ("tomb", "fresh", "both"))
        kind = rng.choice(kinds)
        key = "b" if mixed and i not in (2, 5) and rng.random() < 0.5 else "a"
        tomb = fresh = None
        if kind != "fresh":
            pool = range(3) if key == "b" else range(14)
            tomb = rng.sample(pool, 1 if key == "b" else 3)
            tomb += [None] if rng.random() < 0.5 else []
            tomb += {2: [100, 101], 5: [100]}.get(i, [])
        if kind != "tomb":
            fresh = [(a, a % 3, float(100 * i + a)) for a in rng.sample(range(14), 2)]
            fresh += [(None, None, -10.0 * i)] if rng.random() < 0.5 else []
            fresh += {3: [(100, 50, 300.0)], 4: [(101, 50, 401.0)]}.get(i, [])
        layers.append((key, tomb, fresh))
    return base, layers


@pytest.mark.parametrize("seed,mixed", [(1, False), (2, False), (3, True)])
def test_merge_delta_fold_matches_layer_by_layer_model(spark, snap, seed, mixed):
    """``read`` at every version equals a plain-Python model that
    applies the layers one by one: each layer drops the rows whose
    key it tombstones, then adds its fresh rows. NULL keys never
    match a tombstone."""
    schema = "a bigint, b bigint, v double"
    base, layers = _random_layers(seed, mixed)
    model = list(base)
    versions = [(snap.append(spark.createDataFrame(base, schema), "t"), list(model))]
    for key, tomb, fresh in layers:
        if tomb is not None:
            col = 0 if key == "a" else 1
            model = [r for r in model if r[col] is None or r[col] not in tomb]
        model += fresh or []
        v = snap.merge_delta(
            "t", key,
            tombstones=None if tomb is None else spark.createDataFrame(
                [(k,) for k in tomb], f"{key} bigint"
            ),
            fresh=None if fresh is None else spark.createDataFrame(fresh, schema),
        )
        versions.append((v, list(model)))

    def rows(version):
        got = snap.read(spark, "t", version=version).collect()
        return sorted(map(tuple, got), key=repr)

    for v, want in versions:
        assert rows(v) == sorted(want, key=repr), v
    head = rows(None)
    assert not [r for r in head if r[0] == 100]
    assert [r for r in head if r[0] == 101] == [(101, 50, 401.0)]
    nulls = [r for _, _, fresh in layers for r in fresh or [] if r[0] is None]
    assert [r for r in head if r[0] is None] == sorted(
        [r for r in base if r[0] is None] + nulls, key=repr
    )


def test_merge_delta_validates_inputs(spark, snap):
    snap.append(spark.createDataFrame([(1, 2)], "n bigint, val bigint"), "t")
    with pytest.raises(ValueError, match="nothing to commit"):
        snap.merge_delta("t", "n")
    with pytest.raises(ValueError, match="exactly"):
        snap.merge_delta(
            "t", "n",
            tombstones=spark.createDataFrame([(1, 2)], "n bigint, x bigint"),
        )
    with pytest.raises(ValueError, match="lack key"):
        snap.merge_delta(
            "t", "n", fresh=spark.createDataFrame([(1,)], "val bigint")
        )
