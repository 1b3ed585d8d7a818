"""CLI driver tests — the reference k-means.sh workflow end-to-end."""

from __future__ import annotations

import json
import os
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parents[1])

import pytest

from clickhouse_k_means_spark.cli import main


def test_cli_generate_and_export(tmp_path, capsys, spark):
    out = str(tmp_path / "pivot")
    hist = str(tmp_path / "wcr")
    rc = main(
        [
            "--generate",
            "--k",
            "4",
            "--seed",
            "42",
            "--out",
            out,
            "--history",
            hist,
            "--quiet",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["converged"] and len(summary["centroids"]) == 4
    # pivot TSV: header + one series column per cluster (S7/P7)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files
    header = open(os.path.join(out, files[0])).readline().strip().split("\t")
    assert header == ["x", "p1", "p2", "p3", "p4"]
    # WCR history parquet
    wcr = spark.read.parquet(hist)
    assert {f.name for f in wcr.schema} == {"step", "j", "C"}
    assert wcr.filter("step = 0").count() == 4


def test_cli_parquet_input(tmp_path, capsys, sf_dir):
    rc = main(
        [
            "--input",
            f"{sf_dir}/lineitem.parquet",
            "--key",
            "l_orderkey",
            "--features",
            "l_quantity,l_discount",
            "--k",
            "3",
            "--max-iter",
            "12",
            "--quiet",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(summary["centroids"]) == 3


def test_cli_summary_elbow_none_on_empty_input(capsys, monkeypatch, spark):
    """elbow() returns None on an empty input; the CLI summary prints
    null instead of failing in round(None, 4)."""
    from clickhouse_k_means_spark.plans import optimal_k

    real = optimal_k.elbow
    assert real(spark.range(0).selectExpr("array(1.0D, 2.0D) AS Y"), [(1, [0.0, 0.0])]) is None
    monkeypatch.setattr(
        optimal_k, "elbow", lambda yh, model, **kw: real(yh.limit(0), model, **kw)
    )
    assert main(["--generate", "--k", "2", "--seed", "42", "--quiet"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["elbow"] is None and len(summary["centroids"]) == 2


def test_cli_input_requires_key_features(capsys):
    assert main(["--input", "x.parquet"]) == 2


def test_pipeline_cli_dedup_split_sample(tmp_path, capsys, spark):
    """pipeline CLI: parquet in -> operator -> parquet out with a JSON
    summary; deterministic across re-runs."""
    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "kept")
    rc = pmain(["dedup", "--input", src, "--out", out, "--mode", "exact"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"cmd": "dedup", "rows_in": 3, "rows_out": 2, "out": out}
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 3}

    out2 = str(tmp_path / "split")
    rc = pmain([
        "split", "--input", src, "--out", out2,
        "--weights", "train=0.5,test=0.5",
    ])
    assert rc == 0
    back = spark.read.parquet(out2)
    assert set(back.columns) == {"doc_id", "text", "split"}
    assigns1 = {(r["doc_id"], r["split"]) for r in back.collect()}
    # re-run lands identically (pure function of key+salt)
    pmain(["split", "--input", src, "--out", out2,
           "--weights", "train=0.5,test=0.5"])
    assigns2 = {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(out2).collect()
    }
    assert assigns1 == assigns2
    capsys.readouterr()

    out3 = str(tmp_path / "sample")
    rc = pmain(["sample", "--input", src, "--out", out3, "--n", "2"])
    assert rc == 0
    samp = spark.read.parquet(out3)
    assert samp.count() == 2 and set(samp.columns) == {"doc_id", "text"}


def test_pipeline_cli_score_and_pack(tmp_path, capsys, spark):
    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "hello world this is fine"), (2, "short")],
        "doc_id long, text string",
    ).write.parquet(src)

    scored = str(tmp_path / "scored")
    rc = pmain(["score", "--input", src, "--out", scored])
    assert rc == 0
    back = spark.read.parquet(scored)
    assert set(back.columns) == {"doc_id", "n_tok", "quality", "lang", "nll_micro"}
    assert back.count() == 2

    packs = str(tmp_path / "packs")
    rc = pmain([
        "pack", "--input", scored, "--out", packs,
        "--tokens", "n_tok", "--budget", "4",
    ])
    assert rc == 0
    pk = spark.read.parquet(packs)
    assert {r["doc_id"]: r["pack_id"] for r in pk.collect()} == {1: 0, 2: 1}


def test_pipeline_cli_chunk_and_profile(tmp_path, capsys, spark):
    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "chunks")
    rc = pmain([
        "chunk", "--input", src, "--out", out,
        "--budget", "4", "--overlap", "1",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "chunk_id", "n_tok", "chunk_md5"}
    # doc 1: starts 0,3,6 (start-6 chunk reaches token 9); doc 2: one
    # chunk; doc 3 (empty): none
    assert summary["rows_out"] == back.count() == 4

    out2 = str(tmp_path / "prof")
    rc = pmain(["profile", "--input", src, "--out", out2,
                "--columns", "doc_id,text"])
    assert rc == 0
    prof = {r.col_name: r for r in spark.read.parquet(out2).collect()}
    assert set(prof) == {"doc_id", "text"}
    assert prof["doc_id"].n_rows == 3 and prof["doc_id"].n_distinct == 3
    capsys.readouterr()


def test_bench_diff_gate(tmp_path):
    """scripts/bench_diff.py joins the BASELINE anchor table with a
    bench artifact and flags >gate ratios mechanically."""
    import json
    import subprocess
    import sys

    baseline = tmp_path / "BASELINE.md"
    baseline.write_text(
        "## AUTHORITATIVE ANCHOR TABLE\n\n"
        "| query | anchor | source |\n|---|---|---|\n"
        "| fast_q | 1.00 s | R6 |\n"
        "| slow_q | 0.50 s (BY DESIGN note) | R6 |\n"
        "| missing_q | 2.00 s | R6 |\n"
        "\nkscale (k=64, etc)\n"
    )
    bench = tmp_path / "bench.json"
    bench.write_text(
        json.dumps(
            {
                "metric": "headline_total",
                "queries": {"fast_q": 1.1},
                "extended": {"slow_q": 1.6, "new_q": 0.2},
            }
        )
        + "\n"
    )
    proc = subprocess.run(
        [
            sys.executable,
            "scripts/bench_diff.py",
            str(bench),
            "--baseline",
            str(baseline),
            "--gate",
            "2.0",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 1  # slow_q at 3.2x fails the gate
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_compared"] == 2
    assert summary["n_fail"] == 1
    assert summary["worst"] == "slow_q"
    assert summary["unanchored"] == ["new_q"]
    assert "missing_q" in proc.stdout  # never silently dropped


def test_bench_diff_reads_driver_tail_artifact():
    """The gate must work against the OFFICIAL driver artifact, whose
    ``tail`` key truncates the bench_queries line mid-JSON (VERDICT r6
    item 1: the r6 gate read the wrong key, compared 0 queries, and
    exited 0). Run against the real BENCH_r06.json: >= 80 queries must
    join via regex recovery from the truncated fragment."""
    import json
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "scripts/bench_diff.py", "BENCH_r06.json"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_compared"] >= 80, summary
    assert proc.returncode == 0, proc.stdout[-500:]


def test_bench_diff_fails_on_zero_joined(tmp_path):
    """A gate that compares nothing must exit non-zero, not pass
    vacuously (VERDICT r6 item 1)."""
    import json
    import subprocess
    import sys

    baseline = tmp_path / "BASELINE.md"
    baseline.write_text(
        "## AUTHORITATIVE ANCHOR TABLE\n\n"
        "| query | anchor | source |\n|---|---|---|\n"
        "| some_q | 1.00 s | R6 |\n"
        "\nkscale (k=64, etc)\n"
    )
    bench = tmp_path / "bench.json"
    bench.write_text(json.dumps({"n": 7, "tail": "no json here"}) + "\n")
    proc = subprocess.run(
        [
            sys.executable,
            "scripts/bench_diff.py",
            str(bench),
            "--baseline",
            str(baseline),
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 1
    assert "zero queries joined" in proc.stderr


def test_bench_summary_line_survives_driver_tail():
    """bench.py's LAST stdout line must fit entirely inside the
    driver's 2000-char tail with generous headroom, and must parse to
    the contract keys (VERDICT r6 item 1b: BENCH_r04..r06 all lost the
    headline to truncation)."""
    import json

    import bench

    headline_queries = {
        q: 9.999
        for q in [
            "kmeans_fit", "lloyd_step", "elbow", "tpch_q1", "tpch_q3",
            "tpch_q5", "minhash_lsh", "simhash", "ann_topk",
            "text_quality", "silhouette", "asof_join", "sessionize",
        ]
    }
    extended = {f"q{i}": 1.0 for i in range(90)}
    kscale = {
        "fit_parallel_warm_sec": 18.841,
        "mllib_warm_sec": 6.29,
        "inertia_ratio": 0.9445,
    }
    line = bench.summary_line(17.43, headline_queries, extended, kscale, 0.1)
    assert len(line) < 600, len(line)
    doc = json.loads(line)
    assert doc["metric"] == "headline_total"
    assert doc["value"] == 17.43 and doc["unit"] == "sec"
    # r9 slimmed contract: 3 flagships only (VERDICT r8 item 6) — the
    # full headline set stays recoverable from the BP pairs line
    assert sorted(doc["queries"]) == sorted(bench.FLAGSHIP_NAMES)
    assert doc["baseline_total"] == bench.BASELINE_HEADLINE_TOTAL
    assert 0 < doc["ratio"] < 2
    assert doc["n_queries"] == 103


def test_pipeline_cluster_subcommand(spark, sf_dir, tmp_path):
    """cluster subcommand: all three algorithms label every input row
    deterministically, parquet-in → parquet-out."""
    import json

    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "pts.parquet")
    rows = [(i, float(i % 7) + (60.0 if i % 2 else 0.0), float(i % 5))
            for i in range(300)]
    spark.createDataFrame(rows, "id bigint, x double, y double").write.parquet(src)
    for algo, extra in [
        ("kmeans", ["--k", "2"]),
        ("bisecting", ["--k", "2"]),
        ("dbscan", ["--eps", "10", "--min-pts", "5"]),
    ]:
        out = str(tmp_path / f"out_{algo}.parquet")
        rc = pmain([
            "cluster", "--input", src, "--out", out, "--key", "id",
            "--features", "x,y", "--algo", algo, *extra,
        ])
        assert rc == 0
        got = spark.read.parquet(out)
        assert got.count() == 300
        assert got.select("id").distinct().count() == 300
        lblcol = "label" if algo == "dbscan" else "j"
        assert got.select(lblcol).distinct().count() == 2, algo


def test_pipeline_cli_semantic_dedup(tmp_path, capsys, spark):
    """dedup --mode semantic: SemDeDup over an embedding column —
    near-identical vectors collapse to one survivor; the distinct
    direction survives untouched."""
    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "embedded")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),       # distinct direction
    ]
    spark.createDataFrame(
        rows, "doc_id long, embedding array<double>"
    ).write.parquet(src)

    out = str(tmp_path / "kept")
    rc = pmain([
        "dedup", "--input", src, "--out", out,
        "--mode", "semantic", "--k", "2", "--threshold", "0.95",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_in"] == 3 and summary["rows_out"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 3 in kept and len(kept & {1, 2}) == 1


def test_pipeline_cli_span_dedup(tmp_path, capsys, spark):
    """dedup --mode span: sub-document dedup REWRITES text — repeated
    spans vanish from later documents, counts land in the output."""
    from clickhouse_k_means_spark.pipeline import main as pmain

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "c d x y")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "deduped")
    rc = pmain([
        "dedup", "--input", src, "--out", out,
        "--mode", "span", "--span-tokens", "2",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_in"] == 2 and summary["rows_out"] == 2
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["dedup_text"])
        for r in spark.read.parquet(out).collect()
    }
    assert got[1] == (2, 2, "a b c d")
    assert got[2] == (2, 1, "x y")


def test_pipeline_cli_ingest_modes(tmp_path, capsys, spark):
    """ingest subcommand: two batches against one state dir — batch 2
    keeps only content absent from batch 1's committed history, and
    the summary line reports what each batch committed."""
    from clickhouse_k_means_spark.pipeline import main as pmain

    state = str(tmp_path / "state")
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    ).write.parquet(b1)
    spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta")],
        "doc_id long, text string",
    ).write.parquet(b2)

    out1 = str(tmp_path / "o1")
    rc = pmain(["ingest", "--input", b1, "--out", out1, "--state", state])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["rows_out"] == 2 and s1["committed"] == 2

    out2 = str(tmp_path / "o2")
    rc = pmain(["ingest", "--input", b2, "--out", out2, "--state", state])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["rows_out"] == 1 and s2["committed"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept == {11}

    # span mode shares the same state-dir protocol
    state_s = str(tmp_path / "state_span")
    out3 = str(tmp_path / "o3")
    rc = pmain([
        "ingest", "--input", b1, "--out", out3, "--state", state_s,
        "--mode", "span", "--span-tokens", "1",
    ])
    assert rc == 0
    s3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s3["committed"] == 4  # alpha, beta, gamma, delta
    out4 = str(tmp_path / "o4")
    rc = pmain([
        "ingest", "--input", b2, "--out", out4, "--state", state_s,
        "--mode", "span", "--span-tokens", "1",
    ])
    assert rc == 0
    s4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s4["committed"] == 2  # epsilon, zeta
    texts = {
        r["doc_id"]: r["dedup_text"]
        for r in spark.read.parquet(out4).collect()
    }
    assert texts == {10: "", 11: "epsilon zeta"}


def test_bench_baseline_total_matches_baseline_md():
    """bench.py hardcodes BASELINE_HEADLINE_TOTAL for the
    tail-survivable summary line; BASELINE.md is what bench_diff
    parses. If the protocol is re-anchored in one place only, the one
    number the driver artifact is designed to preserve silently
    reports the wrong ratio (review finding, r7)."""
    import re

    import bench

    text = open(os.path.join(REPO_ROOT, "BASELINE.md")).read()
    m = re.search(r"baseline total ([0-9.]+) s", text)
    assert m, "BASELINE.md no longer states the headline baseline total"
    assert float(m.group(1)) == bench.BASELINE_HEADLINE_TOTAL


def test_bench_diff_recovers_ALL_anchored_from_simulated_tail(tmp_path):
    """VERDICT r7 item 6: the compact ``BP|`` pairs line must keep the
    ENTIRE anchored set recoverable from a 2000-char driver tail — the
    'anchored but not measured' list must come out empty (the r7
    artifact truncated 30 anchored queries out)."""
    import subprocess
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench
    from scripts.bench_diff import load_anchors

    anchors = load_anchors(os.path.join(REPO_ROOT, "BASELINE.md"))
    headline_names = [
        "kmeans_fit", "lloyd_step", "elbow", "tpch_q1", "tpch_q3",
        "tpch_q5", "minhash_lsh", "simhash", "ann_topk",
        "text_quality", "silhouette", "asof_join", "sessionize",
    ]
    # at-anchor values: the test pins RECOVERABILITY, not the gate
    headline = {q: anchors[q] for q in headline_names}
    extended = {q: v for q, v in sorted(anchors.items())
                if q not in headline}
    kscale = {"fit_parallel_warm_sec": 9.1, "mllib_warm_sec": 6.9,
              "inertia_ratio": 0.9445}
    line2 = json.dumps(
        {"metric": "bench_queries", "sf": 0.1, "kscale": kscale,
         "extended": extended},
        separators=(",", ":"),
    )
    from scripts.bench_codes import encode_pairs

    pairs = encode_pairs({**headline, **extended})
    line3 = bench.summary_line(18.9, headline, extended, kscale, 0.1)
    # pairs + summary must BOTH fit the window in full
    assert len(pairs) + len(line3) + 2 <= 2000, (len(pairs), len(line3))
    out = line2 + "\n" + pairs + "\n" + line3 + "\n"
    art = tmp_path / "BENCH_sim.json"
    art.write_text(json.dumps({"rc": 0, "tail": out[-2000:],
                               "parsed": json.loads(line3)}))
    proc = subprocess.run(
        [sys.executable, "scripts/bench_diff.py", str(art)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_compared"] == len(anchors), summary
    assert "anchored but not measured" not in proc.stdout
    assert proc.returncode == 0, proc.stdout[-400:]


def test_pipeline_cli_ingest_rollback_on_failed_write(tmp_path, capsys, spark):
    """ADVICE r8: the incremental operators commit state BEFORE the
    survivors parquet lands. If that write fails, the ingest CLI must
    roll the state back so a retry does not dedup the batch against
    its own half-committed history and silently lose its content."""
    from clickhouse_k_means_spark.pipeline import main as pmain
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    ).write.parquet(src)
    state = str(tmp_path / "state")

    # batch 1 succeeds and commits hashes
    out1 = str(tmp_path / "kept1")
    assert pmain(["ingest", "--input", src, "--out", out1,
                  "--mode", "exact", "--state", state]) == 0
    store = SnapshotStateStore(state)
    v_before = store.latest_version("seen_hashes")
    capsys.readouterr()

    # batch 2 (new content): output write fails — blocker is a FILE
    # where the writer needs a directory
    src2 = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(3, "eta theta iota")], "doc_id long, text string"
    ).write.parquet(src2)
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    bad_out = str(blocker / "out")
    with pytest.raises(BaseException):
        pmain(["ingest", "--input", src2, "--out", bad_out,
               "--mode", "exact", "--state", state])
    # state rolled back: batch 2's hash is NOT in the latest snapshot
    assert store.read(spark, "seen_hashes").count() == \
        store.read(spark, "seen_hashes", version=v_before).count()
    capsys.readouterr()

    # retry with a good path: the batch's unique content survives
    out2 = str(tmp_path / "kept2")
    assert pmain(["ingest", "--input", src2, "--out", out2,
                  "--mode", "exact", "--state", state]) == 0
    assert {r["doc_id"] for r in spark.read.parquet(out2).collect()} == {3}


def test_pipeline_cli_ingest_rollback_drops_created_tables(
    tmp_path, capsys, spark
):
    """ADVICE r9: when the FIRST batch's output write fails, the
    rollback must DROP the state tables that run created — a truncate
    would leave a permanently 'existing' empty table that downstream
    exists()-guards misread (the artifact ivf_index needed the
    _has_quantizer workaround for)."""
    from clickhouse_k_means_spark.pipeline import main as pmain
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    ).write.parquet(src)
    state = str(tmp_path / "state")
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(BaseException):
        pmain(["ingest", "--input", src, "--out", str(blocker / "o"),
               "--mode", "exact", "--state", state])
    store = SnapshotStateStore(state)
    assert not store.exists("seen_hashes"), (
        "created-by-failed-run table must be dropped, not truncated"
    )
    capsys.readouterr()
    # retry from scratch works and the content survives
    out = str(tmp_path / "kept")
    assert pmain(["ingest", "--input", src, "--out", out,
                  "--mode", "exact", "--state", state]) == 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_pipeline_cli_ingest_failed_write_adds_no_version(
    tmp_path, capsys, spark
):
    """ingest plans, writes the survivors, and only then commits their
    history: a failed write leaves the history at its prior version
    (no commit, and no rollback commit undoing it), and a retry lands
    the batch's unique content."""
    from clickhouse_k_means_spark.pipeline import main as pmain
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    ).write.parquet(src)
    state = str(tmp_path / "state")
    assert pmain(["ingest", "--input", src, "--out", str(tmp_path / "k1"),
                  "--mode", "exact", "--state", state]) == 0
    store = SnapshotStateStore(state)
    v_before = store.latest_version("seen_hashes")
    capsys.readouterr()

    src2 = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(2, "eta theta iota"), (3, "eta theta iota")],
        "doc_id long, text string",
    ).write.parquet(src2)
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(BaseException):
        pmain(["ingest", "--input", src2, "--out", str(blocker / "o"),
               "--mode", "exact", "--state", state])
    assert store.latest_version("seen_hashes") == v_before
    capsys.readouterr()

    out = str(tmp_path / "k2")
    assert pmain(["ingest", "--input", src2, "--out", out,
                  "--mode", "exact", "--state", state]) == 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {2}
    assert store.latest_version("seen_hashes") == v_before + 1


def test_pipeline_cli_compact(tmp_path, capsys, spark):
    """compact = snapshot-store OPTIMIZE (+ optional VACUUM) as a
    maintenance subcommand: many tiny ingest commits bin-pack into one
    snapshot; content unchanged; vacuum reclaims unreferenced files."""
    from clickhouse_k_means_spark.pipeline import main as pmain
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    state = str(tmp_path / "state")
    store = SnapshotStateStore(state)
    for i in range(5):
        store.append(
            spark.createDataFrame([(i,)], "id long").coalesce(1), "t"
        )
    import json as _json
    from pathlib import Path

    n_files_before = len(list(Path(state, "t", "data").glob("*.parquet")))
    assert n_files_before == 5
    rc = pmain(["compact", "--state", state, "--vacuum"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["cmd"] == "compact"
    assert summary["tables"]["t"]["files_vacuumed"] >= 4
    # content identical after compaction
    assert {r["id"] for r in store.read(spark, "t").collect()} == set(range(5))
    # latest snapshot now reads few files
    n_live = len(list(Path(state, "t", "data").glob("*.parquet")))
    assert n_live < n_files_before


def test_pipeline_cli_ann_lifecycle(tmp_path, capsys, spark):
    """ann subcommand drives the persistent IVF index end-to-end:
    build -> append -> stats -> query -> refit -> time-travel query
    pinned before the refit (VERDICT r9 item 4 CLI exposure)."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 17)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    more = str(tmp_path / "more")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(17, 25)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(more)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    b = run(["ann", "build", "--input", vecs, "--state", state,
             "--nlist", "4"])
    assert b["version"] == 1 and b["rows_in"] == 16
    a = run(["ann", "append", "--input", more, "--state", state])
    assert a["version"] == 2 and a["rows_in"] == 8
    stats_out = str(tmp_path / "stats")
    s = run(["ann", "stats", "--state", state, "--out", stats_out])
    srows = spark.read.parquet(stats_out).collect()
    assert sum(r["n_vecs"] for r in srows) == 24 and len(srows) == 4
    qin = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [20.2, 1.0])], "vec_id bigint, embedding array<double>"
    ).write.parquet(qin)
    q_out = str(tmp_path / "qres")
    q = run(["ann", "query", "--input", qin, "--state", state,
             "--out", q_out, "--k", "3", "--nprobe", "2"])
    got = spark.read.parquet(q_out).collect()
    assert q["rows_out"] == 3
    assert sorted(r["n"] for r in got) == [19, 20, 21]
    r = run(["ann", "refit", "--state", state, "--nlist", "4",
             "--seed", "7"])
    assert r["version"] == 3
    # time travel: querying the pre-refit version still works
    q2 = run(["ann", "query", "--input", qin, "--state", state,
              "--out", q_out, "--k", "3", "--nprobe", "2",
              "--version", "2"])
    assert q2["rows_out"] == 3
    # missing required IO paths fail loudly
    assert pmain(["ann", "build", "--state", state]) == 2
    assert pmain(["ann", "stats", "--state", state]) == 2


def test_pipeline_cli_ann_pq_kind(tmp_path, capsys, spark):
    """ann --kind pq drives the persistent PQ index through the FULL
    lifecycle: build / append / query / stats (quantization error) /
    refit (inherits the committed geometry) — r11, PQ maintenance
    parity with IVF."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(1, 33)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    b = run(["ann", "build", "--kind", "pq", "--table", "pq_index",
             "--input", vecs, "--state", state,
             "--m-sub", "2", "--n-codes", "8"])
    assert b["kind"] == "pq" and b["version"] == 1
    a = run(["ann", "append", "--kind", "pq", "--table", "pq_index",
             "--input", vecs, "--state", state])
    assert a["version"] == 2  # full re-ingest: key-idempotent commit
    qin = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [16.1, 1.0, 0.0, 0.5])], "vec_id bigint, embedding array<double>"
    ).write.parquet(qin)
    out = str(tmp_path / "res")
    q = run(["ann", "query", "--kind", "pq", "--table", "pq_index",
             "--input", qin, "--state", state, "--out", out, "--k", "3"])
    assert q["rows_out"] == 3
    got = sorted(r["n"] for r in spark.read.parquet(out).collect())
    assert 16 in got
    st_out = str(tmp_path / "pq_stats")
    st = run(["ann", "stats", "--kind", "pq", "--table", "pq_index",
              "--state", state, "--out", st_out])
    assert st["rows_out"] == 2  # one row per subspace (m_sub=2)
    assert st["qerr"] >= 0
    r = run(["ann", "refit", "--kind", "pq", "--table", "pq_index",
             "--state", state])
    assert r["version"] == 3  # atomic replace commit after the append
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    books = (
        SnapshotStateStore(state)
        .read(spark, "pq_index")
        .filter("n is null")
        .count()
    )
    assert books == 2 * 8  # geometry inherited: 2 subspaces x 8 codes


def test_pipeline_cli_ann_ivfpq_kind(tmp_path, capsys, spark):
    """ann --kind ivfpq drives the composed IVF-PQ index through the
    FULL lifecycle: build / append / query / stats (occupancy skew +
    residual qerr) / refit (inherits the committed two-layer
    geometry)."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(1, 33)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    b = run(["ann", "build", "--kind", "ivfpq", "--table", "ivfpq",
             "--input", vecs, "--state", state, "--nlist", "2",
             "--m-sub", "2", "--n-codes", "4"])
    assert b["kind"] == "ivfpq" and b["version"] == 1
    a = run(["ann", "append", "--kind", "ivfpq", "--table", "ivfpq",
             "--input", vecs, "--state", state])
    assert a["version"] == 2  # full re-ingest: key-idempotent commit
    qin = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [16.1, 1.0, 0.0, 0.5])], "vec_id bigint, embedding array<double>"
    ).write.parquet(qin)
    out = str(tmp_path / "res")
    q = run(["ann", "query", "--kind", "ivfpq", "--table", "ivfpq",
             "--input", qin, "--state", state, "--out", out,
             "--k", "3", "--nprobe", "2", "--rerank", "8"])
    assert q["rows_out"] == 3
    got = sorted(r["n"] for r in spark.read.parquet(out).collect())
    assert 16 in got
    st_out = str(tmp_path / "ivfpq_stats")
    st = run(["ann", "stats", "--kind", "ivfpq", "--table", "ivfpq",
              "--state", state, "--out", st_out])
    assert st["rows_out"] == 2  # one row per coarse cell (nlist=2)
    assert st["skew_factor"] >= 1.0 and st["qerr"] >= 0
    r = run(["ann", "refit", "--kind", "ivfpq", "--table", "ivfpq",
             "--state", state])
    assert r["version"] == 3  # atomic replace commit after the append
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    snap = SnapshotStateStore(state).read(spark, "ivfpq")
    # geometry inherited: 2 cells + 2 subspaces x 4 codes
    assert snap.filter("n is null and sub is null").count() == 2
    assert snap.filter("n is null and sub is not null").count() == 8


def test_pipeline_cli_ann_delete(tmp_path, capsys, spark):
    """ann delete (r12 — VERDICT r11 item 6 CLI exposure): removes the
    named keys as one replace-commit, works from --keys or --input,
    is a no-op (no version churn) when the keys are absent, and the
    pre-delete version stays queryable."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 17)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    b = run(["ann", "build", "--input", vecs, "--state", state,
             "--nlist", "4"])
    assert b["version"] == 1
    d = run(["ann", "delete", "--state", state, "--keys", "3,4"])
    assert d["version"] == 2 and d["deleted_any"] is True
    qin = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [3.1, 1.0])], "vec_id bigint, embedding array<double>"
    ).write.parquet(qin)
    q_out = str(tmp_path / "qres")
    run(["ann", "query", "--input", qin, "--state", state,
         "--out", q_out, "--k", "3", "--nprobe", "4"])
    assert {r["n"] for r in spark.read.parquet(q_out).collect()}.isdisjoint(
        {3, 4}
    )
    # pinned pre-delete version still sees key 3
    run(["ann", "query", "--input", qin, "--state", state,
         "--out", q_out, "--k", "3", "--nprobe", "4", "--version", "1"])
    assert 3 in {r["n"] for r in spark.read.parquet(q_out).collect()}
    # absent keys: no version churn
    d2 = run(["ann", "delete", "--state", state, "--keys", "3,4"])
    assert d2["version"] == 2 and d2["deleted_any"] is False
    # --input parquet form
    kin = str(tmp_path / "kin")
    spark.createDataFrame(
        [(5, [0.0, 0.0])], "vec_id bigint, embedding array<double>"
    ).write.parquet(kin)
    d3 = run(["ann", "delete", "--state", state, "--input", kin])
    assert d3["version"] == 3 and d3["deleted_any"] is True
    # neither --keys nor --input fails loudly
    assert pmain(["ann", "delete", "--state", state]) == 2


def test_pipeline_cli_ann_upsert(tmp_path, capsys, spark):
    """ann upsert (r12): updates a committed key's vector in place and
    inserts new keys as one replace-commit; the pinned pre-upsert
    version keeps the old payload."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 17)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    b = run(["ann", "build", "--input", vecs, "--state", state,
             "--nlist", "4"])
    assert b["version"] == 1
    # move key 3 to the far end of the line, insert key 99
    up = str(tmp_path / "up")
    spark.createDataFrame(
        [(3, [30.0, 1.0]), (99, [31.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(up)
    u = run(["ann", "upsert", "--state", state, "--input", up])
    assert u["version"] == 2 and u["rows_in"] == 2
    qin = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, [30.4, 1.0])], "vec_id bigint, embedding array<double>"
    ).write.parquet(qin)
    q_out = str(tmp_path / "qres")
    run(["ann", "query", "--input", qin, "--state", state,
         "--out", q_out, "--k", "2", "--nprobe", "4"])
    assert {r["n"] for r in spark.read.parquet(q_out).collect()} == {3, 99}
    # pinned pre-upsert: key 3 still near the origin end, 99 absent
    run(["ann", "query", "--input", qin, "--state", state,
         "--out", q_out, "--k", "2", "--nprobe", "4", "--version", "1"])
    assert {r["n"] for r in spark.read.parquet(q_out).collect()}.isdisjoint(
        {3, 99}
    )
    # --input required
    assert pmain(["ann", "upsert", "--state", state]) == 2


def test_pipeline_cli_ann_query_meta_requires_where(tmp_path):
    """ADVICE r13 (low): --meta / a non-default --meta-key without
    --where is a malformed filtered query — the parser fails loudly
    instead of silently running an UNFILTERED search."""
    import pytest

    from clickhouse_k_means_spark.pipeline import main

    base = [
        "ann", "query", "--state", str(tmp_path / "st"),
        "--input", str(tmp_path / "q.parquet"),
        "--out", str(tmp_path / "out"),
    ]
    with pytest.raises(SystemExit) as e1:
        main(base + ["--meta", str(tmp_path / "m.parquet")])
    assert e1.value.code == 2
    with pytest.raises(SystemExit) as e2:
        main(base + ["--meta-key", "doc_id"])
    assert e2.value.code == 2


def test_pipeline_cli_ann_delete_where(tmp_path, capsys, spark):
    """ann delete --where (r14 — VERDICT r13 item 4 CLI exposure):
    predicate takedown over the index's own columns or a --meta
    table; idempotent re-issue reports no churn; --meta without
    --where fails at the parser."""
    import json as _json

    import pytest as _pytest

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 21)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run(["ann", "build", "--input", vecs, "--state", state, "--nlist", "4"])
    # direct predicate over the index key column
    d = run(["ann", "delete", "--state", state, "--where", "n % 5 = 0"])
    assert d["version"] == 2 and d["deleted_any"] is True
    # idempotent: nothing left to match
    d2 = run(["ann", "delete", "--state", state, "--where", "n % 5 = 0"])
    assert d2["version"] == 2 and d2["deleted_any"] is False
    # meta form
    mp = str(tmp_path / "meta")
    spark.createDataFrame(
        [(i, "bad" if i <= 2 else "ok") for i in range(1, 21)],
        "doc_id bigint, domain string",
    ).write.parquet(mp)
    d3 = run([
        "ann", "delete", "--state", state, "--where", "domain = 'bad'",
        "--meta", mp, "--meta-key", "doc_id",
    ])
    assert d3["version"] == 3 and d3["deleted_any"] is True
    # --meta without --where: parser error
    with _pytest.raises(SystemExit) as e:
        pmain(["ann", "delete", "--state", state, "--meta", mp])
    assert e.value.code == 2


def test_pipeline_cli_ann_stats_recall_where(tmp_path, capsys, spark):
    """ann stats --recall --where (r14 — VERDICT r13 item 5 CLI
    exposure): the recall probe runs the FILTERED path over predicate
    survivors; full probe over survivors is exact (1e6 ppm)."""
    import json as _json

    from clickhouse_k_means_spark.pipeline import main as pmain

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i % 5) + 1.0, float(i % 3) + 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    ).write.parquet(vecs)
    state = str(tmp_path / "state")

    def run(argv):
        assert pmain(argv) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run(["ann", "build", "--input", vecs, "--state", state, "--nlist", "2"])
    s = run([
        "ann", "stats", "--state", state, "--out", str(tmp_path / "rep"),
        "--recall", "--nprobe", "2", "--k", "3",
        "--where", "n % 2 = 0",
    ])
    assert s["recall_ppm"] == 1_000_000


def _script_uses(tree) -> set[str]:
    """Script stems a test module imports (``scripts.X``) or names as a
    path to run (a ``"X.py"`` / ``"scripts/X.py"`` string outside a
    docstring)."""
    import ast

    docstrings = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module:
            if n.module == "scripts":
                used |= {a.name for a in n.names}
            elif n.module.startswith("scripts."):
                used.add(n.module.split(".")[1])
        elif isinstance(n, ast.Import):
            used |= {
                a.name.split(".")[1]
                for a in n.names
                if a.name.startswith("scripts.")
            }
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.endswith(".py")
            and id(n) not in docstrings
        ):
            used.add(Path(n.value).stem)
    return used


def test_every_script_is_imported_or_run_by_a_test():
    """No orphan scripts: each ``scripts/*.py`` is imported or run by
    some test, so it cannot rot unnoticed."""
    import ast

    used = set()
    for f in Path(REPO_ROOT, "tests").rglob("*.py"):
        used |= _script_uses(ast.parse(f.read_text()))
    scripts = {p.stem for p in Path(REPO_ROOT, "scripts").glob("*.py")}
    orphans = sorted(scripts - used)
    assert not orphans, f"scripts no test imports or runs: {orphans}"


def test_streams_start_only_in_the_micro_batch_runner():
    """One streaming driver: no package module calls ``writeStream``
    except the micro-batch runner every sink shares
    (``streaming/snapshot_sink.MicroBatchSink._run``) and the
    memory-sink replay (``streaming/windows.run_available_now``)."""
    import ast

    allowed = {
        ("streaming/snapshot_sink.py", "MicroBatchSink._run"),
        ("streaming/windows.py", "run_available_now"),
    }
    pkg = Path(REPO_ROOT, "clickhouse_k_means_spark")
    found = set()

    def visit(node, scope: str, rel: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                found.add((rel, scope))
            visit(child, inner, rel)

    for f in pkg.rglob("*.py"):
        visit(ast.parse(f.read_text()), "", f.relative_to(pkg).as_posix())
    assert found <= allowed, sorted(found - allowed)
    assert found == allowed, "the runner moved: update this guard"


def test_gate_emulator_matches_oracle_hash(spark, capsys):
    """The gate emulator runs a registry key against its DuckDB oracle
    and reports a value-hash match."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    from scripts.gate_emulator import main as gate_main

    assert gate_main(["elbow_total"]) == 0
    out = capsys.readouterr().out
    assert "OK  elbow_total" in out and "'hash_match': True" in out
