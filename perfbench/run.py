"""Benchmark entry point.

    python3 perfbench/run.py --workload reference_fit --seed 1 --seconds 8 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the package runs on ``local[<cores>]``. Every end-to-end
metric the workload has is printed by name and unit, one per line, and
the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the ones ``BENCHMARK.json`` lists: ``end_to_end``
with ``--trace 0`` and ``per_layer`` with ``--trace 1``. A full
artifact (all metrics, checks, spans, input fingerprint) goes to
``.perfbench/artifacts/``; when the artifact of the other trace mode
for the same workload and seed is there, the two runs' results must
be equal and the tracing overhead is added to the artifact.

Exit code 0 when every correctness check passed, 1 when one failed,
2 when the package or an argument is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "clickhouse_k_means_spark"
WORK = ROOT / ".perfbench"
# the inputs are a few MB; a small heap also fills before it is
# collected, so the JVM's peak RSS repeats from run to run
DRIVER_MEM = "1g"


def _spark_env(work: Path) -> None:
    """Point Spark, the JVM and Python workers at the run's own
    directories, before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # no hsperfdata file in the system temp dir; one GC thread, so
        # GC time does not depend on how threads are scheduled; JIT
        # compiler threads that live as long as the JVM (see CpuClock)
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    )
    os.environ.pop("SPARK_GRAFT_MASTER_SET", None)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _contract(wl: str, run, peak_rss: float) -> dict:
    """The ``end_to_end`` metrics of BENCHMARK.json: names shared by
    every workload, each mapped to the workload's own operations. The
    per-operation costs are CPU time, not wall time (see BENCHMARK.md,
    "Why CPU time")."""
    m = {k: v for k, (v, _) in run.metrics.items()}
    if wl == "ann_churn":
        cpu_ms, jobs = m.get("query_cpu_ms"), run.layer.get("query_jobs")
    else:
        cpu_ms, jobs = m.get("fit_cpu_s"), m.get("fit_jobs")
        cpu_ms = cpu_ms and cpu_ms * 1e3
    return {
        "setup_s": (run.setup_s, "s"),
        "primary_cpu_ms": (cpu_ms, "ms"),
        "cycle_cpu_s": (m.get("cycle_cpu_s"), "s"),
        "primary_jobs": (jobs, "count"),
        "peak_rss_mb": (peak_rss, "MB"),
    }


def _code_hash() -> str:
    """Hash of the benchmark's and the package's Python sources: only
    artifacts of the same code are paired."""
    h = hashlib.sha256()
    sources = [*(ROOT / "perfbench").rglob("*.py"), *(ROOT / PACKAGE).rglob("*.py")]
    for path in sorted(sources):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _pair(artifact: dict, other_path: Path) -> dict | None:
    """Compare with the other trace mode's artifact of the same
    workload, seed and code: equal results, and per-metric overhead
    (traced minus untraced)."""
    if not other_path.exists():
        return None
    other = json.loads(other_path.read_text())
    if other.get("code") != artifact["code"]:
        return None
    traced, plain = (artifact, other) if artifact["trace"] else (other, artifact)
    overhead = {}
    for name, (value, unit) in plain["metrics"].items():
        tv = traced["metrics"].get(name, [None])[0]
        if isinstance(value, (int, float)) and isinstance(tv, (int, float)):
            overhead[name] = [tv - value, unit]
    # compare through JSON, as the stored artifact holds it; runs that
    # measured a different number of ann_churn cycles hold different
    # stores and are not comparable (None)
    ours = json.loads(json.dumps(artifact["results"], default=str))
    theirs = other["results"]
    equal = ours == theirs if ours.get("cycles") == theirs.get("cycles") else None
    return {
        "results_equal": equal,
        "untraced_results": plain["results"],
        "traced_results": traced["results"],
        "overhead": overhead,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.trace import (
        CpuClock,
        NullTracer,
        SparkCounters,
        Tracer,
        host_steal_s,
        peak_rss_mb,
    )

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / f"run-{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _spark_env(work)
    from clickhouse_k_means_spark.session import get_spark

    t0, steal0 = time.perf_counter(), host_steal_s()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    try:
        counters = SparkCounters(spark)
        clock = CpuClock(jvm=counters.jvm_pid())
        jit0 = clock.jit()
        run = workloads.Run(
            spark=spark,
            counters=counters,
            tracer=Tracer(counters) if args.trace else NullTracer(),
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            session_start_s=session_start_s,
            clock=clock,
        )
        workloads.WORKLOADS[args.workload](run)
        peak = peak_rss_mb(counters.jvm_pid())
        contract = _contract(args.workload, run, peak)
        run.metrics.update(
            setup_s=(run.setup_s, "s"),
            peak_rss_mb=(peak, "MB"),
            fail_frac=(run.failed / max(1, run.attempted), "ratio"),
        )
        layer = workloads.per_layer(run) if args.trace else {}
        # JIT compiler CPU, left out of every CPU metric
        run.layer["jit_cpu_s"] = clock.jit() - jit0
        # share of the machine's CPU time the host took for other
        # tenants during the run: what makes wall times spread
        run.layer["host_steal_frac"] = (host_steal_s() - steal0) / (
            len(os.sched_getaffinity(0)) * (time.perf_counter() - t0)
        )
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "measured_s": run.measured_s,
        "cores": len(os.sched_getaffinity(0)),
        "inputs": run.inputs,
        "code": _code_hash(),
        "metrics": {k: list(v) for k, v in run.metrics.items()},
        "contract": {k: list(v) for k, v in contract.items()},
        "per_layer": layer,
        "layer_extras": run.layer,
        "checks": {k: list(v) for k, v in run.checks.items()},
        "results": run.results,
        "attempted": run.attempted,
        "failed": run.failed,
        "latencies_s": run.latencies,
        "cpu_s": run.cpu,
        "errors": run.errors[:20],
        "spans": list(run.tracer.spans),
    }
    arts = WORK / "artifacts"
    arts.mkdir(parents=True, exist_ok=True)
    pair = _pair(artifact, arts / f"{args.workload}-seed{args.seed}-trace{1 - args.trace}.json")
    if pair is not None and pair["results_equal"] is not None:
        artifact["paired"] = pair
        run.check("traced_equals_untraced", pair["results_equal"], "results of trace 0 and 1")
        artifact["checks"] = {k: list(v) for k, v in run.checks.items()}
    (arts / f"{tag}.json").write_text(json.dumps(artifact, indent=1, default=str))

    correct = all(ok for ok, _ in run.checks.values())
    print(f"workload {args.workload} seed {args.seed} inputs {run.inputs} trace {args.trace}")
    for name, (value, unit) in run.metrics.items():
        print(f"metric {name} {value} {unit}")
    for name, (ok, detail) in run.checks.items():
        print(f"check {name} {'ok' if ok else 'FAILED'} {detail}")
    for err in run.errors[:3]:
        print(f"error {err}", file=sys.stderr)
    if args.trace:
        chosen = {k: (v, workloads.layer_unit(k)) for k, v in layer.items()}
    else:
        chosen = contract
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
