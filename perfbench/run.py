"""Seeded benchmark of the RAG engine, end to end and layer by layer.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed`` as parquet under
``.perfbench/`` in the repository root, starts one Spark session at
``local[<nproc>]`` with ``session.get_spark``, sets up, then runs the
workload's operations in a closed loop (one client thread, each
operation waits for its result) until ``--seconds`` have passed, and
checks every output. It prints one run-record line (inputs, host
labels, every latency sample, the named metrics with units) and, as
the last line of stdout, a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run first measures
an untraced window, then a traced one, each half of ``--seconds``, and
reports the difference as the tracing overhead. Each run's record is also written to
``.perfbench/runs/<workload>-seed<seed>-trace<0|1>.json``, and a traced
run's spans to ``...-trace1.spans.json`` beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
    "ingest_chunks_per_s": "1/s",
    "index_bytes_per_chunk": "B",
    "serve_batch_p50_s": "s",
    "recall_at_10": "ratio",
    "refresh_upsert_p50_s": "s",
    "refresh_query_p50_s": "s",
    "curate_docs_per_s": "1/s",
    "dedup_pair_recall": "ratio",
    "failed_op_ratio": "ratio",
}
COUNTER_UNITS = {
    "calls": "count",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_failures": "count",
    "executor_run_s": "s",
    "input_bytes": "B",
    "output_bytes": "B",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
}


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _noop(batches):
    import pandas as pd

    for b in batches:
        yield pd.DataFrame({"n": [len(b)]})


def _window(workload, seconds: float) -> None:
    """Closed loop: the next operation starts when the last has returned,
    until ``seconds`` have passed and the workload's minimum number of
    operations has run."""
    traced = workload.tracer.enabled
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds
           or workload.window_ops(traced) < workload.min_ops):
        if not workload.step():
            break


def _stop(spark, host) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = host.descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def _layer_metrics(tracer, workload, overhead_s: float) -> dict:
    totals = tracer.layer_totals()
    out = {}
    for layer, row in totals.items():
        for k, unit in COUNTER_UNITS.items():
            out[f"{layer}.{k}"] = (row[k], unit)
    out["streaming.ingest.python_bytes"] = (
        totals["streaming.ingest"]["python_bytes"], "B")
    searches = [s for s in tracer.spans if s.name == "operators.search"]
    layout = sum(s.tags.get("layout_bytes", 0) for s in searches)
    read = sum(s.counters["input_bytes"] for s in searches)
    out["operators.search.probe_input_fraction"] = (
        read / layout if layout else 0.0, "ratio")
    out["operators.search.jobs_per_batch"] = (
        sum(s.counters["jobs"] for s in searches) / len(searches)
        if searches else 0.0, "count")
    for k, v in workload.write_amplification(tracer.spans).items():
        out[k] = (v, "ratio")
    out["tracing.overhead_s"] = (overhead_s, "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # the program under test; absent, the run fails here, printing nothing
    import retrieval_augmented_generation__rag__chatbot_with_vector_database_spark  # noqa: F401
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.session import (
        get_spark,
    )

    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    import pyspark

    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{os.getpid()}")
    runs = os.path.join(state_dir, "runs")
    for d in (work, runs, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the work dir; workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:G1HeapRegionSize=32m -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )

    ncpu = host.nproc()
    labels = {
        "nproc": ncpu,
        "pyspark": pyspark.__version__,
        "gemm_gflops": host.gemm_canary(),
        "stream_triad_gbs": host.stream_canary(),
    }
    tracer = Tracer(bool(args.trace))
    workload = WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.request("session"), tracer.span("session"):
            spark = get_spark("perfbench", cpus=str(ncpu))
            spark.sparkContext.setLogLevel("ERROR")
            tracer.bind(spark)
            spark.range(ncpu * 4).repartition(ncpu).mapInPandas(
                _noop, "n long"
            ).count()
        session_s = time.perf_counter() - t0
        labels["master"] = spark.sparkContext.master
        t0 = time.perf_counter()
        workload.setup(spark)
        setup_s = session_s + (time.perf_counter() - t0)

        overhead_s = 0.0
        # a traced run splits its time between an untraced and a traced
        # window, so it takes about as long as an untraced run
        seconds = args.seconds / 2 if args.trace else args.seconds
        if args.trace:
            tracer.enabled = False
            _window(workload, seconds)
            tracer.enabled = True
        _window(workload, seconds)
        tracer.harvest()
        quality = workload.finish()
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        peak_rss = host.peak_rss_mb([os.getpid(), jvm])
        if args.trace:
            overhead_s = _median(workload.op_latencies(True)) - _median(
                workload.op_latencies(False))
        named = dict(workload.named_metrics(quality))
        record_extra = workload.record()
    finally:
        if spark is not None:
            _stop(spark, host)
        shutil.rmtree(work, ignore_errors=True)

    failed, attempted = workload.failed, workload.attempted
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": _median(workload.op_latencies(False)),
        "recall": quality["recall"],
        "peak_rss_mb": peak_rss,
    }
    named.update(
        setup_s=setup_s,
        peak_rss_mb=peak_rss,
        failed_op_ratio=failed / attempted if attempted else 1.0,
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load": "closed loop, 1 client thread, 1 process",
        "host": labels,
        "session_s": session_s,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in named.items()},
        "ops": workload.ops,
        "check_failures": workload.check_failures,
        **record_extra,
    }
    if args.trace:
        layer = _layer_metrics(tracer, workload, overhead_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        record["per_layer"] = metrics
        tracer.dump(os.path.join(
            runs, f"{args.workload}-seed{args.seed}-trace1.spans.json"))
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(
            runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"run_record": record}, default=str))
    # a run without a successful operation has no latency; it reports 0
    # and ``correct: false`` rather than a NaN, which is not JSON
    metrics = {k: {**v, "value": v["value"] if math.isfinite(v["value"]) else 0.0}
               for k, v in metrics.items()}
    print(json.dumps({
        "correct": failed == 0 and attempted > 0 and not workload.check_failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
