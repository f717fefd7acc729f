"""Run one workload: set-up, warm-up, timed loop, metrics.

Each workload object offers ``prepare(seed)`` (generate inputs, build
stores), ``warm_up`` (whether set-up ends with an untimed unit),
``min_units`` (timed units per run at least, whatever ``--seconds``
says) and ``run_unit(tracer, warm)``, one closed-loop unit of work
returning its per-operation samples ``{"s", "items"}``, the number of
operations that failed their checks and its start and end time (the
window whose SQL plans are fingerprinted). A unit is one build
(``ontology_build``), one micro-batch (``ingest_loop``) or one replay
of every file through the four streaming queries, one sample per file:
the four queries' trigger seconds on it, summed (``event_stream``).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time

from .common import peak_rss_mb, percentile_with_tail
from .trace import Tracer, plan_fingerprints

#: (scale) -> workload constructor arguments
SIZES = {
    "ontology_build": {
        "full": dict(n_concepts=2_000, rows_per_sheet=40),
        "small": dict(n_concepts=500, rows_per_sheet=10),
    },
    "ingest_loop": {
        "full": dict(
            n_corpus=600, n_batches=4, batch_size=100,
            resend_corpus_frac=0.15, resend_batch_frac=0.15,
            semantic_threshold=1.0,
        ),
        "small": dict(
            n_corpus=400, n_batches=3, batch_size=50,
            resend_corpus_frac=0.15, resend_batch_frac=0.15,
            semantic_threshold=1.0,
        ),
    },
    "event_stream": {
        "full": dict(
            days=1, n_files=2, dup_frac=0.02, late_frac=0.05, max_late_s=900,
        ),
        "small": dict(
            days=1, n_files=2, dup_frac=0.02, late_frac=0.05, max_late_s=900,
        ),
    },
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}


def spark_conf(tmp: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "localhost",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # keep every job and stage for the traced run's counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "10",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def make_workload(name: str, spark, work: str, size: str):
    kw = SIZES[name][size]
    if name == "ontology_build":
        from .ontology import OntologyBuild

        return OntologyBuild(spark, work, **kw)
    if name == "ingest_loop":
        from .ingest import IngestLoop

        return IngestLoop(spark, work, **kw)
    from .events import EventStream

    return EventStream(spark, work, **kw)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(args, work: str, tmp: str, records: str, record: dict) -> dict:
    from pyspark import SparkContext

    from ontology_graph_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(tmp)
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm_pid = SparkContext._gateway.proc.pid
        return _run(args, spark, work, records, record, session_s, jvm_pid)
    finally:
        _stop(spark)


def _run(args, spark, work, records, record, session_s, jvm_pid) -> dict:
    wl = make_workload(args.workload, spark, work, args.size)
    with open(os.path.join(os.path.dirname(__file__), "pins.json")) as f:
        pins = json.load(f)
    wl.pins = pins.get(args.workload, {}).get(args.size, {}).get(str(args.seed))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    off = Tracer(spark, run_id, enabled=False)

    # ---- set-up: session, generation + store builds, warm-up ----
    t = time.perf_counter()
    wl.prepare(args.seed)
    prepare_s = time.perf_counter() - t
    attempted = failed = 0
    failures = []
    warmup_s = 0.0
    if wl.warm_up or args.trace:
        t = time.perf_counter()
        warm = wl.run_unit(off, warm=True)
        warmup_s = time.perf_counter() - t
        attempted, failed = warm["ops"], warm["failed"]
        failures += warm["failures"]
    setup_s = session_s + prepare_s + warmup_s

    # ---- timed loop ----
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    units = []
    deadline = time.perf_counter() + args.seconds
    i = 0
    # a traced run needs an untraced and a traced unit
    min_units = 2 if args.trace else wl.min_units
    while time.perf_counter() < deadline or i < min_units:
        # traced runs time each unit untraced, then again traced from
        # the same starting state
        traced = bool(args.trace) and i % 2 == 1
        u = wl.run_unit(
            tracer if traced else off, warm=False,
            keep=bool(args.trace) and not traced, again=traced,
        )
        u["traced"] = traced
        units.append(u)
        attempted += u["ops"]
        failed += u["failed"]
        failures += u["failures"]
        i += 1
    fingerprints = plan_fingerprints(
        spark.sparkContext, [(u["t_start"], u["t_end"]) for u in units]
    )
    record.update(
        session_s=session_s,
        prepare_s=prepare_s,
        warmup_s=warmup_s,
        failures=failures[:50],
        plan_fingerprints=fingerprints,
        units=units,
        inputs=wl.describe(),
    )

    plain = [u for u in units if not u["traced"]]
    samples = [s for u in plain for s in u["samples"]]
    times = [s["s"] for s in samples]
    op_p50 = statistics.median(times)
    items_per_s = sum(s["items"] for s in samples) / sum(times)
    tail = percentile_with_tail(times)
    summary = {
        "workload": args.workload,
        wl.op_name + "_p50_s": op_p50,
        "n_" + wl.op_name: len(times),
        wl.item + "_per_s": items_per_s,
        "failed_frac": failed / attempted,
        "setup_s": setup_s,
        # not an end-to-end metric: JVM heap growth follows GC timing and
        # does not repeat within a tenth from run to run
        "peak_rss_mb": peak_rss_mb(jvm_pid),
    }
    if tail is not None:
        summary[f"{wl.op_name}_tail_s"] = {"pct": tail[0], "value": tail[1]}
    record["summary"] = summary

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "items_per_s": items_per_s,
        }
        metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()
        }
    else:
        from .layers import per_layer

        tracer.collect()
        tracer.dump(os.path.join(records, run_id + "-spans.jsonl"))
        traced = [u for u in units if u["traced"]]
        overhead = statistics.median(u["wall"] for u in traced) - statistics.median(
            u["wall"] for u in plain
        )
        metrics = per_layer(wl, tracer, traced, session_s, overhead, cores)
        record["per_layer"] = metrics
        record["repeat_counts"] = repeat_counts(tracer, units, metrics)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def repeat_counts(tracer, units, metrics) -> dict:
    """Counts that must repeat exactly across two runs of one seed."""
    jobs: dict[str, list] = {}
    for sp in tracer.spans:
        jobs.setdefault(sp.key, []).append(sp.attrs.get("jobs", 0))
    return {
        "jobs_per_call": jobs,
        "accepted_per_batch": [u["accepted"] for u in units if "accepted" in u],
        "input_rows_per_trigger": [
            t["input_rows"] for u in units for t in u.get("triggers", ())
        ],
        "store_files": {
            k: v["value"] for k, v in metrics.items() if k.endswith("store_files")
        },
    }
