"""``event_stream``: four streaming queries replayed over event files.

The event files (a seeded slice of the ``events`` table, see
``gen.event_inputs``) sit in one source directory with increasing
modification times. A pass runs each of the four queries from a fresh
checkpoint with ``maxFilesPerTrigger=1`` and an ``availableNow``
trigger, so every file is one trigger:

* ``windows.stream_tumbling_counts`` (append),
* ``windows.stream_session_counts`` (append),
* ``windows.dedup_events(watermark=...)`` (append),
* ``stateful.running_totals`` (update).

Timed passes write to the ``noop`` sink; per-trigger times and state
sizes come from each query's ``StreamingQueryProgress``. The warm-up
pass collects every emission through ``foreachBatch`` instead, and the
final emissions are checked against the batch twins of each query.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ontology_graph_etl_spark.streaming import stateful, windows

from . import gen

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)
WATERMARK = "1 hour"
WATERMARK_S = 3600
SESSION_GAP = "30 minutes"

QUERIES = (
    ("streaming.windows", "stream_tumbling_counts", "append"),
    ("streaming.windows", "stream_session_counts", "append"),
    ("streaming.windows", "dedup_events", "append"),
    ("streaming.stateful", "running_totals", "update"),
)


def _query_frame(name: str, events):
    if name == "stream_tumbling_counts":
        return windows.stream_tumbling_counts(events, watermark=WATERMARK)
    if name == "stream_session_counts":
        return windows.stream_session_counts(
            events, gap=SESSION_GAP, watermark=WATERMARK
        )
    if name == "dedup_events":
        return windows.dedup_events(events, watermark=WATERMARK)
    return stateful.running_totals(events)


class EventStream:
    name = "event_stream"
    op_name = "file"
    item = "events"
    warm_up = True
    min_units = 1

    def __init__(self, spark, work, days, n_files, dup_frac, late_frac,
                 max_late_s):
        self.spark = spark
        self.work = work
        self.params = dict(
            days=days, n_files=n_files, dup_frac=dup_frac,
            late_frac=late_frac, max_late_s=max_late_s,
        )
        self.src = os.path.join(work, "inputs", "events")
        self.n_pass = 0

    def prepare(self, seed: int) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        self.inputs = gen.event_inputs(self.src, seed, **self.params)
        # the file source orders by modification time: one second apart
        base = time.time() - 10 * len(self.inputs["files"])
        for k, path in enumerate(self.inputs["files"]):
            os.utime(path, (base + k, base + k))
        static = self.spark.read.schema(EVENT_SCHEMA).parquet(self.src)
        self.file_rows = self.inputs["file_rows"]
        self.twins = _batch_twins(static)

    def describe(self) -> dict:
        return {k: v for k, v in self.inputs.items() if k != "files"}

    def run_unit(self, tr, warm: bool, keep: bool = False, again: bool = False) -> dict:
        """One replay of every file through the four queries; the warm-up
        replay collects the emissions and checks them. One sample per
        file: the four queries' trigger seconds on that file, summed (the
        time a newly arrived file takes through the streaming layer)."""
        t_start = time.time()
        r = self.run_pass(tr, collect=warm)
        t_end = time.time()
        triggers = r["triggers"]
        for t in triggers:
            t["unit"] = self.n_pass
        samples = [
            {"s": sum(t["s"] for t in triggers if t["file"] == k), "items": rows}
            for k, rows in enumerate(self.file_rows)
        ]
        return {
            "wall": r["wall"],
            "t_start": t_start,
            "t_end": t_end,
            "samples": samples,
            "triggers": triggers,
            "ops": len(triggers),
            "failed": len(triggers) if r["failures"] else 0,
            "failures": r["failures"],
        }

    # ------------------------------------------------------------------

    def _run_query(self, tr, layer, name, mode, sink):
        ckpt = os.path.join(self.work, "ckpt", f"{self.n_pass}_{name}")
        events = (
            self.spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        with tr.span(layer, name):
            writer = (
                _query_frame(name, events)
                .writeStream.outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
            writer = sink(writer)
            q = writer.start()
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{name}: {q.exception()}")
        return [p for p in q.recentProgress if "triggerExecution" in p.durationMs]

    def run_pass(self, tr, collect: bool = False) -> dict:
        """Replay all files through the four queries. Returns one record
        per trigger (``file`` is the index of the file it read, None for
        a trigger that read none) and, with ``collect``, every emitted
        row per query."""
        self.n_pass += 1
        triggers, emitted, failures = [], {}, []
        t0 = time.perf_counter()
        for layer, name, mode in QUERIES:
            if collect:
                rows = emitted.setdefault(name, [])

                def sink(w, rows=rows):
                    return w.foreachBatch(lambda df, _id: rows.extend(df.collect()))
            else:
                def sink(w):
                    return w.format("noop")
            progress = self._run_query(tr, layer, name, mode, sink)
            data = [p for p in progress if p.numInputRows > 0]
            if [p.numInputRows for p in data] != self.file_rows:
                failures.append(
                    f"{name}: input rows per trigger "
                    f"{[p.numInputRows for p in data]} != files {self.file_rows}"
                )
            files = iter(range(len(data)))
            for p in progress:
                file = next(files) if p.numInputRows > 0 else None
                triggers.append(_trigger(layer, name, p, file))
        wall = time.perf_counter() - t0
        if collect:
            failures += self._check(emitted)
        return {"wall": wall, "triggers": triggers, "failures": failures}

    def _check(self, emitted) -> list[str]:
        bad = []
        tw = self.twins
        if _rows(emitted["stream_tumbling_counts"], ("bucket", "event_type", "n_events")) != tw["tumbling"]:
            bad.append("stream_tumbling_counts != batch tumbling counts")
        if _rows(emitted["stream_session_counts"], ("session_start", "session_end", "user_id", "n_events")) != tw["sessions"]:
            bad.append("stream_session_counts != batch session windows")
        if sorted(r["event_id"] for r in emitted["dedup_events"]) != tw["dedup"]:
            bad.append("dedup_events != batch dropDuplicates")
        final = {}
        for r in emitted["running_totals"]:
            prev = final.get(r["user_id"])
            if prev is None or r["n_events"] >= prev[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        want = tw["totals"]
        if set(final) != set(want) or any(
            final[u][0] != want[u][0]
            or not math.isclose(final[u][1], want[u][1], rel_tol=1e-9, abs_tol=1e-6)
            for u in want
        ):
            bad.append("running_totals final emissions != batch groupBy count/sum")
        return bad


def _trigger(layer, name, p, file) -> dict:
    d = p.durationMs
    st = p.stateOperators[0] if p.stateOperators else None
    return {
        "layer": layer,
        "query": name,
        "file": file,
        "s": d["triggerExecution"] / 1000.0,
        "add_batch_ms": d.get("addBatch", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "input_rows": p.numInputRows,
        "state_rows_total": st.numRowsTotal if st else 0,
        "state_rows_updated": st.numRowsUpdated if st else 0,
        "state_memory_bytes": st.memoryUsedBytes if st else 0,
    }


def _rows(rows, cols) -> list:
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _batch_twins(static) -> dict:
    """Batch results the streams must reproduce. Append-mode windows are
    emitted once the watermark (newest event time - 1 hour) passes
    their end, so the twins keep only windows that closed."""
    max_ts = static.agg(F.max("ts")).collect()[0][0]
    closed_at = max_ts - dt.timedelta(seconds=WATERMARK_S)
    closed = F.lit(closed_at)
    tumbling = (
        windows.tumbling_counts(static, "ts", "hour", ("event_type",))
        .where(F.col("bucket") + F.expr("INTERVAL 1 HOUR") <= closed)
    )
    sessions = (
        static.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    totals = static.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("v")
    )
    return {
        "tumbling": _rows(tumbling.collect(), ("bucket", "event_type", "n_events")),
        # filtered after the collect: a filter on the session window
        # would be pushed below the session merge and cut sessions short
        "sessions": [
            r for r in _rows(
                sessions.collect(), ("session_start", "session_end", "user_id", "n_events")
            )
            if r[1] <= closed_at
        ],
        "dedup": sorted(
            r[0] for r in static.dropDuplicates(["event_id"]).select("event_id").collect()
        ),
        "totals": {r["user_id"]: (r["n"], r["v"]) for r in totals.collect()},
    }
