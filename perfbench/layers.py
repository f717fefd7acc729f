"""Per-layer metrics of a traced run.

Every workload reports the same metric names; a layer a workload never
calls reads 0 there (the "should not move" rows of the README's
prediction table). Call counters are summed per traced unit (one
build, one micro-batch, one replay of the event files) and the median
over traced units is reported. ``busy`` is ``executor_s / (s * cores)``.
"""

from __future__ import annotations

import statistics

from .ontology import ANALYTICS

UNITS = {
    "s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_bytes": "B",
    "busy": "ratio",
    "rows": "count",
    "bytes": "B",
    "files": "count",
}

#: (span key, counters reported for it)
CALLS = (
    ("io.read_jsonl", ("s", "jobs", "rows")),
    ("sources.xlsx.read_sheet_rows", ("s",)),
    ("sources.tabular.extract_relationships", ("s", "jobs", "rows")),
    ("pipelines.build_concept_graph", ("s", "jobs", "tasks", "shuffle_bytes")),
    ("pipelines.build_sheet_graph", ("s", "jobs", "tasks", "shuffle_bytes")),
    ("pipelines.enrich_concepts", ("s", "jobs", "tasks")),
    ("graph_store.save", ("s", "jobs", "bytes", "files")),
    ("sinks.write_statements", ("s", "jobs", "bytes", "files")),
    *(
        (f"operators.graph.{g}", ("s", "jobs", "stages", "tasks", "shuffle_bytes", "busy"))
        for g in ANALYTICS
    ),
    ("pipelines.ingest_micro_batch", ("s", "jobs", "stages", "tasks", "shuffle_bytes", "busy")),
    ("operators.similarity.hashed_bow_embedding", ("s", "jobs")),
    ("operators.dedup.screen_against_index", ("s", "jobs")),
    ("operators.textops.screen_against_substring_index", ("s", "jobs")),
    ("operators.gatestats.screen_ccnet_frozen", ("s", "jobs")),
    ("operators.gatestats.psi_against_baseline", ("s", "jobs")),
    ("operators.similarity.screen_pq_ivf_index", ("s", "jobs")),
    ("operators.dedup.merge_dedup_index", ("s", "jobs")),
    ("operators.textops.merge_substring_index", ("s", "jobs")),
    ("operators.sketches.merge_cardinality_sketches", ("s", "jobs")),
    ("operators.similarity.merge_pq_ivf_index", ("s", "jobs")),
)

#: ingest store directory -> layer that owns it
STORE_LAYERS = (
    ("bands", "operators.dedup"),
    ("substr", "operators.textops"),
    ("hll", "operators.sketches"),
    ("pq", "operators.similarity"),
)

STREAM_FIELDS = (
    ("trigger_p50_ms", "ms", "p50", "s"),
    ("add_batch_p50_ms", "ms", "p50", "add_batch_ms"),
    ("query_planning_p50_ms", "ms", "p50", "query_planning_ms"),
    ("wal_commit_p50_ms", "ms", "p50", "wal_commit_ms"),
    ("input_rows", "count", "sum", "input_rows"),
    ("state_rows_total", "count", "last", "state_rows_total"),
    ("state_rows_updated", "count", "sum", "state_rows_updated"),
    ("state_memory_bytes", "B", "last", "state_memory_bytes"),
)
STREAM_LAYERS = ("streaming.windows", "streaming.stateful")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in report order."""
    out = [("session.get_spark.s", "s"), ("trace.overhead_s", "s")]
    for key, fields in CALLS:
        out += [(f"{key}.{f}", UNITS[f]) for f in fields]
    out += [
        ("sources.enrichment.calls_per_concept", "ratio"),
        ("pipelines.ingest_micro_batch.accept_frac", "ratio"),
        ("pipelines.ingest_micro_batch.composition_overhead_s", "s"),
    ]
    for _, layer in STORE_LAYERS:
        out += [(f"{layer}.store_files", "count"), (f"{layer}.store_bytes", "B")]
    for layer in STREAM_LAYERS:
        out += [(f"{layer}.{name}", unit) for name, unit, _, _ in STREAM_FIELDS]
        out.append((f"{layer}.jobs", "count"))
    return out


#: metrics where a larger value is the better one; all others: lower
HIGHER_IS_BETTER = (".busy", ".rows", ".input_rows", ".accept_frac")


def spec() -> list[dict]:
    """The ``per_layer`` entries of ``BENCHMARK.json``."""
    return [
        {
            "name": name,
            "unit": unit,
            "better": "higher" if name.endswith(HIGHER_IS_BETTER) else "lower",
        }
        for name, unit in metric_names()
    ]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0


def per_layer(wl, tracer, traced_units, session_s, overhead, cores) -> dict:
    values = {name: 0 for name, _ in metric_names()}
    values["session.get_spark.s"] = session_s
    values["trace.overhead_s"] = overhead
    windows = [(u["t_start"], u["t_end"]) for u in traced_units]

    def in_unit(sp, w):
        return w[0] <= sp.start and sp.end <= w[1]

    def per_unit(key, field, match=lambda sp, key: sp.key == key):
        out = []
        for w in windows:
            spans = [sp for sp in tracer.spans if match(sp, key) and in_unit(sp, w)]
            if not spans:
                continue
            if field == "s":
                out.append(sum(sp.s for sp in spans))
            elif field == "busy":
                wall = sum(sp.s for sp in spans)
                ex = sum(sp.attrs.get("executor_s", 0) for sp in spans)
                out.append(ex / (wall * cores) if wall else 0)
            else:
                out.append(sum(sp.attrs.get(field, 0) for sp in spans))
        return out

    for key, fields in CALLS:
        for f in fields:
            values[f"{key}.{f}"] = _med(per_unit(key, f))

    calls = per_unit("pipelines.enrich_concepts", "transport_calls")
    if calls:
        values["sources.enrichment.calls_per_concept"] = _med(calls) / wl.n_concepts_read
    acc = per_unit("pipelines.ingest_micro_batch", "accepted")
    att = per_unit("pipelines.ingest_micro_batch", "attempted")
    if att:
        values["pipelines.ingest_micro_batch.accept_frac"] = sum(acc) / sum(att)
        store_s = [
            f"{key}.s" for key, _ in CALLS
            if key.startswith("operators.") and not key.startswith("operators.graph")
        ]
        values["pipelines.ingest_micro_batch.composition_overhead_s"] = values[
            "pipelines.ingest_micro_batch.s"
        ] - sum(values[k] for k in store_s)
        for store, layer in STORE_LAYERS:
            values[f"{layer}.store_files"] = _med(
                per_unit("pipelines.ingest_micro_batch", f"{store}.files")
            )
            values[f"{layer}.store_bytes"] = _med(
                per_unit("pipelines.ingest_micro_batch", f"{store}.bytes")
            )

    samples = [s for u in traced_units for s in u.get("triggers", ())]
    for layer in STREAM_LAYERS:
        mine = [s for s in samples if s["layer"] == layer]
        if not mine:
            continue
        n_units = len(traced_units)
        for name, _, how, field in STREAM_FIELDS:
            vals = [s[field] for s in mine]
            if how == "p50":
                v = statistics.median(vals) * (1000.0 if field == "s" else 1)
            elif how == "sum":
                v = sum(vals) / n_units
            else:  # state size after each query's last trigger, summed
                last = {}
                for s in mine:
                    last[(s["unit"], s["query"])] = s[field]
                v = sum(last.values()) / n_units
            values[f"{layer}.{name}"] = v
        # every query of the layer: its spans' jobs per traced unit
        values[f"{layer}.jobs"] = _med(
            per_unit(layer, "jobs", match=lambda sp, layer: sp.layer == layer)
        )
    units = dict(metric_names())
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}
