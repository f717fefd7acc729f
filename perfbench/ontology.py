"""``ontology_build``: the reference's own job, end to end.

One timed pass reads the generated JSONL and workbook, builds the
concept and sheet graphs, enriches the concepts through a snapshot
transport, saves the property graph, writes the Cypher statements and
runs the six hierarchy analytics on the saved store. Every analytic's
result is consumed by a digest (row count + order-free CRC sum), so
the pass ends only when everything is materialized.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ontology_graph_etl_spark import fixtures, io, pipelines
from ontology_graph_etl_spark.graph_store import GraphStore
from ontology_graph_etl_spark.operators import graph
from ontology_graph_etl_spark.sinks import cypher_codegen
from ontology_graph_etl_spark.sources import enrichment, tabular, xlsx

from . import gen
from .common import digest, dir_size, materialize

CONCEPT_SCHEMA = StructType(
    [f for f in fixtures.CONCEPTS_SCHEMA.fields if f.name != "line_no"]
)
HIERARCHY_SCHEMA = StructType(
    [
        StructField("child_id", LongType(), False),
        StructField("parent_id", LongType(), False),
    ]
)

#: the six hierarchy analytics, run on the saved store's edges
ANALYTICS = (
    "closure",
    "depth_histogram",
    "pagerank",
    "connected_components",
    "strongly_connected_components",
    "kcore",
)


class OntologyBuild:
    name = "ontology_build"
    op_name = "build"
    item = "concepts"
    #: the reference job is a one-shot batch run: its users pay the cold
    #: JVM/JIT cost on every run, so the timed build is the first one
    warm_up = False
    min_units = 1

    def __init__(self, spark, work: str, n_concepts: int, rows_per_sheet: int):
        self.spark = spark
        self.work = work
        self.n_concepts = n_concepts
        self.rows_per_sheet = rows_per_sheet
        self.inputs = None
        self.digests = None
        self.pins = None

    def prepare(self, seed: int) -> None:
        self.inputs = gen.ontology_inputs(
            self.spark,
            os.path.join(self.work, "inputs"),
            seed,
            self.n_concepts,
            self.rows_per_sheet,
        )
        self.sheets = set(xlsx.sheet_names(self.inputs["paths"]["workbook"]))
        self.n_concepts_read = self.inputs["counts"]["concepts"]

    def describe(self) -> dict:
        return {"counts": self.inputs["counts"], "digests": self.digests}

    def run_unit(self, tr, warm: bool, keep: bool = False, again: bool = False) -> dict:
        """One build and its checks: digests equal on every pass and,
        where pinned, equal to the pinned digests of this seed; structural
        checks on the saved store of the timed build. A traced run's
        warm-up and untraced builds skip the structural checks (their
        digests equal the traced build's), which keeps its three builds
        well within the run's time limit."""
        t_start = time.time()
        r = self.run_pass(tr)
        t_end = time.time()
        bad = [] if warm or keep else self.check(r)
        if self.digests is None:
            self.digests = r["digests"]
            if self.pins is not None and self.pins != self.digests:
                bad.append(f"digests differ from pins.json: {self.digests}")
        elif r["digests"] != self.digests:
            bad.append("digests differ between passes")
        return {
            "wall": r["s"],
            "t_start": t_start,
            "t_end": t_end,
            "samples": [{"s": r["s"], "items": r["items"]}],
            "ops": 1,
            "failed": int(bool(bad)),
            "failures": bad,
        }

    # ------------------------------------------------------------------

    def _read(self, tr):
        spark, p = self.spark, self.inputs["paths"]
        tracing = tr.enabled
        with tr.span("io", "read_jsonl") as sp:
            concepts = io.read_jsonl(
                spark, p["concepts"], CONCEPT_SCHEMA, with_line_no=True
            )
            hierarchy = io.read_jsonl(
                spark, p["hierarchy"], HIERARCHY_SCHEMA, with_line_no=True
            )
            mapping = io.read_jsonl(spark, p["mapping"], fixtures.MAPPING_SCHEMA)
            if tracing:
                sp.attrs["rows"] = materialize(concepts, hierarchy, mapping)
        raws = []
        for idx, cfg in tabular.WORKSHEET_METADATA.items():
            name = gen.sheet_name(idx)
            if name not in self.sheets:
                continue
            with tr.span("sources.xlsx", "read_sheet_rows") as sp:
                raw = xlsx.read_sheet_rows(
                    spark, p["workbook"], sheet=name, header=True,
                    n_cols=gen.sheet_width(cfg),
                )
            raws.append((idx, cfg, raw))
        # the workbook is read once: the extracted rows are materialized
        # here, not re-derived by every downstream action
        with tr.span("sources.tabular", "extract_relationships") as sp:
            rel_rows = None
            for idx, cfg, raw in raws:
                rows = tabular.extract_relationships(raw, cfg).withColumn(
                    "sheet_index", F.lit(idx)
                )
                rel_rows = rows if rel_rows is None else rel_rows.unionByName(rows)
            rel_rows = rel_rows.localCheckpoint()
            if tracing:
                sp.attrs["rows"] = rel_rows.count()
        with open(p["snapshot"], encoding="utf-8") as f:
            snapshot = {int(k): v for k, v in json.load(f).items()}
        return concepts, hierarchy, mapping, rel_rows, snapshot

    def run_pass(self, tr) -> dict:
        """One timed build; returns its wall time and result digests."""
        spark = self.spark
        out = os.path.join(self.work, "out")
        store = GraphStore(os.path.join(out, "graph"))
        t0 = time.perf_counter()
        concepts, hierarchy, mapping, rel_rows, snapshot = self._read(tr)

        with tr.span("pipelines", "build_concept_graph") as sp:
            c_nodes, c_edges = pipelines.build_concept_graph(concepts, hierarchy)
            if tr.enabled:
                sp.attrs["rows"] = materialize(c_nodes, c_edges)
        with tr.span("pipelines", "build_sheet_graph") as sp:
            s_nodes, s_edges = pipelines.build_sheet_graph(rel_rows)
            if tr.enabled:
                sp.attrs["rows"] = materialize(s_nodes, s_edges)

        transport = enrichment.snapshot_transport(snapshot)
        calls = None
        if tr.enabled:
            calls = spark.sparkContext.accumulator(0)
            inner = transport

            def transport(cid, _inner=inner, _calls=calls):
                _calls.add(1)
                return _inner(cid)

        digests = {}
        with tr.span("pipelines", "enrich_concepts") as sp:
            enriched = pipelines.enrich_concepts(concepts, mapping, transport)
            for k in sorted(enriched):
                digests[f"enrich.{k}"] = digest(enriched[k])
        if calls is not None:
            sp.attrs["transport_calls"] = calls.value

        nodes = c_nodes.unionByName(s_nodes, allowMissingColumns=True)
        edges = c_edges.unionByName(s_edges)
        with tr.span("graph_store", "save") as sp:
            store.save(nodes, edges)
            if tr.enabled:
                sp.attrs.update(dir_size(store.path))
        cypher = os.path.join(out, "cypher")
        with tr.span("sinks", "write_statements") as sp:
            cypher_codegen.write_statements(
                cypher_codegen.node_merge_statements(store.nodes(spark)).unionByName(
                    cypher_codegen.edge_create_statements(store.edges(spark))
                ),
                cypher,
            )
            if tr.enabled:
                sp.attrs.update(dir_size(cypher))

        hier = store.edges(spark, "PARENT_OF")
        all_edges = store.edges(spark)
        # child -> parent orientation: closure rows are (node, ancestor)
        up = dict(src_col="dst", dst_col="src")
        calls_ = {
            "closure": lambda: graph.closure(hier, **up),
            "depth_histogram": lambda: graph.depth_histogram(hier, **up),
            "pagerank": lambda: graph.pagerank(all_edges),
            "connected_components": lambda: graph.connected_components(all_edges),
            "strongly_connected_components": lambda: graph.strongly_connected_components(hier),
            "kcore": lambda: graph.kcore(all_edges, 2),
        }
        results = {}
        for name in ANALYTICS:
            with tr.span("operators.graph", name):
                results[name] = calls_[name]()
                digests[name] = digest(results[name])
        wall = time.perf_counter() - t0
        return {
            "s": wall,
            "items": self.inputs["counts"]["concepts"],
            "digests": digests,
            "store": store,
            "closure": results["closure"],
        }

    # ------------------------------------------------------------------

    def check(self, result) -> list[str]:
        """Output checks on a finished pass (untimed)."""
        spark = self.spark
        store = result["store"]
        nodes = store.nodes(spark)
        edges = store.edges(spark)
        bad = []
        n, n_keys = nodes.count(), nodes.select("label", "id").distinct().count()
        if n != n_keys or n == 0:
            bad.append(f"nodes: {n} rows for {n_keys} distinct (label, id)")
        ids = nodes.select(F.col("id").alias("nid")).distinct()
        ends = edges.select(F.explode(F.array("src", "dst")).alias("nid"))
        dangling = ends.join(ids, "nid", "left_anti").count()
        if dangling:
            bad.append(f"edges: {dangling} endpoints without a node")
        hier = store.edges(spark, "PARENT_OF").select(
            F.col("dst").alias("node"), F.col("src").alias("anc")
        )
        missing = hier.join(result["closure"], ["node", "anc"], "left_anti").count()
        if missing:
            bad.append(f"closure: misses {missing} hierarchy edges")
        return bad
