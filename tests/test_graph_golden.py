"""Ontology fixture golden tests (SURVEY.md §5 item 2-3).

The fixture tables (FIXTURES.md) carry adversarial rows targeting the
reference's latent defects: duplicate keys with conflicting names
(first-wins A3), dangling hierarchy endpoints (endpoint validation J3),
a 2-node cycle (closure guard G5), quote-bearing/unicode names
(injection defect b), and trailing-space type names (defect c).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(max_examples=6, deadline=None)

from ontology_graph_etl_spark import fixtures
from ontology_graph_etl_spark.operators import graph
from ontology_graph_etl_spark.operators.upsert import first_wins
from ontology_graph_etl_spark.pipelines import build_concept_graph


@pytest.fixture(scope="module")
def ont(spark):
    concepts = fixtures.concepts(spark, n=400).cache()
    hierarchy = fixtures.concept_hierarchy(spark, concepts).cache()
    return {"concepts": concepts, "hierarchy": hierarchy}


@pytest.fixture(scope="module")
def built(spark, ont):
    nodes, edges = build_concept_graph(ont["concepts"], ont["hierarchy"])
    return nodes.cache(), edges.cache()


def test_first_wins_earliest_line_survives(spark, ont):
    nodes = first_wins(ont["concepts"], ["id"], "line_no")
    # every duplicate group keeps exactly the minimum line_no
    expected = ont["concepts"].groupBy("id").agg(F.min("line_no").alias("line_no"))
    assert nodes.select("id", "line_no").exceptAll(expected).count() == 0
    assert nodes.count() == expected.count()
    # the injected conflicting-name rows (added later) never win
    assert nodes.where(F.col("name").startswith("CONFLICTING")).count() == 0


def test_node_upsert_unique_keys(built):
    nodes, _ = built
    total = nodes.count()
    distinct = nodes.select("label", "id").distinct().count()
    assert total == distinct > 0


def test_edges_endpoint_validated(built):
    """Dangling endpoints (999_999_xxx fixtures) must be absent: edge
    endpoints ⊆ node ids — the MATCH+MATCH semantics of main.py:91."""
    nodes, edges = built
    ids = nodes.select(F.col("id").alias("nid"))
    dangling_src = edges.join(ids, edges.src == ids.nid, "left_anti")
    dangling_dst = edges.join(ids, edges.dst == ids.nid, "left_anti")
    assert dangling_src.count() == 0
    assert dangling_dst.count() == 0
    assert edges.count() > 0


def test_upsert_idempotent(built):
    """Running first-wins over its own output changes nothing — the
    semantic heart of MERGE (SURVEY.md §5 invariant)."""
    nodes, _ = built
    again = first_wins(
        nodes.withColumn("__ord", F.monotonically_increasing_id()),
        ["label", "id"],
        "__ord",
    ).drop("__ord")
    assert again.count() == nodes.count()
    assert again.exceptAll(nodes).count() == 0


def test_closure_matches_duckdb_recursive(built):
    """G5 closure over the validated PARENT_OF DAG == DuckDB WITH
    RECURSIVE on the same edge list (duplicate fixture edges included)."""
    _, edges = built
    pdf = (
        edges.select(
            F.col("dst").cast("long").alias("child"),
            F.col("src").cast("long").alias("parent"),
        )
        .toPandas()
    )
    got = {
        (int(r.node), int(r.anc))
        for r in graph.closure(
            edges.select(
                F.col("dst").cast("long").alias("child"),
                F.col("src").cast("long").alias("parent"),
            ),
            "child",
            "parent",
        ).collect()
    }
    con = duckdb.connect()
    con.register("e", pdf)
    want = {
        (int(a), int(b))
        for a, b in con.execute(
            """
            WITH RECURSIVE c(node, anc) AS (
              SELECT DISTINCT child, parent FROM e
              UNION
              SELECT c.node, e.parent FROM c JOIN e ON e.child = c.anc
            ) SELECT node, anc FROM c
            """
        ).fetchall()
    }
    con.close()
    assert got == want
    assert len(got) > len(pdf)  # multi-hop pairs actually exist


def test_closure_is_fixpoint(spark, built):
    """Joining the closure once more adds nothing (SURVEY.md §5)."""
    _, edges = built
    e = edges.select(
        F.col("dst").alias("node"), F.col("src").alias("anc")
    ).distinct()
    closed = graph.closure(edges, "dst", "src").cache()
    extended = (
        closed.join(
            e.select(F.col("node").alias("anc"), F.col("anc").alias("anc2")),
            "anc",
        )
        .select("node", F.col("anc2").alias("anc"))
        .distinct()
    )
    assert extended.exceptAll(closed).count() == 0


def test_closure_cycle_guard_terminates(spark):
    """A cyclic edge list must terminate (max_iterations) and contain the
    full cycle reachability, not hang."""
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    out = graph.closure(cyc, "src", "dst", max_iterations=10)
    rows = {(r.node, r.anc) for r in out.collect()}
    # every node reaches every node (incl. itself) in a 3-cycle
    assert rows == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3)}


def test_quote_bearing_names_survive(built):
    """Injection fixture (defect b): apostrophe names flow through the
    relational path sanitized, never breaking anything."""
    nodes, _ = built
    # sanitize_value strips the quote chars; no node name retains one
    assert nodes.where(F.col("name").contains("'")).count() == 0
    # but the rows themselves survived (non-Hodgkin's → nonHodgkins)
    assert nodes.where(F.col("name").contains("nonHodgkins")).count() > 0


def test_two_hop_and_one_hop_consistency(built):
    """|two_hop(a,b,c)| computed by motif join equals the join-count
    identity sum over intermediate nodes."""
    _, edges = built
    motifs = graph.two_hop_motif(edges, "PARENT_OF", "PARENT_OF")
    direct = (
        edges.select(F.col("src").alias("b1"), F.col("dst").alias("mid"))
        .join(
            edges.select(F.col("src").alias("mid"), F.col("dst").alias("c1")),
            "mid",
        )
        .count()
    )
    assert motifs.count() == direct


def test_shortest_paths_min_distance_and_cycles(spark):
    """BFS distances: min over multiple paths wins; cycles terminate;
    unreachable nodes are absent."""
    # 1→2→3→4, plus shortcut 1→3; 5→6 unreachable from source {1};
    # back-edge 4→1 closes a cycle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 1), (5, 6)], ["src", "dst"]
    )
    sources = spark.createDataFrame([(1,)], ["id"])
    dist = {r.id: r.dist for r in graph.shortest_paths(edges, sources).collect()}
    assert dist == {1: 0, 2: 1, 3: 1, 4: 2}


def test_shortest_paths_multi_source(spark):
    edges = spark.createDataFrame([(1, 2), (3, 2), (2, 4)], ["src", "dst"])
    sources = spark.createDataFrame([(1,), (3,)], ["id"])
    dist = {r.id: r.dist for r in graph.shortest_paths(edges, sources).collect()}
    assert dist == {1: 0, 3: 0, 2: 1, 4: 2}


def test_pagerank_deterministic_and_mass_bounded(spark):
    """Integer PageRank: re-running gives bit-identical ranks; total mass
    never exceeds SCALE; a sink hub outranks its spokes."""
    # star: spokes 1..4 all point at hub 0, hub dangles
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)], ["src", "dst"]
    )
    r1 = {r.id: r.pr for r in graph.pagerank(edges, iterations=3).collect()}
    r2 = {r.id: r.pr for r in graph.pagerank(edges, iterations=3).collect()}
    assert r1 == r2
    assert sum(r1.values()) <= graph.PAGERANK_SCALE
    assert r1[0] > r1[1] == r1[2] == r1[3] == r1[4]


def test_triangle_count_k4_plus_tail(spark):
    """K4 has exactly 4 triangles; a dangling tail edge adds none.
    Orientation-insensitive: edges given in mixed directions."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    edges = spark.createDataFrame(k4 + [(3, 9), (9, 3)], ["src", "dst"])
    assert graph.triangle_count(edges).collect()[0].n_triangles == 4


def test_triangle_count_triangle_free(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert graph.triangle_count(edges).collect()[0].n_triangles == 0


def test_personalized_pagerank_semantics(spark):
    """Seeded restart: teleport mass exists only at seeds, so (a) a
    node unreachable from the seed set scores 0, (b) seeds dominate a
    symmetric graph, (c) an empty seed set raises, and (d) the uniform
    path is unaffected by the new parameter's default."""
    import pytest as _pytest

    from ontology_graph_etl_spark.operators.graph import pagerank

    # two disjoint chains: 1->2->3 and 10->11; seed only node 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["id"])
    pr = {r.id: r.pr for r in pagerank(edges, seeds=seeds).collect()}
    assert pr[1] > 0 and pr[2] > 0 and pr[3] > 0
    assert pr[10] == 0 and pr[11] == 0, (
        "nodes unreachable from the seed set must hold zero mass"
    )
    assert pr[1] > pr[3]  # mass decays along the chain from the seed
    uniform = {r.id: r.pr for r in pagerank(edges).collect()}
    assert all(v > 0 for v in uniform.values())  # uniform path intact
    with _pytest.raises(ValueError, match="seed"):
        pagerank(edges, seeds=seeds.where("id < 0")).collect()


def test_personalized_pagerank_teleport_underflow(spark):
    """Integer teleport can underflow to 0 (damping_pct=100, or a seed
    set large enough that SCALE*(100-d)/100 div n_seeds == 0). The
    documented init contract — seeds start at `base`, non-seeds at 0 —
    must hold on seed MEMBERSHIP, not on a teleport>0 proxy, or every
    initial rank collapses to zero and so does the whole output."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    pr = {
        r.id: r.pr
        for r in graph.pagerank(
            edges, iterations=2, damping_pct=100, seeds=seeds
        ).collect()
    }
    # zero teleport: with d=100 the seed's base mass moves wholly along
    # the chain each round — after 2 rounds it sits on node 3. Under the
    # old __tp>0 init proxy every rank (including this) was 0.
    assert pr[3] > 0, "seed's initial base mass must propagate"
    assert pr[1] == 0 and pr[2] == 0  # no teleport replenishment


def test_degrees_heterogeneous_endpoint_types(spark):
    """degrees() must accept an edge list whose src/dst types differ
    (e.g. int keys pointing at string labels): the endpoint-explode
    plan needs same-typed structs (and ANSI union coercion would pick a
    lossy numeric cast), so this shape string-casts both endpoints —
    same single-scan plan, ids come out as strings."""
    edges = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], ["src", "dst"]
    )
    d = {r.id: (r.out_degree, r.in_degree) for r in graph.degrees(edges).collect()}
    assert d["1"] == (2, 0) and d["2"] == (1, 0)
    assert d["a"] == (0, 2) and d["b"] == (0, 1)


def test_depth_histogram_chain_and_star(spark):
    """Chain 4->3->2->1 plus leaves 10,11->1: ancestor counts are
    2:{1}, 3:{1,2}, 4:{1,2,3}, 10:{1}, 11:{1} — histogram (1 ancestor:
    3 nodes, 2:1, 3:1). Roots (node 1) carry no row by contract."""
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 1), (11, 1)], ["child", "parent"]
    )
    hist = {
        r.n_ancestors: r.n_nodes
        for r in graph.depth_histogram(edges, "child", "parent").collect()
    }
    assert hist == {1: 3, 2: 1, 3: 1}


def test_depth_histogram_matches_duckdb_on_random_dag(spark):
    """q107's aggregate semantics on an arbitrary DAG (not just the
    part-division hierarchy): histogram == DuckDB recursive closure +
    double GROUP BY, duplicate edges and diamond joins included."""
    import random

    rng = random.Random(11)
    edges = []
    for child in range(2, 120):
        for _ in range(rng.randint(0, 3)):
            edges.append((child, rng.randint(1, child - 1)))
    edges += edges[:10]  # duplicates must not inflate ancestor sets
    df = spark.createDataFrame(edges, ["child", "parent"])
    got = {
        (r.n_ancestors, r.n_nodes)
        for r in graph.depth_histogram(df, "child", "parent").collect()
    }
    con = duckdb.connect()
    con.register("e", __import__("pandas").DataFrame(edges, columns=["child", "parent"]))
    want = {
        (int(a), int(b))
        for a, b in con.execute(
            """
            WITH RECURSIVE c(node, anc) AS (
              SELECT DISTINCT child, parent FROM e
              UNION
              SELECT c.node, e.parent FROM c JOIN e ON e.child = c.anc
            )
            SELECT n_ancestors, count(*) AS n_nodes FROM (
              SELECT node, count(*) AS n_ancestors FROM c GROUP BY node
            ) GROUP BY n_ancestors
            """
        ).fetchall()
    }
    con.close()
    assert got == want and len(got) > 2


def test_topo_depth_diamond_and_levels(spark):
    """Longest-path levels on a diamond DAG: level != ancestor count
    exactly where the two operators must differ — node 5 has 4
    ancestors AND level 4 here, but node 3 has 2 ancestors via a
    2-hop longest path (1->2->3 beats the 1->3 shortcut)."""
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (3, 1), (4, 3), (5, 1), (5, 4)],
        ["child", "parent"],
    )
    got = dict(
        map(tuple, graph.topo_depth(edges, "child", "parent").collect())
    )
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_topo_depth_cycle_warns_and_keeps_root_reachable(spark):
    """A cycle has no root path: its nodes emit no row, the reachable
    component still levels correctly, and truncation warns instead of
    capping silently."""
    import warnings

    # 1 -> 2 -> 3 (reachable); 8 <-> 9 cycle (unreachable, no roots)
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (8, 9), (9, 8)], ["child", "parent"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = dict(
            map(
                tuple,
                graph.topo_depth(
                    edges, "child", "parent", max_iterations=5
                ).collect(),
            )
        )
    assert got == {1: 0, 2: 1, 3: 2}
    # the 8/9 cycle never drains the frontier? it has no root feeding
    # it, so the frontier DOES drain — no warning expected here
    assert not any("topo_depth" in str(x.message) for x in w)
    # a root-fed cycle keeps producing frontiers -> warning fires
    cyc = spark.createDataFrame(
        [(2, 1), (3, 2), (2, 3)], ["child", "parent"]
    )
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        graph.topo_depth(cyc, "child", "parent", max_iterations=3).collect()
    assert any("topo_depth" in str(x.message) for x in w2)


def test_topo_depth_matches_duckdb_on_random_dag(spark):
    """q111's semantics on an arbitrary DAG: levels == DuckDB recursive
    root enumeration + max-per-node, diamonds and duplicate edges
    included."""
    import random

    rng = random.Random(23)
    edges = []
    for child in range(2, 120):
        for _ in range(rng.randint(0, 3)):
            edges.append((child, rng.randint(1, child - 1)))
    edges += edges[:10]
    df = spark.createDataFrame(edges, ["child", "parent"])
    got = dict(
        map(tuple, graph.topo_depth(df, "child", "parent").collect())
    )
    con = duckdb.connect()
    con.register(
        "e", __import__("pandas").DataFrame(edges, columns=["child", "parent"])
    )
    want = {
        int(n): int(d)
        for n, d in con.execute(
            """
            WITH RECURSIVE step(node, d) AS (
              SELECT DISTINCT parent, 0 FROM e
              WHERE parent NOT IN (SELECT child FROM e)
              UNION
              SELECT e.child, s.d + 1 FROM step s JOIN e ON e.parent = s.node
            )
            SELECT node, max(d) FROM step GROUP BY node
            """
        ).fetchall()
    }
    con.close()
    assert got == want and len(got) > 50


def test_depth_histogram_include_roots(spark):
    """include_roots=True adds exactly one n_ancestors=0 row counting
    parent-only endpoints; the ancestor rows are unchanged from the
    default shape."""
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (5, 4), (6, 4)], ["child", "parent"]
    )
    base = {
        (r.n_ancestors, r.n_nodes)
        for r in graph.depth_histogram(edges, "child", "parent").collect()
    }
    with_roots = {
        (r.n_ancestors, r.n_nodes)
        for r in graph.depth_histogram(
            edges, "child", "parent", include_roots=True
        ).collect()
    }
    # roots: 1 and 4 (never children) -> one (0, 2) row on top
    assert with_roots == base | {(0, 2)}
    assert (0, 2) not in base


def test_half_null_edges_agree_across_graph_operators(spark):
    """A half-NULL edge is not an edge — all three hierarchy operators
    must drop it WHOLE. Regression for the former disagreement: the
    include_roots endpoint pass filtered NULLs per-endpoint after the
    explode, so (5, NULL) still suppressed 5's root candidacy and
    (NULL, 4) still promoted 4, while topo_depth dropped both edges —
    the two operators disagreed on the root set, and closure leaked
    literal NULL-ancestor rows."""
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (5, None), (None, 4), (6, 4)],
        "child int, parent int",
    )
    # valid edges: (2,1), (3,2), (6,4). Universe {1,2,3,4,6};
    # roots {1, 4} — NOT 5 (its only parent edge is half-NULL) and
    # NOT 4-via-(NULL,4) double counting.
    clo = graph.closure(edges, "child", "parent").collect()
    assert all(
        r.node is not None and r.anc is not None for r in clo
    ), f"closure leaked NULL endpoints: {clo}"
    assert {(r.node, r.anc) for r in clo} == {
        (2, 1), (3, 2), (3, 1), (6, 4)
    }

    depths = {
        r.node: r.depth
        for r in graph.topo_depth(edges, "child", "parent").collect()
    }
    topo_roots = {n for n, d in depths.items() if d == 0}
    assert depths == {1: 0, 4: 0, 2: 1, 6: 1, 3: 2}

    hist = {
        (r.n_ancestors, r.n_nodes)
        for r in graph.depth_histogram(
            edges, "child", "parent", include_roots=True
        ).collect()
    }
    # the n_ancestors=0 row must count exactly topo_depth's root set
    assert hist == {(0, len(topo_roots)), (1, 2), (2, 1)}


@given(
    parents=st.lists(st.integers(1, 40), min_size=1, max_size=60),
)
@SETTINGS
def test_topo_depth_equals_ancestor_count_on_trees(spark, parents):
    """Cross-operator invariant: on a TREE (one parent per child, parent
    id < child id) the longest path from the root equals the ancestor
    count, so topo_depth must agree with the closure-derived per-node
    ancestor counts node for node. (They diverge only on DAGs — the
    diamond golden test pins that side.)"""
    edges = [
        (child, min(p, child - 1))
        for child, p in enumerate(parents, start=2)
    ]
    df = spark.createDataFrame(edges, ["child", "parent"])
    depth = dict(
        map(tuple, graph.topo_depth(df, "child", "parent").collect())
    )
    anc = {
        r.node: r.n_anc
        for r in graph.closure(df, "child", "parent")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_anc"))
        .collect()
    }
    for node, n in anc.items():
        assert depth[node] == n, (node, n, depth.get(node))
    # roots (never children) sit at depth 0
    children = {c for c, _ in edges}
    for node, d in depth.items():
        if node not in children:
            assert d == 0


def test_kcore_golden_cascade_and_edge_hygiene(spark):
    """G14 golden on K4 + pendant chain 4-5-6-7 (k=2): the chain peels
    one node per round from the far end (7 has degree 1, then 6, then
    5), so fixed rounds expose the intermediate peel states and the
    fixpoint is exactly the K4. Self-loops, parallel edges, reversed
    duplicates and half-NULL edges must not count toward degrees
    (distinct-neighbor degree, the closure edge convention)."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]
    noise = [
        (1, 1),          # self-loop
        (2, 1),          # reversed duplicate of (1, 2)
        (3, 4),          # parallel duplicate
        (7, None),       # half-NULL
        (None, 5),       # half-NULL
    ]
    edges = spark.createDataFrame(
        k4 + chain + noise, "src: int, dst: int"
    )

    # fixpoint: only the K4 survives, every node at degree 3
    fix = {
        (r.node, r.degree)
        for r in graph.kcore(edges, k=2).collect()
    }
    assert fix == {(1, 3), (2, 3), (3, 3), (4, 3)}, fix

    # fixed-round semantics: round 1 peels 7 only; 5 and 6 still sit
    # in the 1-round state at their post-peel degrees
    r1 = {
        (r.node, r.degree)
        for r in graph.kcore(edges, k=2, rounds=1).collect()
    }
    assert r1 == {(1, 3), (2, 3), (3, 3), (4, 4), (5, 2), (6, 1)}

    # convergence: a generously large fixed-round peel equals the
    # rounds=None fixpoint exactly
    big = {
        (r.node, r.degree)
        for r in graph.kcore(edges, k=2, rounds=10).collect()
    }
    assert big == fix


def test_kcore_fixpoint_converges_on_q126_graph(spark, sf_dir):
    """The claim in graph.kcore's docstring, pinned: on the q126
    heterogeneous 5-edge union graph the rounds=None production path
    converges, within the default iteration guard, to the same node
    set + degrees as a generously large fixed-round peel (the driver
    query's rounds=3 is a prefix state of this chain)."""
    import warnings

    from ontology_graph_etl_spark.plans.registry import _Q126_K

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    def e(df, src, dst, sp, dp):
        return df.select(
            F.concat(F.lit(sp), F.col(src).cast("string")).alias("src"),
            F.concat(F.lit(dp), F.col(dst).cast("string")).alias("dst"),
        )

    edges = (
        e(orders, "o_custkey", "o_orderkey", "C", "O")
        .unionByName(e(lineitem, "l_orderkey", "l_partkey", "O", "P"))
        .unionByName(e(lineitem, "l_orderkey", "l_suppkey", "O", "S"))
        .unionByName(e(customer, "c_custkey", "c_nationkey", "C", "N"))
        .unionByName(e(nation, "n_nationkey", "n_regionkey", "N", "R"))
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warns -> fail
        fix = {
            (r.node, r.degree)
            for r in graph.kcore(edges, k=_Q126_K).collect()
        }
    fixed = {
        (r.node, r.degree)
        for r in graph.kcore(edges, k=_Q126_K, rounds=25).collect()
    }
    assert fix == fixed
    assert fix, "k-core emptied the sf0.001 graph; pick a smaller k"


def test_adamic_adar_golden_and_hub_cap(spark):
    """adamic_adar on a hand-checkable bipartite graph: scores are
    sum(1/ln(deg)) over common dst neighbors, degree-1 dsts can't
    pair, a < b canonical order, and max_degree drops hub dst keys
    entirely."""
    import math

    from ontology_graph_etl_spark.operators.graph import adamic_adar

    # dst 100: suppliers 1,2,3 (deg 3); dst 200: 1,2 (deg 2);
    # dst 300: only 3 (deg 1 -> never common)
    edges = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (1, 200), (2, 200), (3, 300),
         (1, 100)],  # duplicate edge must not double-count
        "src: long, dst: long",
    )
    got = {
        (r.node_a, r.node_b): (r.n_common, r.aa_score)
        for r in adamic_adar(edges).collect()
    }
    aa_12 = round(1 / math.log(3) + 1 / math.log(2), 6)
    aa_13 = round(1 / math.log(3), 6)
    assert got == {
        (1, 2): (2, aa_12),
        (1, 3): (1, aa_13),
        (2, 3): (1, aa_13),
    }
    # hub cap: max_degree=2 removes dst 100 (deg 3) -> only the
    # (1,2) pair through dst 200 survives
    capped = {
        (r.node_a, r.node_b): (r.n_common, r.aa_score)
        for r in adamic_adar(edges, max_degree=2).collect()
    }
    assert capped == {(1, 2): (1, round(1 / math.log(2), 6))}


def test_scc_golden(spark):
    """strongly_connected_components on a hand-checkable graph:
    a 3-cycle, a tail feeding it (trim-phase singleton), a self-loop
    node, two mutually-bridged 2-cycles (one merged SCC), and a
    one-way bridge between SCCs that must NOT merge them."""
    from ontology_graph_etl_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [
            # 3-cycle 1->2->3->1 with tail 4->1
            (1, 2), (2, 3), (3, 1), (4, 1),
            # self-loop
            (5, 5),
            # two 2-cycles bridged both ways -> one SCC {6,7,8,9}
            (6, 7), (7, 6), (8, 9), (9, 8), (6, 8), (9, 7),
            # one-way bridge: {1,2,3} -> self-loop {5}: no merge
            (2, 5),
        ],
        "src: long, dst: long",
    )
    got = {
        r.id: r.scc_id
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        4: 4,
        5: 5,
        6: 6, 7: 6, 8: 6, 9: 6,
    }


def test_deterministic_random_walks_golden(spark):
    """deterministic_random_walks: the next hop is exactly
    argmin_u md5(node|t|u) (recomputed here with hashlib), walks are
    identical across runs, and a dead-end node terminates its walk
    early while other walks continue."""
    import hashlib

    from ontology_graph_etl_spark.operators.graph import (
        deterministic_random_walks,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("c", "d")],
        # d has no out-edges: any walk reaching d stops there
        "src: string, dst: string",
    )
    starts = spark.createDataFrame([("a",), ("d",)], "id: string")
    out = deterministic_random_walks(edges, starts, steps=3)
    got = {(r.walk_id, r.pos): r.node for r in out.collect()}

    def pick(node, t, neighbors):
        return min(
            neighbors,
            key=lambda u: hashlib.md5(f"{node}|{t}|{u}".encode()).hexdigest(),
        )

    adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["d"]}
    node, expect = "a", {("a", 0): "a", ("d", 0): "d"}
    for t in (1, 2, 3):
        if node not in adj:
            break
        node = pick(node, t, adj[node])
        expect[("a", t)] = node
    assert got == expect
    # replay: same result frame on a second run
    again = {(r.walk_id, r.pos): r.node
             for r in deterministic_random_walks(edges, starts, 3).collect()}
    assert again == got


def test_scc_empty_edges(spark):
    """strongly_connected_components on an empty edge frame returns
    an empty (id, scc_id) frame instead of raising."""
    from ontology_graph_etl_spark.operators.graph import (
        strongly_connected_components,
    )

    empty = spark.createDataFrame([], "src: long, dst: long")
    out = strongly_connected_components(empty)
    assert out.columns == ["id", "scc_id"]
    assert out.count() == 0


def test_bipartite_project_golden(spark):
    """bipartite_project on a hand-checkable bipartite graph: pair
    counts, projected degrees, jaccard, degree-1 dst keys never pair,
    min_common filters, max_degree drops hub keys entirely (and the
    degrees stay consistent with the filtered edge set)."""
    from ontology_graph_etl_spark.operators.graph import bipartite_project

    edges = spark.createDataFrame(
        [
            # d1 shared by a,b; d2 shared by a,b,c; d3 only c (deg 1);
            # hub shared by everyone
            ("a", "d1"), ("b", "d1"),
            ("a", "d2"), ("b", "d2"), ("c", "d2"),
            ("c", "d3"),
            ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
            ("a", "d1"),  # duplicate edge — must dedup
        ],
        "src: string, dst: string",
    )
    got = {
        (r.node_a, r.node_b): (r.n_common, r.deg_a, r.deg_b, r.jaccard)
        for r in bipartite_project(edges).collect()
    }
    # d3 (degree 1) contributes nothing; degrees count d1,d2,hub only
    assert got[("a", "b")] == (3, 3, 3, 1.0)
    assert got[("a", "c")] == (2, 3, 2, round(2 / 3, 6))
    assert got[("a", "d")] == (1, 3, 1, round(1 / 3, 6))
    assert len(got) == 6  # all pairs of {a,b,c} plus d with each
    filtered = {
        (r.node_a, r.node_b)
        for r in bipartite_project(edges, min_common=2).collect()
    }
    assert filtered == {("a", "b"), ("a", "c"), ("b", "c")}
    # cap 3 drops the hub; d has no remaining edges, degrees shrink
    capped = {
        (r.node_a, r.node_b): (r.n_common, r.deg_a, r.deg_b)
        for r in bipartite_project(edges, max_degree=3).collect()
    }
    assert capped == {
        ("a", "b"): (2, 2, 2),
        ("a", "c"): (1, 2, 1),
        ("b", "c"): (1, 2, 1),
    }


def test_weighted_shortest_paths_golden(spark):
    """Hand-checkable min-plus semantics: a cheap 3-hop route beats an
    expensive direct edge (exactly what hop-count BFS cannot rank);
    unreachable nodes are absent; parallel edges keep the cheapest."""
    from ontology_graph_etl_spark.operators.graph import (
        weighted_shortest_paths,
    )

    edges = spark.createDataFrame(
        [
            ("a", "z", 100),
            ("a", "b", 1),
            ("b", "c", 1),
            ("c", "z", 1),
            ("a", "b", 7),   # parallel edge, more expensive — ignored
            ("z", "q", 2),
            ("x", "y", 5),   # unreachable island
        ],
        "src: string, dst: string, w: long",
    )
    sources = spark.createDataFrame([("a",)], "id: string")
    got = {
        r.id: r.dist
        for r in weighted_shortest_paths(
            edges, sources, weight_col="w"
        ).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "z": 3, "q": 5}


def test_weighted_shortest_paths_negative_edges_and_cycle_guard(spark):
    """Bellman-Ford semantics: negative edges (no cycle) relax
    correctly — a route that LOOKS more expensive wins via a negative
    edge; a reachable negative CYCLE raises instead of returning
    non-distances; integral weights are enforced."""
    import pytest as _pytest

    from ontology_graph_etl_spark.operators.graph import (
        weighted_shortest_paths,
    )

    # negative edge, acyclic: a->b(5), a->c(10), c->d(-8), d->b(1):
    # best a->b is 3 via the negative edge, not the direct 5
    edges = spark.createDataFrame(
        [("a", "b", 5), ("a", "c", 10), ("c", "d", -8), ("d", "b", 1)],
        "src: string, dst: string, w: long",
    )
    sources = spark.createDataFrame([("a",)], "id: string")
    got = {
        r.id: r.dist
        for r in weighted_shortest_paths(
            edges, sources, weight_col="w"
        ).collect()
    }
    assert got == {"a": 0, "b": 3, "c": 10, "d": 2}

    # reachable negative cycle: b->c->b with net -1
    cyc = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("c", "b", -3)],
        "src: string, dst: string, w: long",
    )
    with _pytest.raises(ValueError, match="negative cycle"):
        weighted_shortest_paths(cyc, sources, weight_col="w")

    # fractional weights refuse loudly (the integer-cents contract)
    frac = spark.createDataFrame(
        [("a", "b", 0.5)], "src: string, dst: string, w: double"
    )
    with _pytest.raises(ValueError, match="integral"):
        weighted_shortest_paths(frac, sources, weight_col="w")


def test_weighted_paths_agree_with_bfs_on_unit_weights(spark, sf_dir):
    """With all weights = 1, min-plus distances ARE hop counts — the
    weighted operator must reproduce shortest_paths exactly on the
    q36 certification graph."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.graph import (
        shortest_paths,
        weighted_shortest_paths,
    )

    part = load_table(spark, sf_dir, "part")
    keys = part.select(F.col("p_partkey").alias("parent"))
    edges = (
        part.select(
            F.col("p_partkey").alias("child"),
            F.expr("p_partkey div 10").alias("parent"),
        )
        .where(F.col("child") >= 10)
        .join(F.broadcast(keys), "parent")
        .select(F.col("parent").alias("src"), F.col("child").alias("dst"))
    )
    sources = part.select("p_partkey").where(F.col("p_partkey") < 10)
    bfs = {
        r.id: r.dist
        for r in shortest_paths(edges, sources).collect()
    }
    wsp = {
        r.id: r.dist
        for r in weighted_shortest_paths(
            edges.withColumn("w", F.lit(1).cast("long")),
            sources,
            weight_col="w",
        ).collect()
    }
    assert wsp == bfs and len(bfs) > 0


def _jobs_per_call(spark, fn):
    """Spark jobs one call runs, counted through a job group and the
    status tracker (after the listener bus has drained, so the last
    job's start event is in)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-per-call-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixpoint_jobs_per_call_pinned(spark):
    """The shared fixpoint loop runs one pin and one emptiness test
    per round. Pin the jobs a whole call runs (the same at any core
    count) for closure on a 6-edge chain (6 rounds) and for the k-core
    fixpoint on K4 plus a 3-edge pendant chain (4 rounds), so an edit
    that adds a per-round action fails here."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src: int, dst: int"
    )
    k4_tail = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src: int, dst: int",
    )
    assert _jobs_per_call(spark, lambda: graph.closure(chain)) == 39
    assert _jobs_per_call(spark, lambda: graph.kcore(k4_tail, k=2)) == 34
