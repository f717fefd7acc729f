"""Property-graph layer (SURVEY.md §2.8) — nodes/edges DataFrames in the
GraphFrames convention, traversals as pure DataFrame joins.

The reference builds its graph by templating Cypher MERGE/MATCH text
(main.py:62,91,299) and the queries the graph serves (neighborhoods,
motifs, ancestor closure) run inside Neo4j. Here the graph IS two
DataFrames and every traversal is a Catalyst-planned join — no GraphX /
GraphFrames dependency (SURVEY.md §7: avoided entirely).
"""

from __future__ import annotations

import itertools
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .upsert import first_wins


def _fixpoint(
    step, advance, state, max_iterations, on_cap=None, changed="true"
):
    """The one convergence loop behind every graph iterative that runs
    to a fixpoint (the GraphX join + group-by iteration, as DataFrames).

    Each round ``step(state)`` builds the round's delta lazily. The
    loop pins it with ``localCheckpoint`` (the lineage cut) and runs
    the round's single convergence action on the pinned copy:
    ``isEmpty()`` over its rows matching ``changed``, a SQL predicate
    (every row by default; a caller whose pinned frame is the whole
    rewritten state names its change-flag column). No such row is the
    fixpoint: ``state`` comes back as it stands. Otherwise the loop
    goes on from ``advance(state, delta)``, given the pinned delta.

    ``max_iterations=None`` runs until the fixpoint. After
    ``max_iterations`` rounds without one, ``on_cap`` is the caller's
    documented cap policy: a ``Warning`` instance is warned and the
    truncated state returned, any other exception is raised, and
    ``None`` returns the state as it stands (best effort).
    """
    for _ in itertools.islice(itertools.count(), max_iterations):
        delta = step(state).localCheckpoint()
        if delta.where(changed).isEmpty():
            return state
        state = advance(state, delta)
    if isinstance(on_cap, Warning):
        # stacklevel 3: the warning points at the operator's caller
        warnings.warn(on_cap, stacklevel=3)
    elif on_cap is not None:
        raise on_cap
    return state


def build_nodes(
    rows: DataFrame,
    id_col: str,
    label_col: str,
    order_col: str,
    prop_cols: dict[str, str] | None = None,
) -> DataFrame:
    """G1 — node upsert keyed by (label, id), first-wins by ingest order
    (reference ``MERGE (n:Label {id:..}) ON CREATE SET``, main.py:62,299).

    Returns the canonical nodes table ``(id, label, **props)``. One hash
    shuffle on (label, id); write-side should partition by ``label``.
    """
    props = prop_cols or {}
    selected = rows.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(label_col).alias("label"),
        F.col(order_col).alias("__order"),
        *[F.col(src).alias(dst) for src, dst in props.items()],
    )
    return first_wins(selected, ["label", "id"], "__order").drop("__order")


def build_edges(
    rels: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rel_col: str = "relationship",
    broadcast_nodes: bool = False,
) -> DataFrame:
    """G2/J3 — edge creation with endpoint validation: an edge
    materializes only if BOTH endpoints exist as nodes (the reference's
    ``MATCH (a) MATCH (b) CREATE (a)-[r]->(b)``, main.py:91 — an
    unmatched MATCH silently produces nothing).

    Two equi inner joins against the node-id set. Pass
    ``broadcast_nodes=True`` only when the node set is known-small (the
    ontology case: ~25K nodes) so the edge fact table never shuffles;
    the default lets AQE pick — a forced broadcast of a billion-node id
    set would OOM every executor at 100 TB.
    """
    ids = nodes.select(F.col("id").alias("__nid")).distinct()
    if broadcast_nodes:
        ids = F.broadcast(ids)
    return (
        rels.join(ids, rels[src_col] == F.col("__nid"), "inner")
        .drop("__nid")
        .join(ids, rels[dst_col] == F.col("__nid"), "inner")
        .drop("__nid")
        .select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(rel_col).alias("relationship"),
        )
    )


def one_hop(
    nodes: DataFrame,
    edges: DataFrame,
    relationship: str | None = None,
    src_filter=None,
) -> DataFrame:
    """G3 — 1-hop neighborhood with node attributes on both endpoints
    (e.g. "genes targeted by drug X": corpus HAS_TARGET edges,
    relationships_sheet5.cypher). Relationship filter is applied before
    the joins so partition pruning on a relationship-partitioned edge
    table kicks in."""
    e = edges
    if relationship is not None:
        e = e.where(F.col("relationship") == relationship)
    src_nodes = nodes
    if src_filter is not None:
        src_nodes = src_nodes.where(src_filter)
    return (
        e.join(
            src_nodes.select(
                F.col("id").alias("src"), F.col("name").alias("src_name")
            ),
            "src",
        )
        .join(
            nodes.select(
                F.col("id").alias("dst"), F.col("name").alias("dst_name")
            ),
            "dst",
        )
        .select("src", "src_name", "relationship", "dst", "dst_name")
    )


def two_hop_motif(
    edges: DataFrame, rel1: str | None = None, rel2: str | None = None
) -> DataFrame:
    """G4 — 2-hop motif ``(a)-[r1]->(b)-[r2]->(c)`` (e.g. drug -TREATS->
    neoplasm -HAS_BIOMARKER-> gene, sheets 4+3 of the corpus). Self-join
    of edges on ``dst = src`` with relationship predicates pushed below
    the join."""
    e1 = edges if rel1 is None else edges.where(F.col("relationship") == rel1)
    e2 = edges if rel2 is None else edges.where(F.col("relationship") == rel2)
    return (
        e1.select(
            F.col("src").alias("a"),
            F.col("relationship").alias("rel1"),
            F.col("dst").alias("b"),
        )
        .join(
            e2.select(
                F.col("src").alias("b"),
                F.col("relationship").alias("rel2"),
                F.col("dst").alias("c"),
            ),
            "b",
        )
        .select("a", "rel1", "b", "rel2", "c")
    )


def closure(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """G5 — transitive closure / ancestors (``PARENT_OF*``, generator
    main.py:81-93): all (node, ancestor) pairs reachable via 1+ hops.

    Semi-naive iteration: each round joins only the *frontier* (pairs
    discovered last round) against the base edges, drops the pairs
    already known with a left-anti join against the accumulated
    closure, and dedups — the standard datalog evaluation, O(depth)
    rounds. The extend join is frontier-sized, but the anti join's
    other side is the union of every earlier frontier, i.e. the closure
    so far: each round shuffles it for the join, and AQE then
    broadcasts it once its size is known. So a round's shuffle grows
    with the closure, not only with the frontier. ``localCheckpoint``
    truncates lineage each round so the plan doesn't grow exponentially
    (SURVEY.md §4 item 1). Terminates at fixpoint; ``max_iterations``
    guards cyclic inputs.

    The base edge list is constant across rounds; when it is small
    (≤ ``_CLOSURE_BROADCAST_EDGES`` rows — known for free after its
    checkpoint) it is broadcast into every extend join, so the frontier
    is never shuffled for that join — only the anti-join/dedup moves
    it. Ontology hierarchies are exactly this shape: edges ≈ #concepts,
    closure ≫ edges.
    """
    # a half-NULL edge is not an edge: drop it whole, matching
    # topo_depth/depth_histogram (a NULL endpoint would otherwise
    # surface as a literal NULL "ancestor" row in the closure, while
    # never extending through the joins — join keys skip NULLs)
    base = (
        edges.select(
            F.col(src_col).alias("node"), F.col(dst_col).alias("anc")
        )
        .where(F.col("node").isNotNull() & F.col("anc").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    small_base = base.count() <= _CLOSURE_BROADCAST_EDGES
    hops = base.select(F.col("node").alias("anc"), F.col("anc").alias("anc2"))
    if small_base:
        hops = F.broadcast(hops)

    def extend(s):
        # frontier ⋈ base: extend each known pair by one hop; dedup AFTER
        # the anti join (smaller input to the distinct shuffle)
        acc, frontier = s
        extended = frontier.join(hops, "anc").select(
            "node", F.col("anc2").alias("anc")
        )
        return extended.join(acc, ["node", "anc"], "left_anti").distinct()

    # acc is a union of already-checkpointed frontiers — unioning is
    # free; re-checkpointing it each round would materialize the whole
    # closure O(depth) times. Never cap silently: a truncated closure
    # looks complete but isn't.
    acc, _ = _fixpoint(
        extend,
        lambda s, new: (s[0].union(new), new),
        (base, base),
        max_iterations,
        UserWarning(
            f"closure did not reach fixpoint within {max_iterations} "
            "iterations; result is truncated at that depth"
        ),
    )
    return acc


#: Contracted-edge count below which the final labeling pass runs as a
#: single union-find task (a few tens of MB through Arrow, well under a
#: second of dict-based union-find).
_CC_LOCAL_EDGE_LIMIT = 1_000_000

#: Node count up to which PageRank broadcasts the rank table each round
#: (~16 MB of (long, long) rows — above this, edges are co-partitioned
#: once and the node-sized side shuffles instead).
_PAGERANK_BROADCAST_NODES = 1_000_000

#: Base-edge count up to which transitive closure broadcasts the edge
#: list into each frontier-extend join.
_CLOSURE_BROADCAST_EDGES = 1_000_000


def _union_find_partition(batches):
    """Union-find over every edge batch of one partition → one
    ``(node, root)`` row per distinct node, where root is the MINIMUM id
    of the node's partition-local component (min-root union keeps the
    canonical-label invariant; path compression keeps finds near O(1))."""
    import pandas as pd  # local import: runs on executors

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for x, y in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            if x not in parent:
                parent[x] = x
            if y not in parent:
                parent[y] = y
            rx, ry = find(x), find(y)
            if rx != ry:
                if ry < rx:
                    rx, ry = ry, rx
                parent[ry] = rx
    nodes = list(parent)
    yield pd.DataFrame({"a": nodes, "b": [find(x) for x in nodes]})


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over the undirected view of ``edges`` →
    ``(id, component)`` where ``component`` is the minimum node id
    reachable from ``id`` (a canonical, deterministic label).

    Two-phase local-contraction design (the DataFrame form of the
    partition-contraction family in Kiveris et al., "Connected
    Components in MapReduce and Beyond" — no GraphX dependency):

    1. **Contraction rounds (the 100 TB path).** Hash-partition the edge
       list on one endpoint and run union-find per partition
       (``mapInPandas`` — the whole partition streams through one Python
       worker), emitting each node's ``(node, local-min-root)`` spanning
       STAR edge. Cross-partition connectivity survives because a node
       keeps one star edge per partition it appears in; the edge list
       shrinks toward #nodes each round (one shuffle per round,
       ``localCheckpoint`` truncates lineage).
    2. **Final labeling.** Once the contracted list fits
       ``_CC_LOCAL_EDGE_LIMIT``, a single-task union-find labels every
       node with its component minimum — exact, deterministic, and for
       graphs already below the limit (the common case after one
       contraction) the whole algorithm is one shuffle + one pass,
       not O(log diameter) join rounds of label propagation (measured
       5.7 s → ~1 s on the sf0.1 LSH dedup star graph).

    The contraction floor is one star edge per node, so a graph with
    more distinct nodes than the limit can never contract under it.
    That is detected as a **stall** (edge count shrinking <10% in a
    round while still above the limit): instead of spinning out the
    rounds and coalescing the whole node set into one task (an OOM at
    real scale, not just a slowdown), the algorithm switches to
    distributed min-label propagation with pointer jumping over the
    already-contracted star graph — O(log n) rounds of bounded
    shuffles, no single-task state (:func:`_min_label_propagation`).

    Minimum-id labels are order-insensitive, so duplicate edges and
    doubled directions need no ``distinct()`` — union-find absorbs them
    cheaper than a full-width shuffle would.
    """
    from pyspark.sql.types import StructField, StructType

    und = _undirect(edges, src_col, dst_col).where(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    # _undirect has already coerced both endpoints to a common type;
    # Python-side min (union-find) and any Spark-side min agree on it
    # for ints and for strings (UTF-8 byte order = code-point order).
    id_type = und.schema["a"].dataType
    pair_schema = StructType(
        [StructField("a", id_type), StructField("b", id_type)]
    )
    cur = und
    prev_edges: int | None = None
    stalled = False
    for _ in range(max_iterations):
        cur = cur.localCheckpoint()
        n_edges = cur.count()  # free: counts the checkpointed blocks
        if n_edges <= _CC_LOCAL_EDGE_LIMIT:
            break
        if prev_edges is not None and n_edges > 0.9 * prev_edges:
            stalled = True
            break
        prev_edges = n_edges
        # enough partitions that each holds ~the local limit, floored at
        # the session's parallelism so executors stay busy
        n_parts = max(
            cur.sparkSession.sparkContext.defaultParallelism,
            int(n_edges // _CC_LOCAL_EDGE_LIMIT) + 1,
        )
        cur = cur.repartition(n_parts, "a").mapInPandas(
            _union_find_partition, pair_schema
        )
    else:
        stalled = True
    if stalled:
        return _min_label_propagation(cur, max_iterations)
    return (
        cur.coalesce(1)
        .mapInPandas(_union_find_partition, pair_schema)
        .select(F.col("a").alias("id"), F.col("b").alias("component"))
    )


def _min_label_propagation(
    cur: DataFrame, max_iterations: int
) -> DataFrame:
    """Distributed fallback labeling for :func:`connected_components`
    when the contracted edge list has more distinct nodes than the
    single-task limit: min-label propagation with one pointer-jump per
    round (label(x) ← min over neighbors' labels, then label(x) ←
    label(label(x))), converging in O(log n) rounds on the star graphs
    contraction emits. Every step is an equi-join + groupBy — bounded
    shuffles, nothing node-set-sized in one task."""
    e = (
        cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .localCheckpoint()
    )
    lab = (
        cur.select("a")
        .unionByName(cur.select(F.col("b").alias("a")))
        .distinct()
        .select(F.col("a").alias("id"), F.col("a").alias("comp"))
        .localCheckpoint()
    )

    def relabel(lab):
        cand = e.join(lab, e["b"] == lab["id"]).select(
            e["a"].alias("id"), lab["comp"].alias("comp")
        )
        merged = (
            lab.unionByName(cand)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp ← comp's comp (labels only ever shrink, so
        # the jumped label is always ≤ the propagated one)
        ptr = merged.select(
            F.col("id").alias("jid"), F.col("comp").alias("jcomp")
        )
        jumped = merged.join(ptr, merged["comp"] == ptr["jid"], "left").select(
            merged["id"],
            F.coalesce(ptr["jcomp"], merged["comp"]).alias("comp"),
        )
        return jumped.join(lab.withColumnRenamed("comp", "__old"), "id").select(
            "id", "comp", (F.col("comp") != F.col("__old")).alias("__moved")
        )

    lab = _fixpoint(
        relabel,
        lambda _, moved: moved.select("id", "comp"),
        lab,
        max_iterations,
        changed="__moved",
    )
    return lab.select("id", F.col("comp").alias("component"))


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Single-source-set BFS hop distances → ``(id, dist)`` for every
    node reachable from ``sources`` (a 1-column DataFrame of node ids),
    ``dist`` = minimum hop count (0 for the sources themselves).

    Frontier iteration: each round expands only the nodes discovered
    last round (semi-naive, like :func:`closure`), so per-round shuffle
    input is frontier-sized; visited nodes are never re-expanded. Rounds
    = graph depth from the source set; ``localCheckpoint`` truncates
    lineage per round. The reference's graph serves exactly this shape
    of query via Cypher variable-length paths over ``PARENT_OF``
    (generator main.py:81-93).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    dist = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint()
    )

    def expand(s):
        dist, frontier = s
        expanded = (
            frontier.join(e, frontier.id == e.src)
            .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        return expanded.join(dist.select("id"), "id", "left_anti")

    dist, _ = _fixpoint(
        expand,
        lambda s, new: (s[0].union(new), new),
        (dist, dist),
        max_iterations,
        UserWarning(
            f"shortest_paths did not exhaust the graph within "
            f"{max_iterations} iterations; distances beyond that depth "
            "are missing"
        ),
    )
    return dist


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    max_iterations: int | None = None,
) -> DataFrame:
    """Min-plus single-source-set shortest paths → ``(id, dist)`` —
    distributed Bellman-Ford over a cost column, the weighted
    generalization of :func:`shortest_paths` (same semi-naive
    machinery: each round relaxes only the nodes whose tentative
    distance IMPROVED last round, so per-round shuffle input is
    frontier-sized and settled nodes never re-propagate). The
    reference's ``PARENT_OF`` hierarchy (main.py:81-93) plus any
    cost-annotated edge set needs exactly this: hop-count BFS cannot
    rank a cheap 3-hop route over an expensive direct edge.

    Weights must be INTEGRAL (validated; cast to long) — the
    integer-cents contract of ``rolling_time_aggregate``: per-path
    sums and the min over them are then exact and engine-portable,
    where float path sums flip last-ulp digits between engines and
    break hash-compared oracles. Scale fractional costs upstream.

    Negative weights are legal (Bellman-Ford semantics) but negative
    CYCLES have no shortest paths: with any negative weight present
    and ``max_iterations=None``, the round cap becomes the node count
    (the classical |V|-round bound, one extra count job) and a
    frontier still improving at the cap raises ``ValueError`` instead
    of returning wrong distances. With non-negative weights the
    default cap is 50 rounds (distances only settle — the BFS
    contract) and hitting it warns about missing depth, like
    :func:`shortest_paths`.

    Per round: frontier ⋈ edges (frontier-sized), one map-side-
    combined min-aggregate, one node-sized anti-join merge;
    ``localCheckpoint`` pins each round's frontier AND the rewritten
    distance table (unlike BFS's append-only union, an improved node
    REPLACES its row, so the dist lineage would otherwise re-derive
    every prior round per iteration)."""
    wt = F.col(weight_col)
    dt = edges.schema[weight_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weighted_shortest_paths needs an integral {weight_col} "
            f"(got {dt}) — scale fractional costs to integer units "
            "upstream (the integer-cents contract)"
        )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            wt.cast("long").alias("w"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: cheapest wins
        .localCheckpoint()
    )
    guard_cycles = False
    if max_iterations is None:
        # the min-weight probe is only consulted on this branch — an
        # explicit max_iterations never reads it, so don't pay the
        # extra job there (ADVICE r15)
        has_negative = (
            e.agg(F.min("w").alias("m")).collect()[0]["m"] or 0
        ) < 0
        if has_negative:
            # the classical |V|-round bound: still improving after
            # n_nodes rounds ⟹ a negative cycle is reachable
            n_nodes = (
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .union(sources.select(F.col(sources.columns[0]).alias("id")))
                .distinct()
                .count()
            )
            max_iterations = int(n_nodes) + 1
            guard_cycles = True
        else:
            max_iterations = 50
    dist = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )

    def relax(s):
        dist, frontier = s
        cand = (
            frontier.join(e, frontier.id == e.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("d"),
            )
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
        return (
            cand.join(dist, "id", "left")
            .where(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
            .select("id", F.col("d").alias("dist"))
        )

    def merge(s, improved):
        dist = (
            s[0].join(improved.select("id"), "id", "left_anti")
            .union(improved)
            .localCheckpoint()
        )
        return dist, improved

    if guard_cycles:
        on_cap = ValueError(
            "weighted_shortest_paths: distances still improving "
            f"after {max_iterations} rounds (> node count) — a "
            "negative cycle is reachable from the sources; no "
            "shortest paths exist"
        )
    else:
        on_cap = UserWarning(
            f"weighted_shortest_paths did not converge within "
            f"{max_iterations} iterations; distances beyond that "
            "depth may be missing or non-minimal"
        )
    dist, _ = _fixpoint(relax, merge, (dist, dist), max_iterations, on_cap)
    return dist


#: fixed-point scale for :func:`pagerank` — rank mass is carried in
#: integer units of 1e-12 so every arithmetic step is exact and
#: engine-order-independent (BIGINT sums commute; double sums don't).
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Deterministic fixed-point PageRank → ``(id, pr)`` with ``pr`` in
    integer units of 1/PAGERANK_SCALE (sum ≈ PAGERANK_SCALE minus
    truncation + dangling loss).

    All arithmetic is integer (``div``): rank starts at ``SCALE div N``;
    each round a node sends ``pr div out_degree`` to each out-neighbor
    and new rank is ``(100-d)*(SCALE div N) div 100 + d*inbound div
    100``. Dangling-node mass is dropped (the standard "no
    redistribution" variant), documented rather than hidden. Integer
    arithmetic makes the result bit-identical across engines and
    partitionings — float PageRank differs in the last ulps with shuffle
    order, which would flake any hash-compared oracle.

    Per iteration: one equi-join of the rank table against the edge list
    + one aggregate. The join strategy is picked from the node count
    (already known — it prices the base rank):

    - **small graphs** (≤ ``_PAGERANK_BROADCAST_NODES`` nodes): the rank
      table is broadcast, so the edge list never shuffles — per round
      only the map-side-combined contribution partials move;
    - **large graphs**: the edge list is hash-partitioned on ``src``
      ONCE (``repartition`` before the checkpoint — ``localCheckpoint``
      preserves partitioning), so each round shuffles only the
      node-sized rank table against stationary edges.

    Ranks/degrees are narrow (id, long); ``localCheckpoint`` bounds
    lineage.

    ``seeds`` (a one-column DataFrame of node ids) switches to
    PERSONALIZED PageRank: the teleport mass restarts only at the seed
    set (``SCALE div n_seeds`` per seed; non-seeds teleport 0), giving
    relevance-to-the-seeds scores — the standard seeded-relevance /
    recommendation variant. Same integer arithmetic, same loop, same
    join strategy; the uniform path's plan is byte-identical to before
    (the seed branch only adds a per-node teleport column). Seed ids
    absent from the graph contribute nothing (they hold teleport mass
    but have no edges); an empty seed set raises.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base = PAGERANK_SCALE // n
    small = n <= _PAGERANK_BROADCAST_NODES
    if seeds is not None:
        seed_ids = (
            seeds.select(F.col(seeds.columns[0]).alias("id"))
            .distinct()
            .localCheckpoint()
        )
        n_seeds = seed_ids.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs a non-empty seed set")
        base = PAGERANK_SCALE // n_seeds
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    # out-degree is joined into the edge list ONCE, outside the loop —
    # each iteration then needs a single join (ranks ⋈ edges) + one
    # aggregate, two shuffles instead of three
    e_deg = e.join(out_deg, e.src == out_deg.id).select(
        "src", "dst", "out_degree"
    )
    if not small:
        e_deg = e_deg.repartition("src")
    e_deg = e_deg.localCheckpoint()
    teleport = (100 - damping_pct) * base // 100
    if seeds is None:
        nodes_t = nodes
        tp_expr = F.lit(teleport)
        ranks = nodes.withColumn(
            "pr", F.lit(base).cast("long")
        ).localCheckpoint()
    else:
        nodes_t = (
            nodes.join(
                seed_ids.withColumn("__is_seed", F.lit(True)), "id", "left"
            )
            .select(
                "id",
                F.coalesce(F.col("__is_seed"), F.lit(False)).alias(
                    "__is_seed"
                ),
                F.when(F.col("__is_seed"), F.lit(teleport))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("__tp"),
            )
            .localCheckpoint()
        )
        tp_expr = F.col("__tp")
        # no checkpoint: a narrow projection of the already-pinned
        # teleport table is cheaper to recompute once (round 1) than
        # to materialize. Initial rank gates on seed MEMBERSHIP, not on
        # __tp > 0: integer teleport underflows to 0 when
        # damping_pct=100 or n_seeds > SCALE*(100-d)/100, and the
        # documented contract (seeds start at `base`, non-seeds at 0)
        # must hold regardless.
        ranks = nodes_t.select(
            "id",
            F.when(F.col("__is_seed"), F.lit(base))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pr"),
        )
    for it in range(iterations):
        contribs = (
            (F.broadcast(ranks) if small else ranks)
            .join(e_deg, ranks.id == e_deg.src)
            .select(
                F.col("dst").alias("id"),
                F.expr("pr div out_degree").alias("share"),
            )
            .groupBy("id")
            .agg(F.sum("share").alias("inbound"))
        )
        ranks = nodes_t.join(
            F.broadcast(contribs) if small else contribs, "id", "left"
        ).select(
            "id",
            (
                tp_expr
                + F.expr(f"({damping_pct} * coalesce(inbound, 0L)) div 100")
            ).cast("long").alias("pr"),
        )
        # checkpoint periodically, not per-iteration: an eager
        # materialization every round costs more than it saves until the
        # lineage gets deep enough to bloat planning (~4 joins)
        if (it + 1) % 4 == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks



def _undirect(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both edge directions in ONE pass over ``edges``: a 2-element
    endpoint-swap explode instead of a union of two projections — the
    union form re-executes the whole edge-builder subtree per branch
    (no exchange reuse; the round-5 fork-without-reuse finding), which
    for a derived edge list (q90: a lineitem self-join) doubles the
    most expensive stage. Falls back to the union when the endpoint
    types differ (array() needs homogeneous structs; unionByName
    handles the coercion in that rare case)."""
    if edges.schema[src_col].dataType == edges.schema[dst_col].dataType:
        return edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
                    ),
                    F.struct(
                        F.col(dst_col).alias("a"), F.col(src_col).alias("b")
                    ),
                )
            ).alias("e")
        ).select("e.*")
    return edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).unionByName(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    )

def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Global triangle count over the undirected view of ``edges`` —
    one row ``(n_triangles)``, each triangle counted exactly once.

    Edges are acyclically oriented, then two equi-joins enumerate
    wedges and close them: (a,b) ⋈ (b,c) semi-⋈ (a,c). Any acyclic
    orientation counts each triangle exactly once (at its unique
    rank-middle node), so both strategies return the same number and
    share the same oracle:

    - ``orient="id"`` — low→high node id. Zero extra cost; wedge
      fan-out is bounded by the max out-degree under id order, which a
      hub node with a small id blows up (a celebrity node of degree d
      contributes O(d²) wedges).
    - ``orient="degree"`` — low→high (degree, id). Two extra
      co-partitioned joins to attach degrees, in exchange for wedge
      fan-out bounded by O(sqrt(m)) per node on any graph (the
      arboricity bound) — the difference between hours and minutes on
      power-law graphs at cluster scale.
    """
    # localCheckpoint: und feeds THREE join branches (e1/e2/e3) — and
    # five on the degree path — with no exchange reuse across them, so
    # an expensive edge builder upstream (q38 derives edges from a
    # lineitem self-join) would execute once per branch. Pin the
    # edge-sized table once; every branch then reads the materialized
    # copy (closure/LPA precedent).
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    if orient == "degree":
        deg = (
            und.select(F.col("a").alias("id"))
            .unionByName(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        und = (
            und.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
            .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
            .select(
                F.when(
                    (F.col("da") < F.col("db"))
                    | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                )
                .otherwise(
                    F.struct(F.col("b").alias("x"), F.col("a").alias("y"))
                )
                .alias("e")
            )
            .select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
        )
    elif orient != "id":
        raise ValueError(f"unknown triangle_count orientation {orient!r}")
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a"), F.col("b").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def label_propagation_communities(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected view of ``edges`` → ``(id, community)``.

    Labels start as node ids; each round every node adopts the most
    frequent label among its DISTINCT neighbors, ties to the smallest
    label. A FIXED round count (not a convergence test) plus the total
    tie order make the result deterministic and engine-portable —
    classic LPA oscillates on bipartite-ish structure, so an unrolled
    oracle needs the round count pinned anyway. Communities differ from
    connected components: a component splits into locally-dense label
    basins instead of collapsing to one min id.

    Scale shape per round, PageRank's adaptive strategy (graph.py
    ``pagerank``): on small graphs (≤ ``_PAGERANK_BROADCAST_NODES``
    nodes) the label table is BROADCAST, so the edge list never
    shuffles — only the map-side-combined vote partials move; on large
    graphs the edge list is hash-partitioned on the neighbor endpoint
    ONCE before its checkpoint, so each round shuffles only the
    node-sized label table. The winning label is picked with
    ``min(struct(-count, label))`` — a hash aggregate with map-side
    combine (maximize count, tie to smallest label) instead of a
    sort-window over the vote rows. Nothing is node-quadratic; the
    label table is ``localCheckpoint``-ed EVERY round — deliberately a
    different cadence than pagerank's every-4th: on the broadcast path
    each round's broadcast exchange re-executes its (un-checkpointed)
    child subplan per ACTION, so a count-then-collect consumer would
    recompute the nested round chain twice; the checkpointed table is
    node-sized and cheap to pin (measured at parity with both the
    no-checkpoint and every-4th variants at sf0.1). Self-loops are
    dropped; isolated nodes never appear (edge-defined).
    """
    # dedup on the CANONICAL (least, greatest) form first, then explode
    # both directions: distinct shuffles N unique undirected edges
    # instead of 2N directed rows (the doubled rows are unique by
    # construction afterwards, no second dedup). One pass over the
    # caller's edge builder, half the dedup shuffle.
    canonical = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    und = _undirect(canonical, "a", "b")
    # checkpoint the undirected list FIRST so nodes/count read the
    # materialized copy instead of recomputing the union+distinct; the
    # large path pays one extra materialization to repartition, exactly
    # where that cost is worth amortizing across rounds
    und = und.localCheckpoint()
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint()
    small = nodes.count() <= _PAGERANK_BROADCAST_NODES
    if not small:
        und = und.repartition("b").localCheckpoint()
    labels = nodes.withColumn("label", F.col("node"))
    for rnd in range(rounds):
        votes = (
            und.join(
                (F.broadcast(labels) if small else labels).select(
                    F.col("node").alias("b"), F.col("label")
                ),
                "b",
            )
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("a")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select(F.col("a").alias("node"), F.col("m.l").alias("label"))
        )
        # EVERY round including the last: the docstring's multi-action
        # argument applies most to the final table (a count-then-collect
        # consumer re-executes the whole round chain twice otherwise);
        # the pin is node-sized and the last round's compute happens
        # exactly once either way.
        labels = labels.localCheckpoint()
    return labels.select(
        F.col("node").alias("id"), F.col("label").alias("community")
    )


def depth_histogram(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 30,
    include_roots: bool = False,
) -> DataFrame:
    """Hierarchy depth histogram — the ancestor-count distribution over
    the ``PARENT_OF`` closure (generator main.py:81-93): for each
    ancestor count, how many nodes have exactly that many ancestors.
    The ontology-shaped health question the closure exists to answer —
    "how deep is this hierarchy, and where does the mass sit" — as one
    table: ``(n_ancestors, n_nodes)``.

    Composition of :func:`closure` (semi-naive, frontier-sized
    shuffles) with two map-side-combined aggregates: per-node ancestor
    counts collapse the closure (its biggest table) immediately, and
    the histogram aggregate is depth-sized. Root nodes (no ancestors)
    do not appear in the closure; ``include_roots=True`` adds the
    ``n_ancestors = 0`` row by counting edge-universe endpoints that
    never appear on the child side — one extra single-scan endpoint
    pass over the raw edge list (the degrees() explode device), never
    a second closure. The default keeps the historical
    ancestors-only shape (q107 contract).
    """
    clo = closure(edges, src_col, dst_col, max_iterations)
    hist = (
        clo.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_ancestors"))
        .groupBy("n_ancestors")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    if not include_roots:
        return hist
    # edge-level NULL filter BEFORE the explode: a half-NULL edge is
    # not an edge (closure and topo_depth drop it whole), so it must
    # not promote its non-NULL endpoint to root candidacy either —
    # the per-endpoint isNotNull() this replaces disagreed with
    # topo_depth's root set on such edges
    endpoints = edges.where(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(
        F.explode(
            F.array(
                F.struct(F.col(src_col).alias("n"), F.lit(1).alias("c")),
                F.struct(F.col(dst_col).alias("n"), F.lit(0).alias("c")),
            )
        ).alias("e")
    ).select("e.*")
    roots_row = (
        endpoints.groupBy("n")
        .agg(F.max("c").alias("__has_parent"))
        .where(F.col("__has_parent") == 0)
        .agg(
            F.lit(0).cast(hist.schema["n_ancestors"].dataType)
            .alias("n_ancestors"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
        .where(F.col("n_nodes") > 0)
    )
    return hist.unionByName(roots_row)


def edge_histogram(edges: DataFrame) -> DataFrame:
    """G6 — relationship histogram (the corpus shape itself, SURVEY.md
    §1.1): one partial-aggregated shuffle."""
    return edges.groupBy("relationship").agg(F.count(F.lit(1)).alias("cnt"))


def degrees(edges: DataFrame) -> DataFrame:
    """Node degree table: out/in degree per node id.

    Single scan via a 2-element endpoint explode instead of a union of
    two projections: the union form re-executes the whole edge-builder
    subtree once per branch (no exchange reuse), doubling the scans of
    whatever ``edges`` is derived from; the explode reads it once and
    still map-side-combines into the same (id)-keyed partial aggregate.
    Measured trade at sf0.1: the generator costs ~0.3 s over the union
    when edges is a RAW cheap scan, and wins whenever the edge builder
    is derived (join/union/concat upstream — every composed graph
    here); at 100 TB halving upstream execution is the only number
    that matters. Heterogeneous endpoint types (``array()`` needs
    same-typed structs, and ANSI union coercion would pick a lossy
    numeric cast) are normalized by casting BOTH endpoints to string —
    the id column then comes out as string, but the single-scan plan
    and the aggregate are unchanged.
    """
    if edges.schema["src"].dataType == edges.schema["dst"].dataType:
        src, dst = F.col("src"), F.col("dst")
    else:
        src = F.col("src").cast("string")
        dst = F.col("dst").cast("string")
    pairs = edges.select(
        F.explode(
            F.array(
                F.struct(
                    src.alias("id"),
                    F.lit(1).alias("out"),
                    F.lit(0).alias("in"),
                ),
                F.struct(
                    dst.alias("id"),
                    F.lit(0).alias("out"),
                    F.lit(1).alias("in"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return pairs.groupBy("id").agg(
        F.sum("out").alias("out_degree"), F.sum("in").alias("in_degree")
    )


def topo_depth(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Topological depth — the longest-path LEVEL of each node in a
    DAG hierarchy: roots (nodes with no parent) are level 0, and every
    other node sits at ``max(parent level) + 1``. This is the
    hierarchy-*level* twin of :func:`depth_histogram`'s ancestor
    *count* — the two differ exactly on DAGs (a node with 6 ancestors
    reachable in 2 hops is level 2, not level 6), and together they
    answer the ontology-shape questions the ``PARENT_OF`` generator
    (main.py:81-93) exists for.

    Orientation matches :func:`closure`: ``src_col`` is the child,
    ``dst_col`` the parent/ancestor side. Output ``(node, depth)``
    covers every node REACHABLE FROM A ROOT — nodes trapped on cycles
    have no root path, no well-defined level, and no output row (and a
    cyclic input that keeps producing frontiers warns + truncates at
    ``max_iterations``, never caps silently).

    Semi-naive frontier iteration, the :func:`closure` pattern:
    ``frontier_t`` = nodes with SOME root path of length ``t`` (one
    broadcast-base join + one frontier-sized distinct per round), and a
    node's level is the largest ``t`` that ever reaches it — one final
    max-aggregate over the accumulated (node, t) stream, whose total
    size is bounded by Σ|frontier_t| (= |nodes| exactly on trees).
    Nothing closure-sized ever materializes: this runs on the raw edge
    list, not on the transitive closure.
    """
    base = (
        edges.select(
            F.col(src_col).alias("node"), F.col(dst_col).alias("parent")
        )
        .where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .distinct()
        .localCheckpoint()
    )
    small_base = base.count() <= _CLOSURE_BROADCAST_EDGES
    # single-scan endpoint explode (the degrees() device) + has-parent
    # flag: roots are endpoints that never appear on the child side
    endpoints = base.select(
        F.explode(
            F.array(
                F.struct(F.col("node").alias("n"), F.lit(1).alias("c")),
                F.struct(F.col("parent").alias("n"), F.lit(0).alias("c")),
            )
        ).alias("e")
    ).select("e.*")
    roots = (
        endpoints.groupBy("n")
        .agg(F.max("c").alias("__has_parent"))
        .where(F.col("__has_parent") == 0)
        .select(F.col("n").alias("node"))
        .localCheckpoint()
    )
    down = base.select(
        F.col("parent").alias("node"), F.col("node").alias("child")
    )
    if small_base:
        down = F.broadcast(down)

    def descend(s):
        return (
            s[1].join(down, "node")
            .select(F.col("child").alias("node"))
            .distinct()
        )

    def deepen(s, frontier):
        # the t-th frontier: nodes with SOME root path of length t
        levels, _ = s
        t = len(levels)
        return levels + [frontier.select("node", F.lit(t).alias("d"))], frontier

    levels, _ = _fixpoint(
        descend,
        deepen,
        ([roots.select("node", F.lit(0).alias("d"))], roots),
        max_iterations,
        UserWarning(
            f"topo_depth did not drain its frontier within "
            f"{max_iterations} iterations (cyclic input?); levels are "
            "truncated at that depth"
        ),
    )
    acc = levels[0]
    for piece in levels[1:]:
        acc = acc.union(piece)
    return acc.groupBy("node").agg(
        F.max("d").cast("long").alias("depth")
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """G14 — k-core peeling over the undirected simple graph of
    ``edges``: repeatedly delete nodes of degree < ``k`` (degree =
    COUNT OF DISTINCT NEIGHBORS; parallel edges collapse, self-loops
    and half-NULL edges are dropped whole, the :func:`closure`
    convention). Returns ``(node, degree)`` for the surviving
    subgraph — with ``rounds=None`` (default) that is the exact
    k-core (peel to fixpoint, ``max_iterations`` guarding); with a
    fixed ``rounds`` it is the r-round peel state, which is what the
    driver-checked query uses so the DuckDB oracle can replay the
    same finite round chain as chained CTEs (the q37/q119 device —
    fixed-round iteration is the price of cross-engine hash checks).

    The graph-cleaning step of a training-data pipeline: 2-cores
    drop the pendant tails of a link graph, higher k isolates the
    densely-cross-referenced spine. The edge frame is hash-partitioned
    on ``a`` ONCE, up front (r17 — the q37 PageRank repartition-once
    device; ``localCheckpoint`` preserves the partitioning, the
    survivor dedup's ClusteredDistribution(a, b) is satisfied by
    hash(a), and the per-round degree aggregate reuses it): per round
    the work is one ZERO-exchange node-keyed count over the surviving
    edges plus two semi joins against the node-sized survivor set
    (materialized once and count-gated broadcast via
    ``broadcast_if_small`` — pre-r17 the lazy ``keep`` subtree was
    recomputed by each join branch, and every round re-shuffled the
    whole edge frame for the degree count; measured 7.95 → 5.80 s at
    sf0.1/3 rounds). The edge frame only SHRINKS round over round, so
    at 100 TB the cost is bounded by O(rounds) scans of a
    monotonically shrinking, never re-shuffled edge list; past the
    broadcast gate the survivor joins degrade to shuffle joins
    gracefully. To a fixpoint (``rounds=None``) the two semi joins
    become two flagging left joins, so the round's pinned edge frame
    marks the edges it cuts and the round's one action is the emptiness
    test of that flag (no edge count per round). ``localCheckpoint``
    truncates lineage each round (the edge frame feeds BOTH the degree
    aggregate and the next round's joins — an unchecked fork would
    re-execute the whole peel chain per consumer, the round-5
    fork-without-reuse class; on a real cluster swap in
    ``checkpoint()`` against the job's checkpoint dir so the
    truncation survives executor loss).
    """
    from .util import broadcast_if_small

    sym = (
        _undirect(
            edges.where(
                F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
            ),
            src_col,
            dst_col,
        )
        .where(F.col("a") != F.col("b"))
        .repartition("a")
        .dropDuplicates(["a", "b"])
        .localCheckpoint()
    )

    def survivors(sym):
        return broadcast_if_small(
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") >= k)
            .select("a")
        )

    if rounds is not None:
        for _ in range(rounds):
            keep = survivors(sym)
            sym = (
                sym.join(keep, "a", "semi")
                .join(keep.select(F.col("a").alias("b")), "b", "semi")
                .localCheckpoint()
            )
    else:

        def peel(sym):
            # the edge frame with a flag on the edges this round cuts:
            # the round's one action tests the pinned flag, and a round
            # that cuts no edge leaves the k-core
            keep = survivors(sym)
            return (
                sym.join(keep.withColumn("__ka", F.lit(True)), "a", "left")
                .join(
                    keep.select(F.col("a").alias("b"), F.lit(True).alias("__kb")),
                    "b",
                    "left",
                )
                .select(
                    "a",
                    "b",
                    (F.col("__ka").isNull() | F.col("__kb").isNull()).alias(
                        "__cut"
                    ),
                )
            )

        sym = _fixpoint(
            peel,
            lambda _, cut: cut.where(~F.col("__cut")).select("a", "b"),
            sym,
            max_iterations,
            UserWarning(
                f"kcore did not reach fixpoint within {max_iterations} "
                "iterations; result is the truncated peel state"
            ),
            changed="__cut",
        )
    return sym.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(F.col("a").alias("node"), "degree")


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over a bipartite (or neighbor-list)
    edge set: for every src pair sharing at least ``min_common`` dst
    neighbors, ``aa_score = Σ_common 1/ln(deg(dst))`` — common
    neighbors weighted down by how promiscuous they are (a part every
    supplier ships says nothing; a rare shared part says a lot). The
    standard link-prediction / entity-affinity baseline (Adamic &
    Adar 2003), output one row per unordered pair (``node_a <
    node_b``) with ``n_common`` and ``aa_score`` (rounded 6dp — the
    cross-engine float contract).

    Plan shape: dedup edges, count dst degrees, attach the degree to
    the edge frame BEFORE the self-join (degree join is linear; doing
    it after pairs would touch the quadratic frame), self-join on dst
    with ``a.src < b.src`` halving the square, one groupBy. Degree-1
    dst keys drop before pairing (they cannot be common, and
    ``ln(1)=0`` would divide by zero). Skew IS the algorithm's cost
    model: a hub dst emits deg²/2 pair rows — ``max_degree`` drops
    hub keys entirely (their 1/ln(deg) contribution is the smallest,
    so truncation is the textbook mitigation, not an approximation
    hack); at 100 TB always set it (the q38 triangle-count hub bound
    applies verbatim).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("__d"))
    lo = 2
    cond = F.col("__d") >= lo
    if max_degree is not None:
        cond = cond & (F.col("__d") <= max_degree)
    ed = e.join(deg.where(cond), "dst")
    a = ed.select(
        "dst", F.col("src").alias("node_a"), F.col("__d").alias("__da")
    )
    b = ed.select("dst", F.col("src").alias("node_b"))
    return (
        a.join(b, "dst")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("__da"))), 6).alias(
                "aa_score"
            ),
        )
        .where(F.col("n_common") >= min_common)
    )


def bipartite_project(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Bipartite projection onto the ``src`` side: the co-occurrence
    graph where two src nodes link iff they share at least
    ``min_common`` dst neighbors — the graph the reference's TREATS
    corpus implies (drugs linked by shared neoplasms; main.py's
    relationship Cypher emits exactly such src→dst edges), and the
    graph twin of :func:`relational.association_pairs` (same pairs;
    there scored by basket statistics, here by neighborhood overlap).
    Output per unordered pair (``node_a < node_b``): ``n_common``,
    both projected degrees (``deg_a``/``deg_b`` — dst-neighborhood
    sizes within the filtered edge set) and ``jaccard`` =
    n_common/(deg_a+deg_b-n_common), rounded 6dp.

    Plan shape — the q56 inverted-index economics: dedup edges, count
    dst degrees, drop degree-1 dst keys BEFORE pairing (they cannot
    be common — on sparse bipartite graphs this is most of the edge
    frame), self-join on dst with ``a.src < b.src`` halving the
    square, one pair-keyed groupBy; src degrees ride a separate
    linear aggregate joined onto the pair frame with NO forced hint —
    AQE broadcasts it from its measured runtime size, so a
    corpus-scaled src domain falls back to a shuffle join instead of
    a forced-broadcast driver OOM. Skew IS the cost
    model: a hub dst emits deg²/2 pair rows, and ``max_degree`` drops
    hub keys entirely — set it at scale (the q155 cap rationale:
    hub-shared neighbors are the least informative and generate the
    most pairs). Degrees are computed AFTER the dst filtering so
    ``jaccard`` is internally consistent with ``n_common`` under a
    cap.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("__d"))
    cond = F.col("__d") >= 2
    if max_degree is not None:
        cond = cond & (F.col("__d") <= max_degree)
    ed = e.join(deg.where(cond), "dst").select("src", "dst")
    sdeg = ed.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("__sd")
    )
    a = ed.select("dst", F.col("src").alias("node_a"))
    b = ed.select("dst", F.col("src").alias("node_b"))
    pairs = (
        a.join(b, "dst")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    # src-degree tables are src-domain-sized but NOT hinted: a forced
    # broadcast on a corpus-scaled src domain is a driver OOM AQE
    # cannot decline (r14 VERDICT watch item). AQE reads sdeg's actual
    # aggregate output size at the stage boundary and converts both
    # joins to broadcast when small — measured: a count-gated hint
    # (persist + count) re-executed the distinct/degree pipeline and
    # ran 4x slower than letting AQE decide.
    da = sdeg.select(
        F.col("src").alias("node_a"), F.col("__sd").alias("deg_a")
    )
    db = sdeg.select(
        F.col("src").alias("node_b"), F.col("__sd").alias("deg_b")
    )
    return (
        pairs.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_trim_rounds: int = 10,
    max_color_rounds: int = 50,
    max_outer_rounds: int = 20,
) -> DataFrame:
    """Strongly connected components of a directed graph — the
    trim + forward-coloring + backward-sweep method (the FW-BW /
    coloring family of Fleischer et al. / Slota et al., the published
    scalable alternative to Tarjan's inherently sequential stack).
    Returns ``(id, scc_id)`` for every edge endpoint, ``scc_id`` =
    the smallest node id in the component.

    Three phases, all over shrinking frames:

    1. **Trim** (``max_trim_rounds``, best-effort): nodes with zero
       in-degree or zero out-degree cannot sit on a cycle — they are
       singleton SCCs; peel them iteratively (each peel exposes the
       next tail layer). On tail-heavy graphs (functional-graph rho
       tails, link-graph pendants) this resolves MOST nodes in a few
       cheap degree-count rounds before any quadratic-ish work. A cap
       hit is not an error — coloring handles whatever remains.
    2. **Color**: propagate the minimum ancestor id forward along
       edges to fixpoint (``color(dst) = min(color(dst),
       color(src))`` per round, semi-naive — only changed colors
       re-propagate). Rounds needed = the graph's longest min-label
       path, so this is an O(diameter)-round algorithm like every
       published distributed SCC; ``max_color_rounds`` guards with a
       RuntimeError rather than silently wrong output.
    3. **Backward sweep**: each color class has one pivot (``color ==
       id``); the pivot's SCC is exactly the nodes of its class that
       reach it through intra-class edges (Fleischer's theorem — the
       v→pivot path can never leave the class, else the class's
       color would be smaller). One reverse BFS from ALL pivots at
       once (frontier semi-join per round), assign, remove, repeat
       from phase 2 — non-pivot-SCC nodes of a class recolor next
       outer round.

    Scale shape: every phase is endpoint-keyed joins/aggregates over
    an edge frame that only shrinks; frontiers and color deltas are
    node-sized; ``localCheckpoint`` truncates each round's lineage
    fork (the kcore device). Skew: a hub node's edges concentrate on
    one endpoint hash — same exposure and same mitigation as q37
    pagerank (AQE skew split); color propagation adds no new skew
    axis because deltas key on the same endpoints.
    """
    e_all = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e_all.select(F.col("src").alias("id"))
        .union(e_all.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def drop(e, gone):
        """The edge frame without any edge touching a ``gone`` node."""
        return (
            e.join(gone.select(F.col("id").alias("src")), "src", "left_anti")
            .join(gone.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint()
        )

    # -- phase 1: trim tails (singletons by degree) ---------------------
    def trim(s):
        nodes, e, _ = s
        # self-loop nodes are cyclic by themselves: never trimmable
        loopers = e.where(F.col("src") == F.col("dst")).select(
            F.col("src").alias("id")
        )
        has_out = e.select(F.col("src").alias("id")).distinct()
        has_in = e.select(F.col("dst").alias("id"))
        # semi join, not intersect: both sides are endpoint
        # projections of the SAME deduped edge frame, so intersect's
        # extra per-side distinct pass buys nothing
        keep = (
            has_out.join(has_in, "id", "semi").union(loopers).distinct()
        )
        return nodes.join(keep, "id", "left_anti")

    def assign_singletons(s, trimmed):
        nodes, e, assigned = s
        return (
            nodes.join(trimmed, "id", "left_anti").localCheckpoint(),
            drop(e, trimmed),
            assigned + [trimmed.select("id", F.col("id").alias("scc_id"))],
        )

    # best effort: a cap hit leaves the remaining tails to coloring
    state = _fixpoint(
        trim, assign_singletons, (nodes, e_all, []), max_trim_rounds
    )

    # -- phases 2+3: color, sweep, peel, repeat --------------------------
    def color_of(nodes, e):
        def spread(s):
            # propagate only last round's improvements (semi-naive)
            color, delta = s
            cand = (
                e.join(
                    delta.select(
                        F.col("id").alias("src"), F.col("color").alias("c")
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("c").alias("c"))
            )
            return color.join(
                cand.select(F.col("dst").alias("id"), "c"), "id", "left"
            ).select(
                "id",
                F.least(F.col("color"), F.coalesce("c", F.col("color"))).alias(
                    "color"
                ),
                (F.col("c") < F.col("color")).alias("__improved"),
            )

        color = nodes.select("id", F.col("id").alias("color"))
        color, _ = _fixpoint(
            spread,
            lambda _, m: (
                m.select("id", "color"),
                m.where(F.col("__improved")).select("id", "color"),
            ),
            (color, color),
            max_color_rounds,
            RuntimeError(
                f"scc coloring did not reach fixpoint within "
                f"{max_color_rounds} rounds; raise max_color_rounds "
                f"(rounds scale with graph diameter)"
            ),
            changed="__improved",
        )
        return color

    def resolve(s, nodes):
        _, e, assigned = s
        color = color_of(nodes, e)
        # intra-class edges: both endpoints share a color
        ce = (
            e.join(
                color.select(F.col("id").alias("src"), F.col("color").alias("cs")),
                "src",
            )
            .join(
                color.select(F.col("id").alias("dst"), F.col("color").alias("cd")),
                "dst",
            )
            .where(F.col("cs") == F.col("cd"))
            .select("src", "dst")
            .localCheckpoint()
        )

        def back(s):
            reached, frontier = s
            step = (
                ce.join(
                    frontier.select(F.col("id").alias("dst"), "scc_id"), "dst"
                )
                .select(F.col("src").alias("id"), "scc_id")
                .distinct()
            )
            return step.join(reached, "id", "left_anti")

        pivots = color.where(F.col("id") == F.col("color")).select(
            "id", F.col("color").alias("scc_id")
        ).localCheckpoint()
        reached, _ = _fixpoint(
            back,
            lambda s, fr: (s[0].union(fr).localCheckpoint(), fr),
            (pivots, pivots),
            None,
        )
        # the next round's test pins the remaining node set
        return (
            nodes.join(reached, "id", "left_anti"),
            drop(e, reached),
            assigned + [reached],
        )

    # a round tests the node set the last one left BEFORE coloring it,
    # so the test that follows the max_outer_rounds-th coloring is in
    # round max_outer_rounds + 1 (a graph that still has nodes then is
    # colored once more before the raise)
    _, _, assigned = _fixpoint(
        lambda s: s[0],
        resolve,
        state,
        max_outer_rounds + 1,
        RuntimeError(
            f"scc did not converge within {max_outer_rounds} outer rounds"
        ),
    )
    if not assigned:  # empty edge input: no endpoints, empty result
        return e_all.select(
            F.col("src").alias("id"), F.col("dst").alias("scc_id")
        )
    out = assigned[0]
    for frame in assigned[1:]:
        out = out.union(frame)
    return out.select("id", "scc_id")


def deterministic_random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int,
    src_col: str = "src",
    dst_col: str = "dst",
    start_col: str = "id",
    broadcast_frontier: bool | None = None,
    max_broadcast_starts: int = 1_000_000,
) -> DataFrame:
    """Fixed-length graph walks with HASH-SELECTED next hops — the
    walk-corpus generator behind DeepWalk/node2vec-style graph
    embeddings, made exactly reproducible: at step ``t`` from node
    ``v`` the walk moves to ``argmin_u md5(v|t|u)`` over v's
    out-neighbors. The md5 order statistic is uniform-ish over
    neighbors and varies per step (t is in the hash), so walks mix
    like seeded-random ones while staying replayable bit-for-bit on
    any engine — no RNG state, no seed plumbing, no
    collect-and-reseed. One walk starts per ``starts`` row
    (``walk_id`` = the start node); a walk ends early at a node with
    no out-edges. Output: ``(walk_id, pos, node)``, pos 0..steps.

    Plan shape (rebuilt round 14 after reading the r13 executed plan
    — three separate defects compounded into the 5.5×-per-10×
    SCALING.md reading): edges collapse ONCE into an adjacency-list
    frame (``groupBy(src).collect_set(dst)`` — a single O(E) shuffle
    that also dedups; persisted and materialized so every round reads
    the cached nodes-sized frame, never the corpus). Each round the
    FRONTIER (never more rows than ``starts``) is explicitly
    ``broadcast()`` — a checkpointed/aggregated frontier has no size
    statistics, and without the hint Catalyst flipped rounds ≥2 to
    broadcasting the EDGE side, gigabytes per round for a 21-row
    probe — joined against the adjacency frame, and the hop is picked
    IN-EXPRESSION: ``array_min(transform(nbrs, u → (md5(v|t|u), u)))``
    is the same argmin the old per-edge-row ``min_by`` aggregate
    computed, without re-flattening the neighbor lists or a per-round
    aggregate. Each round's result is localCheckpoint-pinned: the
    checkpoint cuts lineage, without which each union branch at pos=t
    re-executed the entire step prefix 1..t-1 — O(steps²) work for an
    O(steps) algorithm. Per-round cost is now one scan of the cached
    node-sized adjacency frame probed by a broadcast hash table —
    measured 13 s → 0.4 s for the six rounds at 10× (SCALING.md
    round-14); the one-time adjacency build is the remaining (linear,
    irreducible) O(E) term. Hub skew: a hot node's neighbors become
    one array in one row — bounded by out-degree; cap degenerate hubs
    upstream if out-degrees are corpus-scaled (the q155 max_degree
    rationale).

    The frontier broadcast is GATED, not unconditional (r14 ADVICE
    fix): a DeepWalk-style corpus generator starts one walk per NODE,
    making the frontier node-scaled — a forced hint would then build
    a corpus-scaled hash table every round. ``broadcast_frontier``:
    True/False force the hint on/off; None (default) counts
    ``starts`` ONCE (the frontier never grows — walks only die) and
    hints only when the count is at or under ``max_broadcast_starts``.
    Above the threshold the round join is a plain shuffle join on the
    node key, which at node-scaled starts is the co-located join you
    want anyway.
    """
    if broadcast_frontier is None:
        broadcast_frontier = starts.count() <= max_broadcast_starts
    adj = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .groupBy("src")
        .agg(F.collect_set("dst").alias("__nbrs"))
        .persist()
    )
    adj.count()  # materialize once; every round reads the cache
    cur = starts.select(
        F.col(start_col).alias("walk_id"),
        F.lit(0).alias("pos"),
        F.col(start_col).alias("node"),
    )
    out = cur
    for t in range(1, steps + 1):
        cur = _walk_round(
            cur, adj, t, broadcast_frontier=broadcast_frontier
        ).localCheckpoint()
        out = out.union(cur)
    adj.unpersist()  # every round is checkpoint-materialized already
    return out


def _walk_round(
    cur: DataFrame,
    adj: DataFrame,
    t: int,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """One walk round, pre-checkpoint (split out so the plan pin in
    tests/test_plan_shapes.py can inspect the round's OWN plan — the
    eager per-round localCheckpoint reduces the operator's final plan
    to a union of pinned scans, which hides the join shape the
    round-13 adjudication found broken): broadcast the starts-sized
    frontier into the adjacency join (hint gated by the caller on the
    start count — a checkpointed frontier has no size statistics, so
    below the gate the explicit hint is still required to stop
    Catalyst broadcasting the EDGE side) and pick the hop
    in-expression via the md5 argmin."""
    step = F.lit(str(t))
    hop = F.array_min(
        F.transform(
            F.col("__nbrs"),
            lambda u: F.struct(
                F.md5(F.concat_ws("|", F.col("node"), step, u)).alias(
                    "h"
                ),
                u.alias("u"),
            ),
        )
    )["u"]
    frontier = F.broadcast(cur) if broadcast_frontier else cur
    return (
        frontier
        .join(adj, cur["node"] == adj["src"])
        .select("walk_id", F.lit(t).alias("pos"), hop.alias("node"))
    )
