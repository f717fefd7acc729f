"""Physical-plan regression tests: the scale posture (SCALING.md) is a
set of claims about plans, not just results — filters reach the parquet
scan, small dims broadcast, range joins never degenerate to nested
loops, top-k never globally sorts. These tests pin those claims so a
refactor that silently de-optimizes a plan fails CI, not the cluster.
"""

from __future__ import annotations

import re

import pytest

from ontology_graph_etl_spark.plans.registry import queries


def _plan(spark, sf_dir, name: str) -> str:
    df = queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_scan_projection_pruned(spark, sf_dir):
    """q01 projects 4 of documents' 5 columns — the scan must not read
    `text` (the wide column)."""
    plan = _plan(spark, sf_dir, "q01_scan_jsonl")
    scan = next(s for s in plan.split("\n\n") if "Scan parquet" in s)
    assert "text" not in scan, "column pruning lost: text read but not needed"


def test_filter_pushed_to_scan(spark, sf_dir):
    """q07's inequality filter must reach the parquet reader."""
    plan = _plan(spark, sf_dir, "q07_filter_neq")
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "Not(EqualTo" in plan


def test_dimension_join_broadcasts(spark, sf_dir):
    """q20's nation/customer dims must broadcast — the lineitem fact
    side never shuffles for a dimension lookup."""
    plan = _plan(spark, sf_dir, "q20_join3")
    assert "BroadcastHashJoin" in plan


def test_interval_join_never_nested_loop(spark, sf_dir):
    """q28's range predicate must be planned as the bucketed EQUI join,
    not BroadcastNestedLoopJoin (the O(n*m) default for inequality
    joins)."""
    plan = _plan(spark, sf_dir, "q28_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """q22 (orderBy + limit) must plan as TakeOrderedAndProject —
    per-partition heaps, never a global sort."""
    plan = _plan(spark, sf_dir, "q22_sort_limit")
    assert "TakeOrderedAndProject" in plan
    # a global Sort node outside the take would mean the full sort ran
    take_free = plan.replace("TakeOrderedAndProject", "")
    assert "Sort [" not in take_free.split("== Physical Plan ==")[-1].split(
        "\n\n"
    )[0]


def test_topk_per_group_prunes_below_shuffle(spark, sf_dir):
    """q45's rank<=3 filter must push into the window machinery
    (WindowGroupLimit) so partitions prune before/while shuffling."""
    plan = _plan(spark, sf_dir, "q45_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_semi_contains_is_broadcast(spark, sf_dir):
    """q11's theta join is only scale-safe as a BROADCAST nested loop
    (small probe side); a shuffled cartesian would be a regression."""
    plan = _plan(spark, sf_dir, "q11_semi_contains")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q20_join3", "q21_agg_suite", "q13_group_count"],
)
def test_aggregates_have_partial_phase(spark, sf_dir, name):
    """groupBy aggregations must keep the map-side partial phase (two
    HashAggregate nodes around the shuffle)."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count("HashAggregate") >= 2


def test_decontamination_benchmark_broadcasts(spark, sf_dir):
    """q70's benchmark gram set must broadcast — the corpus-side gram
    explode stays partition-parallel and never shuffles against the
    (small) eval set."""
    plan = _plan(spark, sf_dir, "q70_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_is_scan_plus_filter(spark, sf_dir):
    """q68 must stay a single narrow stage: scan + filter, no exchange
    anywhere (the whole point of hash-threshold sampling at 100 TB)."""
    plan = _plan(spark, sf_dir, "q68_stratified_sample")
    assert "Exchange" not in plan


def test_kmeans_assign_plan_constant_in_k(spark, sf_dir):
    """kmeans_assign must not embed the centroid matrix in the plan
    (O(k*dim) literals per row is a Catalyst analysis bomb at large
    k). The assignment is ONE Arrow argmax node whose centroid matrix
    rides the task closure: exactly one ArrowEvalPython, NO exchange
    or join, and a plan that does not grow from k=8 to k=64."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plans = {
        k: kmeans_assign(
            emb, "vec_id", "embedding", k=k
        )._jdf.queryExecution().explainString(mode)
        for k in (8, 64)
    }
    for plan in plans.values():
        # one batch node, not two (formatted mode lists each node once
        # in the tree — "ArrowEvalPython (n)" — and once in the details)
        assert plan.count("ArrowEvalPython (") == 1
        assert "Exchange" not in plan and "Join" not in plan
    # expression ids (#123) differ between the two plans
    size = {k: len(re.sub(r"#\d+", "#", p)) for k, p in plans.items()}
    assert size[64] <= size[8]


def test_lsh_neardup_is_equi_join(spark, sf_dir):
    """q82's candidate generation must be the (band, bucket) EQUI
    self-join — never a nested-loop/cartesian pair enumeration."""
    plan = _plan(spark, sf_dir, "q82_lsh_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_single_rank_shuffle(spark, sf_dir):
    """q83's first-occurrence rank must be one window over the paragraph
    partition — no self-join on paragraph text (which would square the
    boilerplate count)."""
    plan = _plan(spark, sf_dir, "q83_paragraph_dedup")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_gate_no_exchange(spark, sf_dir):
    """q84 is scan-speed expressions only — no shuffle anywhere."""
    plan = _plan(spark, sf_dir, "q84_gopher_quality")
    assert "Exchange" not in plan


def test_ivf_det_probe_is_hash_join(spark, sf_dir):
    """q86's list probe must hash-join candidates on list_id (tiny probe
    side broadcasts); the only nested-loop joins are the intentional
    broadcast crosses against the num_lists-row centroid frame."""
    plan = _plan(spark, sf_dir, "q86_ivf_det_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_boilerplate_removal_join_is_broadcast(spark, sf_dir):
    """q93's removal join must be a broadcast anti-join against the
    (size-bounded by construction) boilerplate set — never a shuffle
    join keyed on paragraph text, and never a nested loop."""
    plan = _plan(spark, sf_dir, "q93_boilerplate")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_mix_is_scan_plus_filter(spark, sf_dir):
    """q96's data pass is a pure md5-threshold filter: the thresholds
    were fixed by the tiny count aggregate at build time, so the
    surviving plan must have no Exchange and no Join."""
    plan = _plan(spark, sf_dir, "q96_temperature_mix")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_rolling_aggregate_single_keyed_shuffle(spark, sf_dir):
    """q97 is one window over the key partition: exactly one shuffle
    Exchange (hashpartitioning on the key), a RANGE-frame Window above
    it, and no joins."""
    import re

    plan = _plan(spark, sf_dir, "q97_rolling_agg")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "Join" not in plan


def test_frame_sample_no_shuffle(spark, sf_dir):
    """q95's frame fan-out happens inside mapInPandas — the plan must
    contain the Python evaluator and no Exchange."""
    plan = _plan(spark, sf_dir, "q95_frame_sample")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_exact_k_sample_prunes_below_shuffle(spark, sf_dir):
    """q102's row_number <= k filter must be recognized by
    InferWindowGroupLimit: a Partial WindowGroupLimit below the
    exchange (each map task ships only its local top-k per stratum)
    and a Final one above. The wide `text` column must not be read."""
    df = queries()["q102_exact_k_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan and "Final" in plan
    scan = next(s for s in plan.split("\n") if "FileScan" in s)
    assert "text" not in scan


def test_apportion_budget_aggregates_before_single_partition(spark, sf_dir):
    """q100 must reduce the corpus to the domain table with a partial
    (map-side combined) aggregate BEFORE anything lands on the single
    partition that ranks remainders — the data-sized side never
    serializes."""
    df = queries()["q100_apportion_budget"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan
    # the SinglePartition exchange exists (tiny domain table only) and
    # sits ABOVE the per-domain hash aggregate in the tree (i.e. the
    # aggregate is a descendant, meaning it runs first)
    single = plan.index("Exchange SinglePartition")
    agg = plan.index("partial_sum")
    assert agg > single, "partial agg must be below the single-partition exchange"


def test_winsorize_bounds_broadcast(spark, sf_dir):
    """q101's two bound scalars must reach the rows via a broadcast
    (BroadcastNestedLoopJoin of a 1-row frame), never a shuffle of the
    data side."""
    df = queries()["q101_winsorize"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        "winsorize must not shuffle the data side"
    )


def test_quality_gate_no_single_partition_stratum_window(spark, sf_dir):
    """q103 (round-6 cutoff-rank plan): the corpus-side window must be
    keyed by (stratum, score-slice bucket) — a window over the raw
    corpus partitioned by the stratum alone is the single-task-per-
    stratum shape the rewrite removed. The tiny count frame's windows
    (keyed by __qs) are exempt: they run over strata x buckets rows."""
    import re

    df = queries()["q103_quality_gate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    corpus = [s for s in specs if "__qs" not in s]
    assert corpus, "expected a corpus-side ranking window"
    assert all("__bkt" in s for s in corpus), (
        "corpus window lost its bucket key — full stratum in one task"
    )


def test_fill_budget_broadcasts_allocations(spark, sf_dir):
    """q105: the allocation table joins via broadcast; the document side
    shuffles exactly once (the domain window) plus the tiny apportion
    aggregate's own exchanges."""
    df = queries()["q105_fill_budget"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "name,max_scans",
    [
        ("q46_funnel", 1),           # single-pass array funnel
        ("q92_distribution_drift", 2),  # one scan per snapshot side
        ("q98_numeric_drift", 2),    # binning layered on the same plan
        ("q88_unigram_logprob", 3),  # two tokenize passes + id join
        ("q34_degrees", 2),          # endpoint explode, one edge pass
        ("q102_exact_k_sample", 1),
        # seed stream scanned once (window count, not groupBy+join-back
        # — the join form re-scans per sibling consumer: 113 s vs 63 s
        # at 100x) + the broadcast n_chars side
        ("q131_exact_substring_spans", 2),
        ("q132_exact_substring_removal", 2),
    ],
)
def test_no_fork_without_reuse_regression(spark, sf_dir, name, max_scans):
    """Round-5 sweep regression guard: these queries were rewritten so
    sibling consumers stop re-executing their shared upstream (SCALING
    'fork-without-reuse'); a refactor that reintroduces the fork shows
    up as extra FileScans in the executed plan."""
    df = queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= max_scans, (
        f"{name}: expected <= {max_scans} scans, plan has "
        f"{plan.count('FileScan')} — a shared subtree is re-executing"
    )


def test_uniform_pagerank_plan_identity(spark, sf_dir):
    """pagerank()'s docstring claims the uniform path's plan is
    byte-identical whether or not the seeds= branch exists in the
    function — make that mechanical: (a) no seed machinery (the __tp /
    __is_seed columns) appears anywhere in the uniform plan, and (b)
    the normalized plan fingerprint equals the hash pinned when the
    seeds branch landed (round 5) and re-pinned after the round-6
    seed-init fix — any drift of the UNIFORM plan fails here."""
    import hashlib
    import os
    import re

    # the fingerprint embeds spark.sql.shuffle.partitions, which the
    # session derives from the host's core count: pin the value the
    # hash was taken at so the check holds on any host
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        df = queries()["q37_pagerank"](spark, sf_dir)
        s = df._jdf.queryExecution().simpleString()
    finally:
        spark.conf.set(key, prev)
    assert "__tp" not in s and "__is_seed" not in s, (
        "seed machinery leaked into the uniform pagerank plan"
    )
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        return  # fingerprint embeds scan paths; pinned for the default
    norm = re.sub(
        r"#\d+|plan_id=\d+|\[id=#?\d+\]|, id=#?\d+|(?<=lambda )\w+_\d+",
        "",
        s,
    )
    assert hashlib.sha256(norm.encode()).hexdigest()[:16] == "3bbdba0c55226d41"


def test_fill_budget_no_single_partition_domain_window(spark, sf_dir):
    """q105 (round-6 hierarchical plan): the corpus-side running-sum
    window must be keyed by (domain, md5-prefix bucket) — partitioning
    by the domain alone serializes each mix domain into one task."""
    import re

    df = queries()["q105_fill_budget"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    corpus = [s for s in specs if "__okey" in s]
    assert corpus, "expected the bucketed running-sum window"
    assert all("__bkt" in s for s in corpus), (
        "running-sum window lost its bucket key"
    )


def test_weighted_sample_no_data_shuffle(spark, sf_dir):
    """q108 is a scan-speed filter: the max aggregate broadcasts back
    via a nested-loop cross of one row; the data side must never hash-
    shuffle."""
    df = queries()["q108_weighted_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_span_removal_single_rank_window_no_pair_join(spark, sf_dir):
    """q110's duplicated-occurrence detection must be ONE window over
    the gram partition (the q83 device) — never a gram self-join
    (squares hot grams) — and reassembly happens in-row: exactly two
    scans of the documents parquet (gram branch + output base), one
    Window, no nested-loop/cartesian anywhere."""
    from ontology_graph_etl_spark.plans.registry import queries as qs

    df = qs()["q110_span_removal"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") <= 2, (
        f"{plan.count('FileScan')} scans — a shared subtree re-executes"
    )


def test_bm25_query_side_broadcasts_and_topk_prunes(spark, sf_dir):
    """q113's corpus-sized work must be exactly the pruned tf aggregate
    and the (query, doc) score aggregate: every query-side join is a
    broadcast, the top-k window carries WindowGroupLimit pruning, and
    no nested-loop/cartesian appears (the stats cross join is a
    broadcast of a 1-row aggregate)."""
    plan = _plan(spark, sf_dir, "q113_bm25_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # all equi-joins resolve to broadcast (term_set, doc_freq, qterms):
    # a shuffled corpus-vs-query join would surface as SortMergeJoin
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # the only nested-loop nodes allowed are the broadcast 1-ROW stats
    # cross join (the winsorize scalar device); assert none beyond it
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_multi_profile_single_scan(spark, sf_dir):
    """q114 profiles two value columns in ONE aggregate pass: exactly
    one parquet scan and one exchange (the group shuffle) — the
    single-column-per-call form would pay a scan per column."""
    from ontology_graph_etl_spark.plans.registry import queries as qs

    df = qs()["q114_multi_profile"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_pivot_is_one_partial_agg_pass(spark, sf_dir):
    """q116's pinned-values pivot must compile to ONE scan + one
    partial-aggregated shuffle of conditional aggregates — never a
    per-type scan or a values-discovery job."""
    from ontology_graph_etl_spark.plans.registry import queries as qs

    df = qs()["q116_pivot"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") >= 2


def test_unpivot_no_exchange(spark, sf_dir):
    """q117's melt is an in-place row fan-out: no shuffle anywhere."""
    plan = _plan(spark, sf_dir, "q117_unpivot")
    assert "Exchange" not in plan


def test_star_rollup_fact_crosses_one_shuffle(spark, sf_dir):
    """q118's star join must broadcast every dimension: the lineitem
    fact side's only exchange is the rollup aggregate — no
    SortMergeJoin anywhere (a shuffled dim join would add fact-sized
    exchanges)."""
    plan = _plan(spark, sf_dir, "q118_star_rollup")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "Expand" in plan  # the rollup grouping-sets node


def test_interval_overlap_equi_join_one_bucket_emission(spark, sf_dir):
    """q135's overlap join must plan as an EQUI join on (keys, bucket)
    — never the BroadcastNestedLoopJoin/CartesianProduct a raw
    two-sided inequality join would produce — and the one-bucket
    emission filter (bucket == greatest(start buckets)) must be
    present so no distinct is ever needed."""
    df = queries()["q135_interval_overlap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan  # AQE broadcasts at tiny SFs
    ), "overlap join lost its equi-join keys"
    assert "__bucket" in plan and "greatest" in plan, (
        "one-bucket emission filter missing — duplicate pair emissions"
    )
    assert "Deduplicate" not in plan and "Distinct" not in plan


def test_containment_sketch_no_pair_explosion_plan(spark, sf_dir):
    """q136: the probe join and verify joins are all equi joins (no
    nested-loop anywhere), the corpus is scanned once (the shingle
    stream is localCheckpointed and feeds sizes/sketch/index/verify),
    and the sketch side is rank-limited before the probe join."""
    df = queries()["q136_containment_sketch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") <= 1, (
        "shingle stream re-derived from the corpus — the localCheckpoint "
        "fork pin is gone"
    )
    assert "row_number" in plan, "bottom-k sketch rank limit missing"


def test_substring_index_screen_semi_join_shape(spark, sf_dir):
    """q138: the screen is a fingerprint-keyed SEMI join against the
    stored index (never a nested loop), and the batch text is scanned
    a bounded number of times (fingerprint pass + the n_chars side)."""
    df = queries()["q138_substring_index_screen"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, "screen lost its semi-join shape"


def test_tokenizer_fertility_single_scan_no_shuffle(spark, sf_dir):
    """q144: fertility/compression stats are a pure per-row expression
    chain — exactly ONE corpus scan and ZERO exchanges; the word/token
    arrays must never fork into per-column re-scans or a join."""
    df = queries()["q144_tokenizer_fertility"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert "Exchange" not in plan


def test_ngram_novelty_single_walk(spark, sf_dir):
    """q145: the candidate gram stream is walked ONCE — the
    reference-hit flag travels through one left join into one per-doc
    aggregate (a separate anti-join count would re-derive the explode
    lineage: the fork-without-reuse class). At most 3 corpus scans
    (candidate grams, reference grams, the id spine), no nested-loop
    join."""
    df = queries()["q145_ngram_novelty"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 3, plan.count("FileScan")
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_outlier_gate_broadcast_cutoffs(spark, sf_dir):
    """q146: the per-cluster cutoff table is k rows and must join back
    as a BROADCAST hash join (a shuffled join on an 8-row side is the
    wrong plan at any scale); the assignment projection computes twice
    (the documented trade) — exactly 2 scans."""
    df = queries()["q146_semantic_outlier_gate"](spark, sf_dir)
    df.count()  # AQE finalizes the join strategy
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan.count("FileScan")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnow_fingerprints_no_filter_inlining(spark, sf_dir):
    """q147: exploding the staged winnow array with plain explode()
    lets InferFiltersFromGenerate add size(arr)>0, and CollapseProject
    then inlines the ENTIRE staged winnow chain into that Filter —
    resurrecting the O(L²·W) unstaged form (measured 88 s vs 3 s at
    sf0.1). The query uses explode_outer so the rule never fires: no
    Filter in the plan may contain the winnow expression."""
    df = queries()["q147_winnow_fingerprints"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Filter"):
            assert "array_min" not in s and "md5" not in s, s[:200]


def test_bigram_logprob_bounded_scans(spark, sf_dir):
    """q139: the pair count is a window over the occurrence stream
    (not groupBy+join-back, which re-derives the explode lineage) and
    the vocabulary table is localCheckpoint-pinned — the corpus scans
    at most 3 times (pairs, first tokens, output ids), never per
    consumer of the frequency table."""
    df = queries()["q139_bigram_logprob"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 3, plan.count("FileScan")
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_locf_join_free_two_exchanges(spark, sf_dir):
    """q154: the fill is the explode (lead window -> per-gap
    sequence), NOT a grid build joined back to observations — the
    plan must contain no join at all and exactly two exchanges (the
    per-bucket aggregate and the per-key lead window); a third
    exchange or any join means the naive grid formulation crept
    back in."""
    df = queries()["q154_gapfill_locf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:500]
    n_ex = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().lstrip("+-: ").startswith("Exchange")
    )
    assert n_ex == 2, f"expected 2 exchanges, saw {n_ex}"


def test_categorical_profile_single_scan(spark, sf_dir):
    """q162: k columns profile in ONE corpus pass — the inline
    unpivot explode must not multiply FileScans (k scans is the
    naive per-column loop this operator exists to avoid)."""
    df = queries()["q162_categorical_profile"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan.count("FileScan")


def test_transition_matrix_domain_sized_second_shuffle(spark, sf_dir):
    """q161: the corpus shuffles on the key for the lag window and on
    the state pair for the count; the per-prev normalizer windows
    over the count frame — three exchanges total, no join anywhere
    (a groupBy+join-back normalizer would re-shuffle the corpus)."""
    df = queries()["q161_transition_matrix"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:400]
    n_ex = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().lstrip("+-: ").startswith("Exchange")
    )
    assert n_ex == 3, f"expected 3 exchanges, saw {n_ex}"


def test_cdc_apply_target_never_shuffles(spark, sf_dir):
    """q164: the anti join that removes touched keys must be a
    broadcast LeftAnti (the batch key list broadcasts; the 100-TB
    target never exchanges — there is no Exchange above the target
    scan), and WindowGroupLimit must push the rn=1 terminal-row
    filter map-side. The cdc lineage forking into two batch-sized
    scans is the accepted trade (batch-sized, not corpus-sized)."""
    df = queries()["q164_cdc_apply"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    # the customer scan feeds the anti join directly: no Exchange
    # between them (check lineage segment order textually)
    cust_scan = plan.index("FileScan parquet [c_custkey")
    anti = plan.index("LeftAnti")
    assert "Exchange hashpartitioning" not in plan[anti:cust_scan]


def test_frozen_cutoff_screen_batch_never_shuffles(spark, sf_dir):
    """q165: screening a batch against frozen cutoffs is ONE
    broadcast join against the strata-sized cutoff table — the batch
    side carries no Exchange anywhere (the zero-corpus-recompute
    contract would be hollow if the batch paid a shuffle per
    screen)."""
    df = queries()["q165_frozen_gate_screen"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    n_ex = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().lstrip("+-: ").startswith("Exchange hashpartitioning")
    )
    assert n_ex == 0, f"expected no hash exchange, saw {n_ex}:\n{plan[:600]}"


def test_random_walks_round_broadcasts_frontier(spark, sf_dir):
    """q158 (round-14 rebuild): a walk round must build the broadcast
    hash table on the FRONTIER side (BuildLeft) — never on the
    adjacency/edge side (the r13 plan broadcast the full edge frame
    on rounds >= 2 because the sizeless checkpointed frontier lost
    the size race; the explicit hint pins it) — and the round's only
    other input is the cached adjacency frame (InMemoryTableScan,
    zero FileScans: per-round cost no longer touches the corpus).
    Inspects _walk_round's own plan: the eager per-round checkpoint
    reduces the operator's final plan to pinned scans, which is
    exactly why the r13 defect was invisible there. The operator's
    final plan is additionally pinned to carry no joins at all —
    every round pre-executed against the cache."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.graph import _walk_round

    li = load_table(spark, sf_dir, "lineitem")
    adj = (
        li.select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
            .alias("dst"),
        )
        .groupBy("src")
        .agg(F.collect_set("dst").alias("__nbrs"))
        .persist()
    )
    adj.count()
    cur = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 20)
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
            .alias("walk_id"),
            F.lit(0).alias("pos"),
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
            .alias("node"),
        )
        .localCheckpoint()
    )
    rnd = _walk_round(cur, adj, 2)
    rnd.count()
    plan = rnd._jdf.queryExecution().executedPlan().toString()
    adj.unpersist()
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    assert "BuildRight" not in plan, plan[:800]
    assert "InMemoryTableScan" in plan
    # (no bare-FileScan assertion: InMemoryTableScan's printed plan
    # embeds the cached relation's ORIGINAL scan text, so the string
    # appears even though the round reads only the cache)
    # and the operator's final plan: pure union of pinned rounds
    df = queries()["q158_random_walks"](spark, sf_dir)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in final, final[:400]


def test_broadcast_if_small_gates_on_measured_count(spark, sf_dir):
    """util.broadcast_if_small (the r14 VERDICT watch-item fix for
    the forced-broadcast-on-'domain-sized'-frames class): under the
    threshold the join carries the broadcast hint; OVER the
    threshold the hint is withheld and the join degrades to a
    shuffle join Catalyst can plan — a forced F.broadcast() is a
    hint Catalyst cannot decline, so a corpus-scaled group domain
    became a driver OOM instead of a graceful fallback."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.util import broadcast_if_small

    orders = load_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    # under the cap: hinted — BroadcastHashJoin regardless of stats
    small = orders.join(
        broadcast_if_small(stats, max_rows=10_000_000), "o_custkey"
    )
    small.count()
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:600]
    # over the cap: no hint — with autoBroadcast disabled the join
    # must be a shuffle join (the graceful fallback the forced hint
    # forbade); persist keeps the gating count from re-aggregating
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats2 = orders.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n2")
        )
        big = orders.join(
            broadcast_if_small(stats2, max_rows=1), "o_custkey"
        )
        big.count()
        plan2 = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2[:600]
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_random_walks_frontier_gate_semantics(spark, sf_dir):
    """The frontier broadcast is gated, not unconditional (r14 ADVICE
    medium): with broadcast_frontier=False (the node-scaled-starts
    regime — one walk per node makes the frontier corpus-sized) the
    round join carries NO forced frontier hint, and the walks
    themselves are bit-identical either way — the hint is a physical
    choice, never semantics."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.graph import (
        _walk_round,
        deterministic_random_walks,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
        .alias("dst"),
    )
    starts = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 15)
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string"))
            .alias("id")
        )
    )

    def walks(**kw):
        return sorted(
            (r.walk_id, r.pos, r.node)
            for r in deterministic_random_walks(
                edges, starts, steps=2, **kw
            ).collect()
        )

    hinted = walks(broadcast_frontier=True)
    plain = walks(broadcast_frontier=False)
    auto = walks()  # 15 starts <= default cap -> hint on
    assert hinted == plain == auto and len(hinted) > 0
    # the auto gate flips off above max_broadcast_starts
    capped = walks(max_broadcast_starts=0)
    assert capped == hinted

    # plan check: no forced frontier broadcast when gated off (with
    # auto-broadcast disabled so Catalyst can't re-broadcast either
    # side on its own at the tiny test scale)
    adj = (
        edges.groupBy("src")
        .agg(F.collect_set("dst").alias("__nbrs"))
        .persist()
    )
    adj.count()
    cur = starts.select(
        F.col("id").alias("walk_id"),
        F.lit(0).alias("pos"),
        F.col("id").alias("node"),
    ).localCheckpoint()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rnd = _walk_round(cur, adj, 1, broadcast_frontier=False)
        rnd.count()
        plan = rnd._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        adj.unpersist()
    assert "BroadcastHashJoin" not in plan, plan[:600]


def test_binned_cutoff_screen_batch_shape(spark, sf_dir):
    """q173: the BATCH side of the binned-cutoff screen pays no
    shuffle — deriving the cutoffs is strata×bins-sized work (its
    group-sums may exchange domain-sized frames), and the screen
    itself is the shared broadcast join (the q165 pin, applied to
    the mergeable store): no SortMergeJoin anywhere, and the final
    join against the batch is a BroadcastHashJoin."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="plan_q173_") + "/s"
    gatestats.build_binned_cutoff_store(
        docs.where("doc_id % 3 <> 0"), path, "lang", "n_chars", 40,
        n_bins=64,
    )
    out = gatestats.screen_against_binned_cutoffs(
        spark, path, docs.where("doc_id % 3 = 0")
    )
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:800]


def test_pq_ivf_search_plan_shape(spark, sf_dir):
    """q176: the PQ search's memory contract is visible in the plan —
    the STORE scan reads codes+norm and never a vector column (the
    store does not even hold one), and the raw-vector corpus scan
    reads exactly (id, embedding) for the shortlist rescore; the
    probe side carries the broadcast centroid frame."""
    import tempfile

    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="plan_q176_") + "/pq"
    similarity.write_pq_ivf_index(
        emb.where("vec_id % 4 <> 0"), path, num_lists=8, m=4, ksub=16
    )
    out = similarity.search_pq_ivf_index(
        spark, path, emb.where("vec_id < 5"), emb, k=5, nprobe=3
    )
    out.count()
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = [
        s for s in plan.split("\n\n") if "Scan parquet" in s
    ]
    store_scans = [s for s in scans if "/pq" in s]
    corpus_scans = [s for s in scans if "embeddings" in s]
    assert store_scans, plan[:500]
    for s in store_scans:
        assert "codes" in s and "norm" in s
        assert "embedding" not in s  # the 17x memory story
    # the rescore reads the raw vectors from the corpus, pruned to
    # (vec_id, embedding)
    assert any("embedding" in s for s in corpus_scans)
