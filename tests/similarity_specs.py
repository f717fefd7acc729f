"""Executable expression specs for the Arrow nodes in
``operators/similarity.py``.

The package computes centroid assignment and PQ codes with NumPy
batch nodes (``_assign_col``, ``_pq_store_cols_udf``). These are the
JVM expression forms they must match bit-for-bit: every dot and norm
is a Spark double fold, the similarity is ``F.round(..., 6)`` and the
argmax is ``array_max`` over ``struct(sim, -id)`` so ties go to the
lowest id. The certified oracle CTEs (q76, q119, q176) mirror the same
folds. Property tests compare the nodes against these specs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ontology_graph_etl_spark.operators.similarity import cosine


def literal_best_expr(vec: Column, cent_vecs) -> Column:
    """``array_max`` over the k rounded-cosine candidates
    ``struct(sim, neg_cid)``, with the k×dim centroid matrix embedded
    as literals. ``-best["neg_cid"]`` is the centroid id and
    ``best["sim"]`` the similarity; a NULL vector, NULL element or
    length mismatch poisons every sim, so the argmax ties to 0."""
    scored = F.array(
        *[
            F.struct(
                F.round(
                    cosine(vec, F.array(*[F.lit(float(x)) for x in c])),
                    6,
                ).alias("sim"),
                # negated so array_max resolves sim ties to the LOWEST id
                F.lit(-i).alias("neg_cid"),
            )
            for i, c in enumerate(cent_vecs)
        ]
    )
    return F.array_max(scored)


def literal_assign(df, id_col: str, vec_col: str, cents):
    """``(id, centroid_id, sim)`` per row under the literal spec — what
    ``kmeans_assign(..., centroids=cents)`` must return."""
    best = literal_best_expr(F.col(vec_col), cents)
    return df.select(
        F.col(id_col),
        (-best["neg_cid"]).alias("centroid_id"),
        best["sim"].alias("sim"),
    )


def pq_codes_expr(vec: Column, dim: int, codebooks) -> Column:
    """The PQ encoding as one per-row expression: an ``array<int>`` of
    ``m`` sub-space codes, each the rounded-argmax nearest
    sub-centroid (same contract as :func:`literal_best_expr`). Dots
    and norms are unrolled into ``element_at`` arithmetic in the same
    fold order as ``cosine`` (leading 0.0 term included); each
    sub-centroid norm is a Python-computed literal with the same
    left-to-right IEEE sum, so the doubles equal the ``cosine`` form."""
    m = len(codebooks)
    dsub = dim // m
    codes = []
    for j, book in enumerate(codebooks):
        base = j * dsub
        comps = [F.element_at(vec, base + i + 1) for i in range(dsub)]
        nsq = F.lit(0.0)
        for c_ in comps:
            nsq = nsq + c_ * c_
        norm_sub = F.greatest(F.sqrt(nsq), F.lit(1e-12))
        cands = []
        for ci, c in enumerate(book):
            dot = F.lit(0.0)
            for i in range(dsub):
                dot = dot + comps[i] * F.lit(float(c[i]))
            norm_c = max(
                math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12
            )
            cands.append(
                F.struct(
                    F.round(dot / (norm_sub * F.lit(norm_c)), 6).alias(
                        "sim"
                    ),
                    F.lit(-ci).alias("neg_c"),
                )
            )
        codes.append((-F.array_max(F.array(*cands))["neg_c"]).cast("int"))
    return F.array(*codes)
