"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — exact, a broadcast nested-loop of
queries × corpus with the dot product as a codegen'd array expression
(``zip_with`` + ``aggregate``), then a per-query window rank. Correct at
any corpus size as long as the *query* side is broadcastable.

Scale paths (both implemented):
- LSH bucketing via random hyperplanes (signed projections) — each vector
  hashes to a bucket; queries only join their bucket. Hyperplanes derive
  deterministically from ``xxhash64``: no runtime randomness, no shared
  state, no training pass — the streaming-friendly variant.
- IVF (``ivf_topk``) — k-means coarse quantizer shards the corpus into
  lists; queries probe their ``nprobe`` nearest lists (FAISS IVF-Flat
  shape). Better recall/probe trade than LSH when an offline training
  pass over the corpus is acceptable.

Embedding near-dup (cosine > t) reuses the same machinery with a
threshold filter instead of a top-k rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — JVM-side fold, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    # guarded against all-zero vectors: dividing by the tiny epsilon
    # yields ~0 similarity instead of NULL/NaN rows that silently rank
    return F.greatest(
        F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)),
        F.lit(1e-12),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two raw (unnormalized) vectors, double math:
    three single-pass folds (dot + both norms), zero-vector safe."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _pair_cos6_udf():
    """Arrow-vectorized twin of ``F.round(cosine(a, b), 6)`` for a
    two-vector pair stream — one batch node computing the same
    left-fold dots/norms (1e-12 floors) and the same HALF_UP
    6-decimal round (:func:`_round6_half_up`) in NumPy, bit-identical
    to the HOF form (r17; guide §4.2 — higher-order-function lambdas
    are interpreted row-at-a-time, measured 1.5× slower than the
    Arrow twin on the q180 truth-pass pair stream, values identical
    on all 94k pairs).

    NULL semantics mirror ``zip_with``: a NULL on either side, or a
    length mismatch between the two vectors (zip_with pads the
    shorter with NULLs, poisoning the fold), yields NULL. Batches
    with mixed vector lengths are processed per length group, still
    vectorized. NaN components are out of contract and raise (the
    :func:`_pq_store_cols_udf` contract)."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos6(a: pd.Series, b: pd.Series) -> pd.Series:
        ok = a.notna().to_numpy() & b.notna().to_numpy()
        lens = np.asarray(
            [
                len(x) if o and len(x) == len(y) else -1
                for x, y, o in zip(a, b, ok)
            ]
        )
        out = np.full(len(a), np.nan)
        for L in np.unique(lens):
            if L < 0:
                continue
            m = lens == L
            A = np.stack(
                [
                    np.asarray(x, dtype=np.float64)
                    for x, sel in zip(a, m)
                    if sel
                ]
            )
            B = np.stack(
                [
                    np.asarray(y, dtype=np.float64)
                    for y, sel in zip(b, m)
                    if sel
                ]
            )
            if np.isnan(A).any() or np.isnan(B).any():
                raise ValueError(
                    "cosine pair scoring: NaN vector component — out "
                    "of the bit-identical contract; sanitize vectors "
                    "upstream"
                )
            n = A.shape[0]
            na = np.zeros(n)
            nb = np.zeros(n)
            dot = np.zeros(n)
            for i in range(L):
                x = A[:, i]
                y = B[:, i]
                na = na + x * x
                nb = nb + y * y
                dot = dot + x * y
            na = np.maximum(np.sqrt(na), 1e-12)
            nb = np.maximum(np.sqrt(nb), 1e-12)
            out[m] = _round6_half_up(dot / (na * nb))
        return pd.Series(out).where(pd.Series(lens >= 0))

    return _cos6


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force exact cosine top-k: for every query vector, the k most
    similar corpus vectors (self-match excluded).

    Plan shape: broadcast(queries) × corpus nested loop feeding ONE
    Arrow batch node (r17) that scores every pair vectorized in NumPy
    — bit-identical to the previous zip_with/aggregate HOF form, which
    was interpreted row-at-a-time (guide §4.2; measured 1.5× on the
    q180 truth stream). Then ``row_number`` per query — the window
    shuffles only (query, candidate) id/sim rows, never the vectors.
    Ties broken by neighbor id for determinism (hash-checked by the
    driver).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_raw"))
    # r17 (guide §4.2): the quadratic pair stream is this instrument's
    # whole cost, and the zip_with/aggregate HOF cosine is interpreted
    # row-at-a-time — the Arrow pair twin computes the same rounded
    # value 1.5× faster (bit-identical on the full q180 truth stream)
    cos6 = _pair_cos6_udf()
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos6(F.col("q_raw"), F.col("c_raw")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_bucket(
    df: DataFrame,
    vec_col: str,
    num_planes: int = 8,
    seed: int = 42,
    out_col: str = "bucket",
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """Random-hyperplane LSH bucket id: bit b = sign(v · plane_b). Narrow,
    deterministic, no shuffle; 2^num_planes buckets.

    Hyperplane component j of plane p is derived in-plan from a hash of
    ``(seed, p, j)`` with j indexed per element — the vector dimension is
    never sniffed with a driver-side action (an eager ``.first()`` here
    would run the whole upstream plan at construction time and break on
    streaming inputs). Only the sign structure of the planes matters for
    bucketing.

    ``plane_hash`` picks the coefficient hash (q55-simhash precedent):

    - ``"xxhash64"`` (default) — one JVM hash call per coefficient, the
      production path.
    - ``"md5"`` — coefficients from the top 60 bits of
      ``md5(seed-p-j)``, re-derivable in any engine with md5 + hex →
      bigint, which makes the whole bucket assignment (and q61's top-k
      built on it) hash-checkable against a DuckDB oracle. Projections
      are rounded to 6 decimals before the sign test so the bit can't
      depend on engine-specific float summation order.
    """
    if plane_hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown lsh_bucket plane_hash {plane_hash!r}")
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def coef(b: int, j):
        if plane_hash == "xxhash64":
            return F.xxhash64(F.lit(seed), F.lit(b), j).cast(
                "double"
            ) / F.lit(float(2**63))
        key = F.concat_ws(
            "-", F.lit(str(seed)), F.lit(str(b)), j.cast("string")
        )
        hv = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
        return (hv - F.lit(2**59)).cast("double") / F.lit(float(2**59))

    bucket = F.lit(0)
    for b in range(num_planes):
        # zip each component with its position-derived plane coefficient
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(v) - 1, F.lit(0))),
                    # single-param lambda on purpose: F.transform treats a
                    # second parameter as the element-index slot, which
                    # would shadow the captured band id
                    lambda j: coef(b, j),  # noqa: B023 — built this iteration
                ),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        if plane_hash == "md5":
            proj = F.round(proj, 6)
        bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    seed: int = 42,
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """Approximate cosine top-k: bucket corpus and queries with the same
    hyperplanes, join on bucket, rank within (exact rescoring inside the
    bucket). Recall < 1.0 by construction; the scale win is that each
    query touches |corpus| / 2^planes candidates on average, and the join
    is a plain equi-join Catalyst can shuffle-partition. With
    ``plane_hash="md5"`` every stage (buckets, candidates, rescoring,
    rank) re-derives bit-for-bit in a SQL oracle — approximate in recall,
    still deterministic and hash-checkable (q61)."""
    cb = lsh_bucket(corpus, vec_col, num_planes, seed, plane_hash=plane_hash).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("bucket"),
        F.col(vec_col).alias("c_raw"),
    )
    qb = lsh_bucket(queries, vec_col, num_planes, seed, plane_hash=plane_hash).select(
        F.col(id_col).alias("query_id"),
        F.col("bucket"),
        F.col(vec_col).alias("q_raw"),
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).
    Brute-force all-pairs — exact baseline with a DuckDB oracle; the
    LSH-bucketed variant (join on ``lsh_bucket`` first) is the 100-TB
    path since near-dups nearly always share a bucket. Raw-vector
    scoring for the same project-collapse reason as ``cosine_topk``.

    The STREAM side is spread to the session's parallelism first: an
    embeddings table small enough to brute-force arrives as one parquet
    split, and without the guard the whole O(n²) cosine loop runs on a
    single task no matter how many cores are idle (measured 76 s → 3 s
    at 2k × 2k on local[32] — the r5 q99 finding)."""
    n = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    l, r = ensure_parallelism(n).alias("l"), n.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.v"), F.col("r.v")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_near_duplicates_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """Sign-bucket LSH near-dup pairs — the 100 TB production path for
    :func:`embedding_near_duplicates` (whose all-pairs cross join is the
    correctness-scale twin).

    The hash family is axis-aligned random projection: bit ``i`` is the
    sign of coordinate ``i`` (for unit-ish embeddings the coordinate
    hyperplanes are as good as sampled Gaussian ones, and having no RNG
    makes the whole pipeline deterministic and engine-portable — full
    DuckDB oracle, like q50's md5-base MinHash). Bits group into
    ``n_bands`` bands of ``band_bits``; two vectors are candidates iff
    they agree on EVERY bit of at least one band. Candidates come from
    an equi self-join on ``(band, bucket)`` — shuffle is linear in
    rows×bands, never O(n²) — and the exact cosine verify runs only on
    bucket collisions. Near-dup recall rises steeply with cosine: at
    the 0.95-style thresholds dedup uses, disagreeing on all ``n_bands``
    bands requires many sign flips at once. Requires ``n_bands *
    band_bits <= dim``.
    """
    n, banded = _sign_bands(df, id_col, vec_col, n_bands, band_bits)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return _cosine_verify_pairs(cand, n, threshold)


def _sign_bands(
    df: DataFrame, id_col: str, vec_col: str, n_bands: int, band_bits: int
) -> tuple[DataFrame, DataFrame]:
    """Shared sign-bucket banding: returns ``(vectors(id, v), banded(id,
    band, bucket))``. The banded frame is NARROW on purpose — only
    (id, band, bucket) flows into downstream joins. A hot bucket
    (duplicate-heavy corpora put every copy in the same bucket in EVERY
    band) produces O(size²) join rows in the pair variant; at 16 bytes
    each that is survivable where rows dragging two raw vectors (~1 KB
    at dim=64) are not — measured 20 s → 17 s at 20k vectors with 10×
    duplication when the vectors moved to a post-dedup join-back, and
    the star variant (linear in bucket size) then takes it far lower."""
    dims = n_bands * band_bits
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = df.select(F.col(id_col).alias("id"), v.alias("v"))
    # Enforce the documented `n_bands * band_bits <= dim` contract at
    # execution time (JVM-side, no extra job): a short embedding would
    # make F.slice silently yield short bit arrays, so later bands all
    # collapse into one empty-string bucket where every vector collides
    # and the LSH candidate set degenerates toward all-pairs.
    dim_ok = F.assert_true(
        F.size(F.col("v")) >= dims,
        F.concat(
            F.lit(
                f"sign-LSH requires embedding dim >= n_bands*band_bits={dims};"
                " got dim="
            ),
            F.size(F.col("v")).cast("string"),
        ),
    )
    bits = F.when(
        dim_ok.isNull(),
        F.transform(
            F.slice(F.col("v"), 1, dims),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )
    banded = (
        n.withColumn("__bits", bits)
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                "",
                                F.slice(
                                    F.col("__bits"),
                                    b * band_bits + 1,
                                    band_bits,
                                ),
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", "bb.band", "bb.bucket")
    )
    return n, banded


def _cosine_verify_pairs(
    cand: DataFrame, n: DataFrame, threshold: float
) -> DataFrame:
    """Join raw vectors back onto narrow (id_a, id_b) candidates and
    keep pairs with rounded cosine >= threshold."""
    a = n.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = n.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def semantic_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "vec_id",
    left_vec: str = "embedding",
    right_id: str | None = None,
    right_vec: str | None = None,
    threshold: float = 0.9,
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """CROSS-FRAME embedding join: ``(id_a, id_b, cosine_sim)`` for
    every (left, right) pair with rounded cosine >= ``threshold`` —
    the semantic twin of the string-blocked
    :func:`dedup.fuzzy_entity_join` (there two catalogs link on
    blocked edit distance; here on embedding similarity): entity
    linking across datasets, embedding-level eval-contamination
    screens (does a benchmark row have a semantic copy in train?),
    cross-lingual/paraphrase alignment given a shared encoder.

    Same physical economics as the self-join near-dup path
    (:func:`embedding_near_duplicates_lsh`): each side computes the
    SAME deterministic sign-bucket bands (no RNG, so one SQL engine
    re-derives both sides), candidates come from a LEFT×RIGHT equi
    join on ``(band, bucket)`` — shuffle linear in rows×bands, never
    |L|·|R| — and the exact cosine verify touches bucket
    collisions only, vectors joined back narrow-first. ``id_a`` is
    always the left id and ``id_b`` the right id (no ``<`` ordering —
    the sides are different tables); a pair is emitted once per
    collision set (candidates distinct before verify). Requires
    ``n_bands * band_bits <= dim`` on BOTH sides (the _sign_bands
    execution-time guard)."""
    right_id = left_id if right_id is None else right_id
    right_vec = left_vec if right_vec is None else right_vec
    nl, bl = _sign_bands(left, left_id, left_vec, n_bands, band_bits)
    nr, br = _sign_bands(right, right_id, right_vec, n_bands, band_bits)
    cand = (
        bl.alias("l")
        .join(br.alias("r"), ["band", "bucket"])
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        .distinct()
    )
    a = nl.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = nr.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias(
                "cosine_sim"
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings: sign-bucket LSH
    STAR edges (each bucket member pairs only with the bucket's min-id
    hub — candidate count is rows×bands, LINEAR in bucket size where
    the exhaustive pair variant is quadratic) → cosine verify →
    connected components → per-item ``(id, cluster, keep)``. ``cluster``
    is the component's minimum id (canonical label from
    ``graph.connected_components``), so the representative choice
    ``keep = (id == cluster)`` costs NO extra shuffle or window.
    Items with no near-dup form singleton clusters and are kept.

    This is the same star-graph architecture as the text-side
    ``dedup.lsh_dedup_clusters`` (and the same trade: hub↔member
    verification can split a cluster whose pairwise similarity clears
    the threshold but whose hub links don't — set ``threshold`` at or
    below the pairwise bar you care about). Duplicate-heavy corpora are
    exactly where this matters: 10 copies of everything put all copies
    in one bucket per band, and the exhaustive variant's candidate set
    grows ~n²·bands/2^bits while the star variant's stays n·bands.
    """
    from .graph import connected_components

    n, banded = _sign_bands(df, id_col, vec_col, n_bands, band_bits)
    hubs = banded.groupBy("band", "bucket").agg(F.min("id").alias("hub"))
    star = (
        banded.join(hubs, ["band", "bucket"])
        .where(F.col("id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )
    edges = _cosine_verify_pairs(star, n, threshold)
    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster"))
    )


def _md5_seeds(df: DataFrame, id_col: str, vec_col: str, k: int):
    """The ``k`` vectors with the smallest ``(md5(id), id)`` as float
    lists — the deterministic k-means seed pick (k rows to the
    driver)."""
    rows = (
        df.select(id_col, vec_col)
        .withColumn("__o", F.md5(F.col(id_col).cast("string")))
        .orderBy("__o", id_col)
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Deterministic k-means assignment step (the E-step of Lloyd's, and
    the cluster-based-curation primitive: semantic sharding, per-cluster
    sampling, diversity filtering all start from this map).

    Seeds are the ``k`` vectors with the smallest ``(md5(id), id)`` —
    a reproducible pseudo-random draw with no RNG state, so the whole
    operator is hash-checkable across engines (q76), unlike
    :func:`ivf_assign`'s ml-lib centroids. Each vector goes to its
    max-cosine centroid; similarity is rounded to 6 decimals BEFORE the
    argmax and ties break to the lowest centroid id, so the decision
    boundary is identical in any engine that computes the same rounded
    value.

    Output: ``(id, centroid_id, sim)``, one row per input row — a
    duplicated id yields one row per occurrence, each assigned from
    its own vector. A NULL vector, a vector with a NULL element, or
    one whose length differs from the centroids' gets
    ``(0, NULL)``. A non-finite component (NaN or ±Inf) in a vector or
    a centroid raises ``ValueError``.

    Scale shape: the seed pick is a tiny global top-k (k rows to the
    driver); the assignment is ONE Arrow argmax node
    (:func:`_assign_col`) — a zero-shuffle projection whose plan is
    O(1) in k (the k×dim centroid matrix rides the task closure).

    ``centroids=`` skips the seed pick and assigns against the given
    k×dim list (centroid id = list position; ``k`` is ignored) — the
    E-step under :func:`kmeans_train`'s trained centroids, same
    rounded-argmax contract.
    """
    if centroids is None:
        centroids = _md5_seeds(df, id_col, vec_col, k)
    return df.select(
        F.col(id_col), _assign_col(F.col(vec_col), centroids).alias("__a")
    ).select(
        F.col(id_col),
        F.col("__a.centroid_id").alias("centroid_id"),
        F.col("__a.sim").alias("sim"),
    )


#: fixed-point scale for :func:`kmeans_train`'s M-step — components
#: are quantized to integer units of 1e-6 so the per-cluster sums are
#: BIGINT (exact, shuffle-order-independent; double sums are not) and
#: the resulting centroids re-derive bit-for-bit in any engine.
KMEANS_SCALE = 10**6


def semantic_outlier_gate(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    q: float = 0.1,
    centroids: list[list[float]] | None = None,
    approx: bool = False,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Cluster-distance outlier gate — the embedding-space curation
    step between :func:`kmeans_assign` (the map) and a keep filter:
    assign every vector to its max-cosine centroid, then flag the
    lowest-similarity ``q`` fraction WITHIN EACH CLUSTER as outliers.
    Per-cluster cutoffs, not a global one, because cluster densities
    differ — a tight cluster's 10th percentile is another's median;
    the per-cluster tail is where mislabeled/off-distribution vectors
    sit (the SemDeDup-family "far from every prototype" signal, used
    to drop or route to inspection).

    Output per input vector: ``(id, centroid_id, sim, cutoff, keep)``
    — ``cutoff`` is the cluster's q-quantile similarity rounded to 6
    (``sim`` already is, the kmeans_assign contract), ``keep`` is
    ``sim >= cutoff`` so ~(1-q) of each cluster survives; the decision
    compares two 6-rounded values and is engine-portable.

    Exact interpolated ``percentile`` by default (the q44/q101
    precedent — equals DuckDB ``quantile_cont``, so q146 hash-checks);
    ``approx=True`` is the 100 TB path: ``percentile_approx`` is a
    MERGEABLE sketch, so the per-cluster aggregate partial-aggregates
    map-side instead of shuffling every row to its cluster's reducer.
    Scale shape: the assignment is kmeans_assign's zero-shuffle
    Arrow argmax, the cutoff table is k rows and broadcast-joins back;
    the assignment projection computes twice (once under the
    aggregate, once for the join probe) — two narrow scans, the q138
    trade, cheaper than materializing a corpus-sized frame.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    # guard the no-centroids cases explicitly (review r12): with zero
    # centroids kmeans_assign emits NULL centroid_ids, the cutoff join
    # below is null-unsafe, and every input row would vanish silently
    # — a gate that "keeps nothing" must be an error, not a result
    if centroids is not None and len(centroids) == 0:
        raise ValueError("centroids must be non-empty when given")
    if centroids is None and k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    assigned = kmeans_assign(
        df, id_col, vec_col, k=k, centroids=centroids
    )
    if approx:
        cut = F.percentile_approx(
            F.col("sim"), F.lit(q), F.lit(approx_accuracy)
        )
    else:
        cut = F.percentile(F.col("sim"), F.lit(q))
    cuts = assigned.groupBy("centroid_id").agg(
        F.round(cut, 6).alias("cutoff")
    )
    return assigned.join(F.broadcast(cuts), "centroid_id").select(
        F.col(id_col),
        "centroid_id",
        "sim",
        "cutoff",
        (F.col("sim") >= F.col("cutoff")).alias("keep"),
    )


def kmeans_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 2,
) -> list[list[float]]:
    """Deterministic Lloyd training: ``rounds`` full E/M iterations from
    the md5-seeded start, returning the k trained centroids (feed them
    to :func:`kmeans_assign`'s ``centroids=`` or
    :func:`ivf_topk_deterministic`'s ``train_rounds=``).

    Under cosine scoring this is spherical k-means: cosine is
    scale-invariant in the centroid, so the raw component-wise mean
    scores identically to the normalized mean, and the per-round
    objective (sum of assigned cosines) is non-decreasing — property-
    tested. Everything re-derives bit-for-bit across engines (the q37
    PageRank fixed-point device, adapted for double inputs):

    - E-step: :func:`kmeans_assign`'s rounded-argmax (round(cos, 6),
      ties to the lowest centroid id);
    - M-step quantization: ``floor(component * 1e6)`` per element —
      floor, not round, because round's tie mode differs across
      engines while floor doesn't — summed as BIGINT (exact integer
      addition commutes; the double sums Spark would otherwise emit
      differ in final ulps with shuffle order);
    - division: ``floor(S / n)`` evaluated in IEEE double (both S and
      n are < 2^53, so S/n is the correctly-rounded quotient in every
      engine) and the new component is the exact double ``fp / 1e6``;
    - empty clusters keep their previous centroid (deterministic, no
      re-seeding RNG).

    Scale shape per round: ONE pass — the assignment is inlined into
    the stats projection (one zero-shuffle Arrow argmax node,
    :func:`_assign_col`) feeding a
    ``posexplode``→``groupBy(cid, pos)`` aggregate whose map-side
    combine collapses n·dim rows to k·dim per partition before the
    shuffle; only k·dim aggregated rows reach the driver (the same
    O(k) scalar-fetch class as the seed pick). No corpus-sized state
    on the driver, no corpus self-join (r16: the old
    ``df.join(assign, id)`` re-shuffled the whole corpus by id every
    round to re-attach the vector column, guide §2.4).
    """
    import math

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    cents = _md5_seeds(df, id_col, vec_col, k)
    if not cents:
        return []
    for _ in range(rounds):
        # (centroid_id, vec) as one projection over df — no corpus
        # self-join to re-attach the vector column (guide §2.4)
        assigned = df.select(
            _assign_col(F.col(vec_col), cents)["centroid_id"].alias(
                "centroid_id"
            ),
            F.col(vec_col),
        )
        stats = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col(vec_col)).alias("pos", "comp"),
            )
            .groupBy("centroid_id", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("comp") * F.lit(float(KMEANS_SCALE))).cast(
                        "long"
                    )
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cid.setdefault(r.centroid_id, {})[r.pos] = (r.s, r.n)
        nxt = []
        for cid, old in enumerate(cents):
            comps = by_cid.get(cid)
            if not comps:
                nxt.append(old)  # empty cluster: keep previous centroid
                continue
            nxt.append(
                [
                    math.floor(comps[p][0] / comps[p][1]) / KMEANS_SCALE
                    for p in range(len(old))
                ]
            )
        cents = nxt
    return cents


def ivf_topk_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_lists: int = 16,
    nprobe: int = 4,
    train_rounds: int = 0,
) -> DataFrame:
    """IVF approximate cosine top-k with a fully deterministic index —
    the hash-checkable twin of :func:`ivf_topk` (whose ml-lib k-means
    training is seed- and partitioning-dependent → rows-only check).

    The coarse quantizer is :func:`kmeans_assign`'s md5-seeded E-step;
    ``train_rounds > 0`` upgrades it to :func:`kmeans_train`'s
    deterministic Lloyd centroids — tighter lists (higher recall at
    the same nprobe, property-tested) at the cost of ``train_rounds``
    extra passes at index-build time, still bit-for-bit reproducible.
    With the default ``train_rounds=0`` the centroids are the
    ``num_lists`` corpus vectors with smallest ``(md5(id), id)`` and
    the operator is unchanged (the q63/q86 certified plans). Search:
    rank centroids per query by the same rounded cosine, take
    ``nprobe``, rescore exactly inside those lists, top-k by (sim
    desc, id asc) — self-matches excluded.

    Scale shape identical to :func:`ivf_topk`: per-query candidate work
    ~|corpus|·nprobe/num_lists, probe is an equi-join on ``list_id``.
    """
    spark = corpus.sparkSession
    if train_rounds > 0:
        cents = kmeans_train(
            corpus, id_col, vec_col, k=num_lists, rounds=train_rounds
        )
    else:
        cents = _md5_seeds(corpus, id_col, vec_col, num_lists)
    ctr = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "list_id int, centroid array<double>",
        )
    )
    # list membership as one projection over the corpus (no join-back
    # by id to re-attach the vector column, guide §2.4)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _assign_col(F.col(vec_col), cents)["centroid_id"].alias("list_id"),
        F.col(vec_col).alias("c_raw"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("list_id").asc()
    )
    probed = (
        q.crossJoin(ctr)
        .withColumn(
            "__csim", F.round(cosine(F.col("q_raw"), F.col("centroid")), 6)
        )
        .withColumn("__r", F.row_number().over(w_probe))
        .where(F.col("__r") <= nprobe)
        .select("query_id", "q_raw", "list_id")
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        probed.join(assigned, "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6)
        )
        .withColumn("rank", F.row_number().over(w_k))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    num_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    out_col: str = "list_id",
):
    """IVF coarse quantizer: k-means centroids over the corpus, each
    vector assigned to its nearest list. Returns (assigned_df, model).

    Training samples the corpus once (ml.clustering.KMeans on an
    ml-vector column); assignment is a narrow transform. On a cluster
    the centroids (num_lists x dim floats) ride along as a broadcast
    inside the model — corpus-size independent.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = df.withColumn(
        "__features",
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    model = KMeans(
        k=num_lists, seed=seed, featuresCol="__features", predictionCol=out_col
    ).fit(feats)
    assigned = model.transform(feats).drop("__features")
    return assigned, model


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate cosine top-k: corpus sharded into ``num_lists``
    k-means lists; each query probes only its ``nprobe`` nearest lists
    and rescored exactly inside them.

    The scale shape mirrors FAISS IVF-Flat: candidate work per query is
    ~|corpus| * nprobe / num_lists, and the probe is a plain equi-join
    on ``list_id`` that Catalyst shuffles/broadcasts like any dimension
    join. Recall < 1 by construction (rows-only check; the recall test
    compares against brute-force ``cosine_topk``).
    """
    assigned, model = ivf_assign(corpus, vec_col, num_lists, seed, id_col)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_raw"),
        F.col("list_id"),
    )
    # centroid table is tiny: build query->probed-lists pairs driver-side
    centroids = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    ctr_df = spark.createDataFrame(centroids, ["list_id", "centroid"])
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw"))
    probed = (
        q.crossJoin(F.broadcast(ctr_df))
        .withColumn("__sim", cosine(F.col("q_raw"), F.col("centroid")))
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__sim").desc(), F.col("list_id").asc()
                )
            ),
        )
        .where(F.col("__rank") <= nprobe)
        .select("query_id", "q_raw", "list_id")
    )
    scored = (
        c.join(F.broadcast(probed), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against its exact
    twin: ``|approx ∩ exact| / |exact|`` per query id.

    The standard ANN evaluation join (recall@k). Both inputs are the
    ``(query_id, neighbor_id, ...)`` shape every top-k operator here
    emits (``cosine_topk``, ``lsh_topk``, ``ivf_topk``,
    ``ivf_topk_deterministic``). Queries present in ``exact`` but absent
    from ``approx`` get recall 0.0 (left join from the exact side — an
    ANN path that drops a query entirely must show up as a miss, not
    vanish from the report).

    Scale: two per-query aggregates plus one equi-join on
    ``(query, neighbor)`` — everything shuffles on the query key, k rows
    per query; no pairwise blow-up.
    """
    # distinct on BOTH sides guards against malformed inputs with
    # repeated (query, neighbor) rows: duplicates on the approx side
    # would fan out the left join (biasing recall toward duplicated
    # hits), duplicates on the exact side would inflate exact_k and
    # double-weight those neighbors in the per-query recall ratio.
    # Current in-repo generators emit distinct rows; this is the
    # contract-safety guard for foreign result sets.
    e = exact.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    ).distinct()
    a = approx.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    ).distinct().withColumn("__hit", F.lit(1))
    joined = e.join(a, ["__q", "__n"], "left")
    return joined.groupBy("__q").agg(
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("recall"),
        F.count(F.lit(1)).cast("long").alias("exact_k"),
    ).select(F.col("__q").alias(query_col), "recall", "exact_k")


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int = 5,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009) — the
    standard hybrid-retrieval combiner: given per-query rankings from
    several retrievers (lexical BM25, vector cosine, ...), fuse them by
    ``score(d) = Σ_r 1/(k + rank_r(d))`` over the rankings that
    retrieved ``d``, and return the top ``topk`` per query by fused
    score. Rank-based fusion needs no score calibration across
    retrievers — exactly why it is the default in hybrid search
    stacks.

    Determinism: each contribution ``1.0/(k + rank)`` is an exact
    double both engines compute identically; fused scores round to 6
    before ranking and ties break on the document id, so the fused
    list is engine-portable (the q113/q51 device).

    Scale shape: the inputs are already top-k-sized (queries × k
    rows — tiny next to any corpus), so fusion is one union, one
    (query, doc) partial-agg shuffle of rank rows, and a per-query
    ``row_number <= topk`` window (WindowGroupLimit-pruned). Nothing
    corpus-sized moves.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking frame")
    if k < 1 or topk < 1:
        raise ValueError(f"rrf_fuse: k and topk must be >= 1, got {k}, {topk}")
    parts = [
        r.select(
            F.col(query_col).alias("query"),
            F.col(id_col).alias("doc"),
            F.col(rank_col).alias("__r"),
        )
        for r in rankings
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy("query", "doc").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(k) + F.col("__r"))), 6).alias(
            "rrf_score"
        )
    )
    w = Window.partitionBy("query").orderBy(
        F.col("rrf_score").desc(), F.col("doc").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            F.col("query").alias(query_col),
            F.col("doc").alias(id_col),
            "rrf_score",
            "rank",
        )
    )


def rerank_topk(
    fused: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    query_text_col: str = "query_text",
    doc_text_col: str = "text",
    scorer=None,
    rerank_k: int = 5,
    sep: str = "\n",
    score_col: str = "rerank_score",
) -> DataFrame:
    """Cross-encoder RERANK of a fused top-k — the standard last
    stage of a retrieval stack (BM25/ANN recall → RRF fuse →
    cross-encoder precision): join each (query, candidate) pair of
    ``fused`` back to its query text and document text, score the
    packed pair text ``query + sep + doc`` through an injectable
    Arrow-batch ``scorer`` (EXACTLY the :func:`textops.model_scores`
    contract — a pandas ``Series[str] -> Series[float64]``; the
    default :func:`textops.fake_model_scorer` md5-digest fake keeps
    every Spark-side contract certifiable until a real cross-encoder
    is injected), and re-rank per query by (score desc, id asc),
    keeping ``rerank_k``. ALL columns of ``fused`` pass through, so
    the pre-rank evidence (rrf score/rank) rides along the reranked
    row.

    Scale shape: ``fused`` is top-k-sized by construction, so the
    pair frame never exceeds queries × k rows; the query-text join is
    broadcast (query-set-sized) and the doc-text join sends the tiny
    fused side against the corpus scan (AQE broadcasts it), so the
    one corpus-sized touch is the unavoidable text fetch for the
    shortlist. A NULL pair text (either side missing) scores NULL
    and sorts LAST (desc_nulls_last — pinned explicitly: engines
    disagree on default NULL placement in DESC order).
    """
    from .textops import fake_model_scorer, model_scores

    if rerank_k < 1:
        raise ValueError(f"rerank_topk: rerank_k must be >= 1, got {rerank_k}")
    if scorer is None:
        scorer = fake_model_scorer
    carry = list(fused.columns)
    q = queries.select(
        F.col(query_col).alias("__rq"),
        F.col(query_text_col).alias("__qt"),
    )
    d = docs.select(
        F.col(id_col).alias("__rd"), F.col(doc_text_col).alias("__dt")
    )
    pairs = (
        fused.join(F.broadcast(q), F.col(query_col) == F.col("__rq"))
        .join(d, F.col(id_col) == F.col("__rd"))
        .select(
            *carry,
            F.concat(
                F.col("__qt"), F.lit(sep), F.col("__dt")
            ).alias("__pair"),
        )
    )
    scored = model_scores(pairs, carry, "__pair", scorer, score_col)
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rerank_rank", F.row_number().over(w))
        .where(F.col("rerank_rank") <= rerank_k)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Per-vector scalar quantization — the storage path for embedding
    columns at corpus scale: each double component maps to an integer
    code in ``0..levels`` against the vector's own min/max range
    (``levels=255`` ≈ int8: an 8× byte cut before parquet encoding,
    which then dictionary/RLE-packs the small ints further). Returns
    ``(id, qvec array<long>, vmin, vmax)`` — vmin/vmax travel with the
    row so dequantization needs no side table.

    Determinism/portability: code = ``floor((x - vmin)·levels/scale
    + 0.5)`` — floor(+0.5) is half-up rounding written in the one
    rounding primitive whose tie behavior every engine shares; all
    arithmetic is IEEE double on identical operands. Constant vectors
    (scale = 0) map to code 0 everywhere rather than dividing by zero.

    Scale shape: a pure per-row narrow transform — no shuffle, no
    Python, whole-stage-codegen'd. The min/max scalars are computed as
    plain column attributes BEFORE the per-element lambda references
    them (the round-7 no-CSE-in-HOF-lambdas class would otherwise
    re-evaluate array_min per element); width-inflation measured
    sub-linear through 100× (dim 64 → 6400).
    """
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    lv = float(levels)
    # promote float32 inputs to double BEFORE any arithmetic: a
    # float-typed (x - vmin) rounds to float precision mid-expression
    # and lands a borderline component in the adjacent code, while
    # every other engine (and the oracle) computes in double end to
    # end — caught as a single off-by-one code at sf0.001
    prepared = (
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__e"),
        )
        .withColumn("__vmin", F.array_min("__e"))
        .withColumn("__vmax", F.array_max("__e"))
        .withColumn("__scale", F.col("__vmax") - F.col("__vmin"))
    )
    q = F.when(
        F.col("__scale") > 0,
        F.transform(
            F.col("__e"),
            lambda x: F.floor(
                (x - F.col("__vmin")) * F.lit(lv) / F.col("__scale")
                + F.lit(0.5)
            ).cast("long"),
        ),
    ).otherwise(
        F.transform(F.col("__e"), lambda x: F.lit(0).cast("long"))
    )
    return prepared.select(
        F.col(id_col),
        q.alias("qvec"),
        F.col("__vmin").alias("vmin"),
        F.col("__vmax").alias("vmax"),
    )


def dequantize_embeddings(
    qdf: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    levels: int = 255,
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: component =
    ``vmin + q·scale/levels`` (written in exactly that operation order
    so any engine reproduces the same doubles). Emits ``(id, out_col
    array<double>)``; reconstruction error is bounded by
    ``scale/(2·levels)`` per component."""
    lv = float(levels)
    prepared = qdf.withColumn("__scale", F.col("vmax") - F.col("vmin"))
    er = F.when(
        F.col("__scale") > 0,
        F.transform(
            F.col(qvec_col),
            lambda q: F.col("vmin")
            + q.cast("double") * F.col("__scale") / F.lit(lv),
        ),
    ).otherwise(
        F.transform(F.col(qvec_col), lambda q: F.col("vmin"))
    )
    return prepared.select(F.col(id_col), er.alias(out_col))


def retrieval_eval(
    results: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Per-query ranking-quality evaluation — the q99 quality-join
    pattern applied to retrieval: compare a retriever's ranked
    ``results`` against a reference ``truth`` ranking (brute-force
    cosine, an unpruned BM25, a human judgment table — anything with
    ``(query, doc, rank)`` rows) and emit per query:

    - ``n_truth`` / ``n_hits``: reference docs in the truth's top-k,
      and how many of them the results' top-k retrieved;
    - ``recall`` = n_hits / n_truth (recall@k);
    - ``mrr`` = 1 / (best results-rank holding any truth-top-k doc),
      0.0 when none hit — the standard reciprocal-rank credit for
      *where* the first relevant doc landed, not just whether;
    - ``ndcg`` = binary-relevance nDCG@k: DCG = Σ 1/log2(rank+1) over
      hit results-ranks, normalized by the ideal DCG of placing all
      ``n_truth`` docs first. log2 = ln/ln2 — the q113 BM25 oracle
      already certifies ``ln`` cross-engine, and the 6-decimal round
      absorbs last-ulp libm differences.

    Every query in the truth frame gets a row (a retriever that
    returns nothing for a query scores 0.0, not absent) — eval
    operators that silently drop empty queries overstate quality.

    Determinism: counts are exact, recall/mrr round to 6 (the fused-
    score device), so the table hash-checks cross-engine. Scale
    shape: both inputs are top-k-sized (queries × k rows); the hit
    join and both aggregates are tiny next to the retrieval that
    produced them — evaluation never touches the corpus.
    """
    if k < 1:
        raise ValueError(f"retrieval_eval: k must be >= 1, got {k}")
    t = truth.where(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query"), F.col(id_col).alias("doc")
    )
    r = results.where(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query"),
        F.col(id_col).alias("doc"),
        F.col(rank_col).alias("__rrank"),
    )
    joined = t.join(r, ["query", "doc"], "left")
    ln2 = F.log(F.lit(2.0))
    return (
        joined.groupBy("query")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("__rrank").alias("n_hits"),
            F.max(F.lit(1.0) / F.col("__rrank")).alias("__best"),
            F.sum(
                F.lit(1.0)
                / (F.log(F.col("__rrank").cast("double") + 1.0) / ln2)
            ).alias("__dcg"),
        )
        .withColumn(
            # ideal DCG: all n_truth docs at ranks 1..n_truth — a
            # per-row sequence fold, no second aggregate pass
            "__idcg",
            F.aggregate(
                F.sequence(F.lit(1), F.col("n_truth").cast("int")),
                F.lit(0.0),
                lambda acc, i: acc
                + F.lit(1.0) / (F.log(i.cast("double") + 1.0) / ln2),
            ),
        )
        .select(
            F.col("query").alias(query_col),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
            F.round(F.coalesce(F.col("__best"), F.lit(0.0)), 6).alias(
                "mrr"
            ),
            F.round(
                F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
                6,
            ).alias("ndcg"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for each
    query vector, the ``k`` most-similar corpus vectors whose label is
    KNOWN to differ (both labels non-NULL and unequal — a NULL label
    cannot be confirmed negative, so those candidates are excluded, the
    conservative contract). The standard upgrade from in-batch random
    negatives: near-duplicates of the anchor that the label says are
    wrong, which is where the contrastive gradient actually is.

    Plan shape is :func:`cosine_topk`'s (broadcast(queries) × corpus
    nested loop, codegen'd double-math dot, per-query ``row_number``)
    plus a label inequality pushed INTO the join filter — candidates of
    the anchor's own class never reach the window. The query side is a
    training batch (hundreds), the corpus side streams: linear in
    corpus, zero shuffle of it beyond the k-sized window input after
    AQE. At 100 TB corpus scale, compose with the IVF router instead
    (:func:`ivf_topk_deterministic` restricted to ``!=`` labels) — this
    operator is the exact-scoring core both paths share.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_raw"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_raw"),
        F.col(label_col).alias("c_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            & F.col("q_label").isNotNull()
            & F.col("c_label").isNotNull()
            & (F.col("q_label") != F.col("c_label"))
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


#: sidecar filename for stored IVF indexes — carries the FROZEN
#: quantizer (the trained centroids) plus its provenance, so merges
#: assign under the index's own centroids and a mismatched-quantizer
#: append is unconstructible (the dedup-index sidecar contract,
#: dedup.py:617, applied to ANN).
IVF_INDEX_SIDECAR = "_ivf_index_params.json"


def _write_ivf_sidecar(spark, path: str, params: dict) -> None:
    from .util import write_json_sidecar

    write_json_sidecar(spark, path, IVF_INDEX_SIDECAR, params)


def _read_ivf_sidecar(spark, path: str) -> dict:
    from .util import read_json_sidecar

    return read_json_sidecar(
        spark,
        path,
        IVF_INDEX_SIDECAR,
        {"num_lists", "train_rounds", "centroids"},
        "IVF index",
        "an index without its frozen quantizer cannot be merged "
        "into or searched safely; rebuild via write_ivf_index",
    )


def _ivf_rows(
    frame: DataFrame, id_col: str, vec_col: str, cents
) -> DataFrame:
    """``(vec_id, list_id, embedding)`` store rows for an IVF
    build/merge — the assignment as one projection over the frame
    (:func:`_assign_col`; no join-back by id to re-attach the vector
    column, guide §2.4)."""
    return frame.select(
        F.col(id_col).alias("vec_id"),
        _assign_col(F.col(vec_col), cents)["centroid_id"].alias("list_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_lists: int = 16,
    train_rounds: int = 2,
) -> list[list[float]]:
    """Build and persist an IVF index: train the deterministic
    quantizer ONCE (:func:`kmeans_train`; ``train_rounds=0`` falls
    back to the md5-seeded pick, the q63/q86 contract), assign every
    corpus vector to its list, and write ``(vec_id, list_id,
    embedding)`` rows with the centroids FROZEN into the sidecar.
    Freezing is the point: list membership is only meaningful relative
    to the quantizer that produced it, so maintenance
    (:func:`merge_ivf_index`) must assign new batches under the STORED
    centroids — retraining per batch would silently orphan every
    previously-assigned row (the ANN twin of the dedup index's
    permutation-constant poisoning). Returns the trained centroids.

    At 100 TB: one training pass (k·dim driver state), one assignment
    pass (zero shuffle), one partitioned write —
    and the stored layout is the probe-side equi-join input, so reads
    prune to the probed lists.
    """
    if train_rounds > 0:
        cents = kmeans_train(
            corpus, id_col, vec_col, k=num_lists, rounds=train_rounds
        )
    else:
        cents = _md5_seeds(corpus, id_col, vec_col, num_lists)
    spark = corpus.sparkSession
    rows = _ivf_rows(corpus, id_col, vec_col, cents)
    rows.write.mode("overwrite").parquet(path)
    # sidecar AFTER the data lands (write_dedup_index ordering): a
    # failed data write never leaves a sidecar pointing at nothing
    _write_ivf_sidecar(
        spark,
        path,
        {
            "num_lists": int(num_lists),
            "train_rounds": int(train_rounds),
            "centroids": [[float(x) for x in c] for c in cents],
        },
    )
    return cents


def merge_ivf_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fold a new batch of vectors into a stored IVF index — the
    streaming-ingest maintenance step: read the sidecar, assign the
    batch under the index's OWN frozen centroids, append. Cost per
    batch: one assignment pass over the batch + an O(batch) parquet
    append; the corpus-sized existing rows are never read (the
    merge_dedup_index shape). Returns the sidecar params."""
    params = _read_ivf_sidecar(spark, path)
    rows = _ivf_rows(batch, id_col, vec_col, params["centroids"])
    rows.write.mode("append").parquet(path)
    return params


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k against a STORED IVF index, under the
    index's own sidecar centroids — the search half of
    :func:`ivf_topk_deterministic` (same probe/rescore/rank plan,
    duplicated rather than shared so the certified q63/q86/q122 plans
    stay byte-stable) pointed at the persisted lists. Per-query
    candidate work is ~|index|·nprobe/num_lists; the probe is an
    equi-join on ``list_id`` against the stored layout.

    Self-exclusion contract: stored rows whose ``vec_id`` equals the
    query id are dropped. When the two id columns are the same type
    (or both numeric) this is native equality; when exactly ONE side
    is a string the ids compare AS STRINGS and the two id spaces are
    assumed disjoint — a double query id 5.0 does not exclude a
    stored string "5" (normalize to one type before indexing if a
    mixed deployment must self-match)."""
    params = _read_ivf_sidecar(spark, path)
    ctr = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(params["centroids"])],
            "list_id int, centroid array<double>",
        )
    )
    assigned = spark.read.parquet(path).select(
        F.col("vec_id").alias("neighbor_id"),
        "list_id",
        F.col("embedding").alias("c_raw"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_raw"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("list_id").asc()
    )
    probed = (
        q.crossJoin(ctr)
        .withColumn(
            "__csim", F.round(cosine(F.col("q_raw"), F.col("centroid")), 6)
        )
        .withColumn("__r", F.row_number().over(w_probe))
        .where(F.col("__r") <= nprobe)
        .select("query_id", "q_raw", "list_id")
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    # self-exclusion must be type-aware: a string chunk key (e.g.
    # "2:1", build_retrieval_index) vs a numeric query id raises under
    # ANSI on the implicit numeric cast, so string-typed mismatches
    # compare as strings; same-typed ids (q137) and mixed NUMERIC
    # widths (long index vs double query id: 5 == 5.0) keep the native
    # comparison so numeric equality semantics survive.
    # CONTRACT (ADVICE r11): when exactly ONE side is StringType the
    # id spaces are assumed DISJOINT — the string compare cannot
    # equate a numeric render to a stored string ("5.0" vs "5"), and
    # casting the string side to the numeric type would be unsafe
    # (non-numeric strings raise under ANSI). Callers mixing a string
    # id space with a numeric one that must self-match should
    # normalize ids to one type before indexing.
    from pyspark.sql.types import StringType

    n_t = assigned.schema["neighbor_id"].dataType
    q_t = q.schema["query_id"].dataType
    if n_t == q_t or not (
        isinstance(n_t, StringType) or isinstance(q_t, StringType)
    ):
        not_self = F.col("neighbor_id") != F.col("query_id")
    else:
        not_self = F.col("neighbor_id").cast("string") != F.col(
            "query_id"
        ).cast("string")
    return (
        probed.join(assigned, "list_id")
        .where(not_self)
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6)
        )
        .withColumn("rank", F.row_number().over(w_k))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def calibrate_ivf_index(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    max_recall_drop: float = 0.1,
    max_skew: float = 4.0,
) -> DataFrame:
    """The stored-quantizer CALIBRATION report — the q177 device
    (calibrate_binned_cutoffs) applied to the frozen ANN family:
    merged batches encode under quantizers trained on the BUILD
    corpus, and nothing else measures how much recall that freeze is
    now costing or flags a rebuild. One row:

    - ``n_stored`` — stored index rows;
    - ``occupancy_skew`` — max list occupancy ÷ perfect-balance
      occupancy (``max_count · num_lists / n_stored``, 6dp): 1.0 is
      balanced, large values mean the frozen centroids no longer
      partition the ingested distribution (probes over-read the fat
      lists — the IVF latency pathology);
    - ``recall_stored`` / ``recall_fresh`` — MICRO-averaged recall@k
      (``Σ hits / Σ truth`` over the calibration query set — integer
      sums, one division, 6dp: engine-portable where a mean of
      per-query doubles is summation-order-dependent) of (a) the
      stored index searched under its frozen sidecar centroids vs
      (b) a FRESH twin retrained on ``corpus`` with the sidecar's own
      num_lists/train_rounds contract
      (:func:`ivf_topk_deterministic`), both against the same
      brute-force :func:`cosine_topk` truth;
    - ``recall_gap`` = recall_fresh − recall_stored (what a rebuild
      would buy; can be negative — a fresh quantizer is not always
      better on a finite query set);
    - ``needs_rebuild`` — gap > ``max_recall_drop`` OR skew >
      ``max_skew`` (NULL-safe: an empty truth set flags neither).

    Cost shape: the store side is list-count-sized (one groupBy over
    stored rows), both ANN searches are probe-pruned; the ONE
    corpus-scale term is the exact brute-force truth pass — which is
    the point: run this periodically (the q177 cadence), never per
    batch."""
    params = _read_ivf_sidecar(spark, path)
    num_lists = int(params["num_lists"])
    occ = (
        spark.read.parquet(path)
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.sum("__c").cast("long").alias("n_stored"),
            F.max("__c").cast("long").alias("__mx"),
        )
    )
    truth = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
        F.col("query_id").alias("__tq"), F.col("neighbor_id").alias("__td")
    ).localCheckpoint()
    res_stored = search_ivf_index(
        spark, path, queries, id_col, vec_col, k=k, nprobe=nprobe
    )
    res_fresh = ivf_topk_deterministic(
        corpus,
        queries,
        id_col,
        vec_col,
        k=k,
        num_lists=num_lists,
        nprobe=nprobe,
        train_rounds=int(params["train_rounds"]),
    )

    def _hits(res, alias):
        return truth.join(
            res.select(
                F.col("query_id").alias("__tq"),
                F.col("neighbor_id").alias("__td"),
            ),
            ["__tq", "__td"],
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("long").alias(alias))

    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    rs = F.round(F.col("__hs") / F.col("n_truth"), 6)
    rf = F.round(F.col("__hf") / F.col("n_truth"), 6)
    gap = F.round(rf - rs, 6)
    skew = F.round(
        F.col("__mx") * F.lit(num_lists) / F.col("n_stored"), 6
    )
    return (
        occ.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(_hits(res_stored, "__hs")))
        .crossJoin(F.broadcast(_hits(res_fresh, "__hf")))
        .select(
            "n_stored",
            skew.alias("occupancy_skew"),
            "n_truth",
            rs.alias("recall_stored"),
            rf.alias("recall_fresh"),
            gap.alias("recall_gap"),
            (
                F.coalesce(
                    gap > F.lit(float(max_recall_drop)), F.lit(False)
                )
                | F.coalesce(
                    skew > F.lit(float(max_skew)), F.lit(False)
                )
            ).alias("needs_rebuild"),
        )
    )


_PQ_SIDECAR = "_pq_ivf_params.json"
_PQ_KEYS = ("num_lists", "m", "ksub", "centroids", "codebooks")


def _round6_half_up(a):
    """Vectorized twin of Spark's ``F.round(x, 6)`` on doubles.
    Spark rounds the DECIMAL value of the double's shortest string
    repr (``BigDecimal.valueOf(x).setScale(6, HALF_UP)``). The fast
    path rounds half-away-from-zero in binary arithmetic, which
    equals the decimal rounding whenever ``x·1e6`` is not within
    float error of a ``.5`` midpoint; the rare near-midpoint values
    (|frac−0.5| < 1e-6 — float error is < 1e-9 here, so the band is
    generous) go through ``Decimal(repr(x))``, the exact replication.
    NaN/±Inf pass through, as in Spark's Round."""
    import numpy as np

    y = a * 1e6
    with np.errstate(invalid="ignore"):
        fast = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)) / 1e6
        frac = y - np.floor(y)
        near = np.abs(frac - 0.5) < 1e-6
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        six = Decimal("0.000001")
        idx = np.nonzero(near)
        vals = a[idx]
        fast[idx] = [
            float(
                Decimal(repr(float(v))).quantize(
                    six, rounding=ROUND_HALF_UP
                )
            )
            for v in vals
        ]
    return fast


def _np_argmax_rounded(sub, book, bnorms):
    """Rounded-argmax over one candidate matrix: round(cos, 6) per
    candidate (fold-ordered dots/norms, 1e-12 norm floors),
    strictly-greater replacement so ties keep the LOWEST candidate id
    — the array_max(struct(sim, -cid)) contract. Returns
    ``(best_code int64[n], best_sim float64[n])``; NumPy float64
    arithmetic in the same operand order as the JVM folds, so both
    outputs are bit-identical to the expression forms."""
    import numpy as np

    n, d = sub.shape
    nsq = np.zeros(n)
    for i in range(d):
        c = sub[:, i]
        nsq = nsq + c * c
    vnorm = np.maximum(np.sqrt(nsq), 1e-12)
    best_sim = None
    best_code = np.zeros(n, dtype=np.int64)
    for ci in range(book.shape[0]):
        dot = np.zeros(n)
        for i in range(d):
            dot = dot + sub[:, i] * book[ci, i]
        sim = _round6_half_up(dot / (vnorm * bnorms[ci]))
        if best_sim is None:
            best_sim = sim
        else:
            repl = sim > best_sim
            best_sim = np.where(repl, sim, best_sim)
            best_code = np.where(repl, ci, best_code)
    if best_sim is None:  # zero candidates: callers guard, belt+braces
        best_sim = np.full(n, np.nan)
    return best_code, best_sim


def _assign_col(vec: Column, cents) -> Column:
    """The centroid assignment of ``vec`` against the k×dim ``cents``
    as a ``struct(centroid_id int, sim double)`` column, computed by
    ONE Arrow-vectorized batch node — the single assignment path of
    :func:`kmeans_assign`, :func:`kmeans_train`,
    :func:`ivf_topk_deterministic` and the IVF store rows. The
    rounded-argmax (:func:`_np_argmax_rounded`) reproduces
    ``round(cosine(vec, c), 6)`` per centroid with ties to the lowest
    centroid id bit-for-bit (the tests keep the literal-matrix
    expression form as the executable spec). The centroid matrix
    ships once per task inside the UDF closure, so the plan is O(1)
    in k.

    NULL semantics mirror the expression spec: a NULL vector, a NULL
    element (routed to the NULL path in the JVM — through Arrow it
    would arrive as NaN) or a length other than dim makes every
    ``zip_with`` product NULL, so sim is NULL and the argmax ties to
    centroid 0 ⇒ ``(0, NULL)``. Non-finite components (NaN, ±Inf) in
    a vector or a centroid raise ``ValueError``: they make NaN sims,
    which Spark's ``array_max`` orders above every double while the
    strictly-greater NumPy argmax never picks them, so no
    bit-identical answer exists (the :func:`_pq_store_cols_udf` NaN
    policy). Centroids of unequal length raise ``ValueError`` too. No
    centroids ⇒ ``(NULL, NULL)`` per row."""
    import math

    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if not cents:
        return F.struct(
            F.lit(None).cast("int").alias("centroid_id"),
            F.lit(None).cast("double").alias("sim"),
        )
    dim = len(cents[0])
    cmat = np.asarray(cents, dtype=np.float64)  # ragged: ValueError
    if not np.isfinite(cmat).all():
        raise ValueError(
            "kmeans assignment: non-finite centroid component — out of "
            "the rounded-argmax bit-identical contract"
        )
    cnorms = np.asarray(
        [
            max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
            for c in cents
        ],
        dtype=np.float64,
    )
    out_type = StructType(
        [
            StructField("centroid_id", IntegerType()),
            StructField("sim", DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        notna = vecs.notna().to_numpy()
        mask = np.asarray(
            [ok and len(v) == dim for v, ok in zip(vecs, notna)], dtype=bool
        )
        n_all = len(vecs)
        cid = np.zeros(n_all, dtype=np.int64)
        sim = np.full(n_all, np.nan)
        if mask.any():
            V = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    for v, ok in zip(vecs, mask)
                    if ok
                ]
            )
            if not np.isfinite(V).all():
                raise ValueError(
                    "kmeans assignment: non-finite vector component — "
                    "NaN/Inf embeddings are out of the rounded-argmax "
                    "bit-identical contract; sanitize vectors upstream"
                )
            code, best = _np_argmax_rounded(V, cmat, cnorms)
            cid[mask] = code
            sim[mask] = best
        return pd.DataFrame(
            {
                "centroid_id": pd.Series(cid.astype(np.int32)),
                "sim": pd.Series(sim).where(pd.Series(mask)),
            }
        )

    # a NULL element reaches NumPy as NaN; route such rows to the NULL
    # vector path here, where the JVM still sees the NULL
    return _assign(F.when(F.size(F.array_compact(vec)) == F.size(vec), vec))


def _pq_store_cols_udf(cents, dim: int, codebooks):
    """Vectorized Arrow-batch twin of the PQ store-row expressions —
    ``struct(list_id, codes, norm)`` computed per batch in NumPy with
    the SAME scalar fold orders as the expression forms, so every
    emitted double and every rounded-argmax decision is bit-identical
    (property-pinned in tests/test_properties.py; the certified q176
    oracle CTEs mirror the same folds; the expression specs live in
    tests/similarity_specs.py):

    - coarse ``list_id`` = ``literal_best_expr``'s rounded-argmax
      (round(dot/(norm_v·norm_c), 6) per centroid, ties to the LOWEST
      id; ``norm_v = max(sqrt(0+v0²+v1²+…), 1e-12)`` left fold);
    - ``codes`` = ``pq_codes_expr``'s per-sub-space rounded
      argmax, same contract per sub-slice;
    - ``norm`` = the left-fold ``sqrt(0+Σv²)`` (NO 1e-12 floor — the
      stored norm keeps ``F.aggregate``'s raw value).

    Why a UDF when the repo unrolled these INTO expressions in r15:
    the unrolled trees are ~2300 Catalyst nodes, which (a) dominate
    wall time with ANALYSIS/optimizer cost (measured r16: a 200-row
    build costs 8.6 s, a 37k-row build 7.5 s — the work is per-PLAN,
    not per-row) and (b) overflow janino's 64 KB method limit, so
    whole-stage codegen fails and execution is interpreted anyway.
    One Arrow-vectorized node computes the same values with a
    three-node plan (the minhash_signature precedent, guide §4.2).
    NumPy float64 arithmetic is IEEE-identical to JVM doubles given
    the same operand order, which the dim-loop accumulation preserves.
    NULL vector ⇒ (0, [0]*m, NULL), the expressions' own NULL
    semantics (greatest() drops the NULL norm to the 1e-12 floor and
    the all-NULL-sim argmax ties to code 0). A vector SHORTER than
    ``dim`` gets the same NULL-row treatment — the expression spec's
    ``element_at`` past the end is NULL, which poisons every sim —
    and a LONGER one uses its first ``dim`` components
    (element_at(1..dim)); both pinned in tests. NaN components are
    OUT OF CONTRACT and raise: Spark's array_max orders NaN greater
    than every double while the strictly-greater argmax never selects
    a NaN sim, so bit-identity is unachievable there (ADVICE r16)."""
    import math

    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    m = len(codebooks)
    dsub = dim // m
    books = [np.asarray(book, dtype=np.float64) for book in codebooks]
    book_norms = [
        np.asarray(
            [
                max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
                for c in book
            ],
            dtype=np.float64,
        )
        for book in codebooks
    ]
    cmat = np.asarray(cents, dtype=np.float64)
    cnorms = np.asarray(
        [
            max(math.sqrt(sum(float(x) * float(x) for x in c)), 1e-12)
            for c in cents
        ],
        dtype=np.float64,
    )

    def _argmax_rounded(sub, book, bnorms):
        return _np_argmax_rounded(sub, book, bnorms)[0]

    out_type = StructType(
        [
            StructField("list_id", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("norm", DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _encode(vecs: pd.Series) -> pd.DataFrame:
        # Rows shorter than `dim` get the expression spec's own NULL
        # semantics (element_at past the end is NULL, which poisons
        # every sim to NULL -> code 0 / norm NULL — identical to a
        # NULL vector); rows LONGER than dim use their first `dim`
        # components, exactly like the spec's element_at(1..dim)
        # (ADVICE r16: np.stack raised on ragged input where the
        # expression form degraded per row).
        notna = vecs.notna().to_numpy()
        mask = np.asarray(
            [ok and len(v) >= dim for v, ok in zip(vecs, notna)]
        )
        n_all = len(vecs)
        list_id = np.zeros(n_all, dtype=np.int64)
        codes = [[0] * m] * n_all
        norm = np.full(n_all, np.nan)
        if mask.any():
            V = np.stack(
                [
                    np.asarray(v[:dim], dtype=np.float64)
                    for v, ok in zip(vecs, mask)
                    if ok
                ]
            )
            # NaN components are OUT OF CONTRACT (ADVICE r16): Spark's
            # array_max orders NaN greater than every double while the
            # strictly-greater argmax below never selects a NaN sim,
            # so the bit-identical guarantee cannot hold. Fail loudly
            # rather than encode silently-divergent codes.
            if np.isnan(V).any():
                raise ValueError(
                    "PQ encoder: NaN vector component — NaN embeddings "
                    "are out of the encoder's bit-identical contract; "
                    "sanitize vectors upstream"
                )
            n = V.shape[0]
            nsq = np.zeros(n)
            for i in range(dim):
                c = V[:, i]
                nsq = nsq + c * c
            norm[mask] = np.sqrt(nsq)
            list_id[mask] = _argmax_rounded(V, cmat, cnorms)
            sub_codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                sub_codes[:, j] = _argmax_rounded(
                    V[:, j * dsub : (j + 1) * dsub], books[j], book_norms[j]
                )
            # int32 lists: the declared Arrow schema is
            # Array(IntegerType) — cast explicitly instead of leaning
            # on PySpark's default unsafe int64->int32 Arrow cast
            # (ADVICE r16; convertToArrowArraySafely=true would throw)
            it = iter(sub_codes.astype(np.int32).tolist())
            codes = [next(it) if ok else [0] * m for ok in mask]
        return pd.DataFrame(
            {
                "list_id": pd.Series(list_id.astype(np.int32)),
                "codes": codes,
                "norm": pd.Series(norm).where(pd.Series(mask)),
            }
        )

    return _encode


def _pq_rows(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    cents,
    dim: int,
    codebooks,
) -> DataFrame:
    """``(vec_id, list_id, codes, norm)`` store rows for a PQ-IVF
    build/merge — coarse assignment, PQ encoding and the norm all
    computed by ONE Arrow-vectorized batch node over one projection
    (:func:`_pq_store_cols_udf`; bit-identical to the expression
    specs kept in ``tests/similarity_specs.py``, which the q176 oracle
    CTEs mirror). The pre-r16 shapes paid (a) a
    frame-sized self-join to re-attach columns the projection had in
    hand (guide §2.4) and (b) ~2300-node unrolled expression trees
    whose Catalyst analysis dominated wall time and overflowed
    janino's 64 KB codegen limit (guide §4.2 — measured r16: a
    200-row build cost 8.6 s, a 37k-row build 7.5 s: the cost was
    per-plan, not per-row)."""
    enc = _pq_store_cols_udf(cents, dim, codebooks)
    return frame.select(
        F.col(id_col).alias("vec_id"),
        enc(F.col(vec_col).cast("array<double>")).alias("__e"),
    ).select(
        "vec_id",
        F.col("__e.list_id").alias("list_id"),
        F.col("__e.codes").alias("codes"),
        F.col("__e.norm").alias("norm"),
    )


def write_pq_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_lists: int = 16,
    m: int = 4,
    ksub: int = 16,
    train_rounds: int = 0,
    pq_rounds: int = 0,
) -> dict:
    """Build and persist a PRODUCT-QUANTIZED IVF index — the standard
    memory story for ANN at 100 TB (Jégou et al. 2011): the stored
    lists carry ``m`` one-byte-scale codes + one norm per vector
    instead of the full float array (~dim·8 bytes → m·4 + 8 here,
    ~16x at dim=64/m=4; the raw vectors stay wherever the corpus
    lives and are read ONLY for the shortlist rescore). Sub-space
    codebooks come from :func:`kmeans_train` run per sub-space
    (``pq_rounds=0`` = the md5-seeded pick, keeping the whole
    lifecycle CTE-replayable — the q119/q122 device; raise it for
    trained codebooks), the coarse quantizer from the same
    ``train_rounds`` contract as :func:`write_ivf_index`. Everything
    is FROZEN into the sidecar (centroids + codebooks): merges must
    encode under the stored quantizers or every previously-stored
    code is orphaned — the dedup-index permutation-constant rule.

    Store rows: ``(vec_id, list_id, codes array<int>, norm double)``
    — the norm makes the ADC dot product a cosine approximation at
    search time without touching the raw vector."""
    if m < 1 or ksub < 2:
        raise ValueError(f"need m >= 1 and ksub >= 2, got m={m} ksub={ksub}")
    spark = corpus.sparkSession
    vec = F.col(vec_col).cast("array<double>")
    if train_rounds == 0 and pq_rounds == 0:
        # ONE shared seed collect: the md5 seed order depends only on
        # the id column, so the coarse quantizer's top-num_lists rows
        # and every sub-codebook's top-ksub rows are prefixes of the
        # SAME (md5(id), id)-ordered list — the old shape paid m+1
        # separate full-corpus top-k passes (plus a head(1) for the
        # dim probe) for seeds that are slices of one collect (guide
        # §1.2: remove passes you don't need). Values are identical:
        # float() of a double is exact, and each sub-codebook entry is
        # the same contiguous slice kmeans_train's F.slice produced.
        seed_rows = (
            corpus.select(id_col, vec_col)
            .withColumn("__o", F.md5(F.col(id_col).cast("string")))
            .orderBy("__o", id_col)
            .limit(max(num_lists, ksub))
            .collect()
        )
        if not seed_rows:
            raise ValueError("write_pq_ivf_index: empty corpus")
        seed_vecs = [[float(x) for x in r[vec_col]] for r in seed_rows]
        dim = len(seed_vecs[0])
        if dim % m != 0:
            raise ValueError(
                f"embedding dim {dim} is not divisible by m={m} sub-spaces"
            )
        dsub = dim // m
        cents = seed_vecs[:num_lists]
        codebooks = [
            [v[j * dsub : (j + 1) * dsub] for v in seed_vecs[:ksub]]
            for j in range(m)
        ]
    else:
        head = corpus.select(vec_col).head(1)
        if not head:
            raise ValueError("write_pq_ivf_index: empty corpus")
        dim = len(head[0][0])
        if dim % m != 0:
            raise ValueError(
                f"embedding dim {dim} is not divisible by m={m} sub-spaces"
            )
        dsub = dim // m
        cents = kmeans_train(
            corpus, id_col, vec_col, k=num_lists, rounds=train_rounds
        )
        codebooks = []
        for j in range(m):
            sub = corpus.select(
                F.col(id_col),
                F.slice(vec, j * dsub + 1, dsub).alias("__sub"),
            )
            codebooks.append(
                kmeans_train(sub, id_col, "__sub", k=ksub, rounds=pq_rounds)
            )
    rows = _pq_rows(corpus, id_col, vec_col, cents, dim, codebooks)
    rows.write.mode("overwrite").parquet(path)
    from .util import write_json_sidecar

    write_json_sidecar(
        spark,
        path,
        _PQ_SIDECAR,
        {
            "num_lists": int(num_lists),
            "m": int(m),
            "ksub": int(ksub),
            "centroids": [[float(x) for x in c] for c in cents],
            "codebooks": [
                [[float(x) for x in c] for c in book] for book in codebooks
            ],
        },
    )
    return {"centroids": cents, "codebooks": codebooks, "dim": dim}


def _read_pq_sidecar(spark, path: str) -> dict:
    from .util import read_json_sidecar

    return read_json_sidecar(
        spark,
        path,
        _PQ_SIDECAR,
        _PQ_KEYS,
        "PQ-IVF index",
        "an index without its frozen quantizers cannot be merged "
        "into or searched safely; rebuild via write_pq_ivf_index",
    )


def merge_pq_ivf_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fold a batch into a stored PQ-IVF index: assign + encode under
    the index's OWN frozen coarse centroids and sub-codebooks, append
    O(batch) — the merge_ivf_index shape, codes instead of raw
    vectors."""
    params = _read_pq_sidecar(spark, path)
    codebooks = params["codebooks"]
    dim = len(codebooks) * len(codebooks[0][0])
    rows = _pq_rows(
        batch, id_col, vec_col, params["centroids"], dim, codebooks
    )
    rows.write.mode("append").parquet(path)
    return params


def _pq_adc_scored(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Shared probe + ADC-scoring prefix of the PQ-IVF search AND
    screen paths: probe the ``nprobe`` nearest lists (sidecar
    centroids), score every candidate CODE in them by asymmetric
    distance — the per-query ADC table ``dot(q_sub_j,
    codebook_j[c])`` is one projected ``m·ksub`` array, each
    candidate costs ``m`` table lookups, no raw vector is touched.
    Returns ``(query_id, q_raw, neighbor_id, approx_sim)`` —
    candidate work is ~|index|·nprobe/num_lists code rows per query;
    expressions are kept byte-identical to the pre-refactor
    search_pq_ivf_index body so its certified plan is unchanged."""
    params = _read_pq_sidecar(spark, path)
    codebooks = params["codebooks"]
    m, ksub = len(codebooks), len(codebooks[0])
    ctr = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(params["centroids"])],
            "list_id int, centroid array<double>",
        )
    )
    dim = len(codebooks) * len(codebooks[0][0])
    dsub = dim // m
    # the per-query ADC table (entry j·ksub + c = dot(q_sub_j,
    # book_j[c])) and the query norm, as ONE Arrow-vectorized batch
    # node: the r15 unrolled-expression form was ~2100 Catalyst nodes
    # whose analysis cost dominated the (query-sized!) stage and
    # overflowed janino's 64 KB codegen limit; the NumPy twin keeps
    # the same leading-0.0 left-fold sum order per scalar, so the
    # doubles are bit-identical to the fold form the oracle mirrors
    # (guide §4.2)
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    books_np = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @F.pandas_udf(
        StructType(
            [
                StructField("adc", ArrayType(DoubleType())),
                StructField("qn", DoubleType()),
            ]
        )
    )
    def _adc_qn(vecs: pd.Series) -> pd.DataFrame:
        n_all = len(vecs)
        mask = vecs.notna().to_numpy()
        adc_out: list = [None] * n_all
        qn_out = np.full(n_all, np.nan)
        if mask.any():
            Q = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )
            n = Q.shape[0]
            nsq = np.zeros(n)
            for i in range(dim):
                c = Q[:, i]
                nsq = nsq + c * c
            qn_out[mask] = np.sqrt(nsq)
            table = np.empty((n, m * ksub))
            for j in range(m):
                sub = Q[:, j * dsub : (j + 1) * dsub]
                for c in range(ksub):
                    dot = np.zeros(n)
                    for i in range(dsub):
                        dot = dot + sub[:, i] * books_np[j][c, i]
                    table[:, j * ksub + c] = dot
            it = iter(table)
            adc_out = [next(it) if ok else None for ok in mask]
        return pd.DataFrame(
            {
                "adc": adc_out,
                "qn": pd.Series(qn_out).where(pd.Series(mask)),
            }
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_raw"),
    ).select(
        "query_id",
        "q_raw",
        _adc_qn(F.col("q_raw")).alias("__t"),
    ).select(
        "query_id",
        "q_raw",
        F.col("__t.adc").alias("__adc"),
        F.col("__t.qn").alias("__qn"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("list_id").asc()
    )
    probed = (
        q.crossJoin(ctr)
        .withColumn(
            "__csim", F.round(cosine(F.col("q_raw"), F.col("centroid")), 6)
        )
        .withColumn("__r", F.row_number().over(w_probe))
        .where(F.col("__r") <= nprobe)
        .select("query_id", "q_raw", "__adc", "__qn", "list_id")
    )
    stored = spark.read.parquet(path).select(
        F.col("vec_id").alias("neighbor_id"), "list_id", "codes", "norm"
    )
    from pyspark.sql.types import StringType

    n_t = stored.schema["neighbor_id"].dataType
    q_t = q.schema["query_id"].dataType
    if n_t == q_t or not (
        isinstance(n_t, StringType) or isinstance(q_t, StringType)
    ):
        not_self = F.col("neighbor_id") != F.col("query_id")
    else:
        not_self = F.col("neighbor_id").cast("string") != F.col(
            "query_id"
        ).cast("string")
    approx_dot = None
    for j in range(m):
        term = F.element_at(
            F.col("__adc"),
            F.lit(j * ksub + 1) + F.element_at(F.col("codes"), j + 1),
        )
        approx_dot = term if approx_dot is None else approx_dot + term
    approx = F.round(
        approx_dot
        / (
            F.greatest(F.col("__qn"), F.lit(1e-12))
            * F.greatest(F.col("norm"), F.lit(1e-12))
        ),
        6,
    )
    return (
        probed.join(stored, "list_id")
        .where(not_self)
        .withColumn("approx_sim", approx)
    )


def search_pq_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rescore_mult: int = 4,
) -> DataFrame:
    """Approximate cosine top-k against a stored PQ-IVF index:
    probe + ADC-score candidates (:func:`_pq_adc_scored` — no raw
    vector touched), shortlist ``k·rescore_mult`` per query by the
    ADC cosine approximation (stored norms turn the dot into a
    cosine), then RESCORE the shortlist on raw vectors from
    ``corpus`` for the exact final top-k. The only raw-vector reads
    are shortlist-sized. Self-exclusion follows search_ivf_index's
    type-aware contract."""
    scored = _pq_adc_scored(spark, path, queries, id_col, vec_col, nprobe)
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored
        .withColumn("__sr", F.row_number().over(w_short))
        .where(F.col("__sr") <= k * rescore_mult)
        .select("query_id", "q_raw", "neighbor_id")
    )
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_raw"),
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(raw, "neighbor_id")
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("q_raw"), F.col("c_raw")), 6)
        )
        .withColumn("rank", F.row_number().over(w_k))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def screen_pq_ivf_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    nprobe: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate screen of a micro-batch
    against a stored PQ-IVF index — the embedding-space member of the
    ingest screen family (:func:`pipelines.ingest_micro_batch`): one
    row per batch row, ``(id_col, nearest_sim, semantic_dup)``.
    ``nearest_sim`` is the maximum ADC-approximated cosine over the
    probed lists' candidate CODES (6dp — max commutes with the
    monotone rounding, so it equals the rounded max), NULL when the
    probed lists hold no candidates; ``semantic_dup`` is
    ``nearest_sim >= threshold`` (FALSE on NULL). No raw corpus
    vector is ever read — the decision is made entirely from the
    stored codes + norms, so screening the Nth batch costs
    ~|batch|·|index|·nprobe/num_lists code rows and nothing else:
    the per-batch-cost contract every ingest screen obeys. For exact
    final similarities use :func:`search_pq_ivf_index` (which pays a
    shortlist-sized raw-vector rescore); a gate only needs the
    approximation — a vector the ADC places above a dedup threshold
    is a near-copy by construction (codes quantize TOWARD the
    stored vector)."""
    scored = _pq_adc_scored(spark, path, batch, id_col, vec_col, nprobe)
    agg = scored.groupBy("query_id").agg(
        F.max("approx_sim").alias("nearest_sim")
    )
    return (
        batch.select(F.col(id_col))
        .join(
            agg.withColumnRenamed("query_id", "__qid"),
            F.col(id_col) == F.col("__qid"),
            "left",
        )
        .drop("__qid")
        .withColumn(
            "semantic_dup",
            F.coalesce(
                F.col("nearest_sim") >= F.lit(float(threshold)),
                F.lit(False),
            ),
        )
    )


def calibrate_pq_ivf_index(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    scratch_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rescore_mult: int = 4,
    max_recall_drop: float = 0.1,
    max_skew: float = 4.0,
) -> DataFrame:
    """:func:`calibrate_ivf_index` for the PRODUCT-QUANTIZED family —
    the same one-row report (occupancy skew, stored-vs-fresh
    micro-averaged recall@k against one brute-force truth pass,
    needs_rebuild), but the fresh twin RETRAINS the full PQ stack
    (coarse centroids AND the m sub-codebooks) on today's corpus
    under the sidecar's own geometry and re-encodes, so the gap
    prices exactly what a PQ rebuild would buy: freeze drift AND
    quantization drift together. The twin is built through
    :func:`write_pq_ivf_index` into ``scratch_path`` (a calibration
    job owns a scratch directory the way any rebuild would; caller
    owns cleanup), searched through the same
    :func:`search_pq_ivf_index` path as the stored index —
    differences in the report are index state, never code path.
    Cost shape is q180's: store side list-count-sized, searches
    probe-pruned + shortlist-rescored, the one corpus-scale term is
    the brute-force truth pass — run periodically."""
    params = _read_pq_sidecar(spark, path)
    num_lists = int(params["num_lists"])
    occ = (
        spark.read.parquet(path)
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.sum("__c").cast("long").alias("n_stored"),
            F.max("__c").cast("long").alias("__mx"),
        )
    )
    truth = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
        F.col("query_id").alias("__tq"),
        F.col("neighbor_id").alias("__td"),
    ).localCheckpoint()
    res_stored = search_pq_ivf_index(
        spark, path, queries, corpus, id_col, vec_col,
        k=k, nprobe=nprobe, rescore_mult=rescore_mult,
    )
    write_pq_ivf_index(
        corpus,
        scratch_path,
        id_col,
        vec_col,
        num_lists=num_lists,
        m=int(params["m"]),
        ksub=int(params["ksub"]),
        train_rounds=0,
        pq_rounds=0,
    )
    res_fresh = search_pq_ivf_index(
        spark, scratch_path, queries, corpus, id_col, vec_col,
        k=k, nprobe=nprobe, rescore_mult=rescore_mult,
    )

    def _hits(res, alias):
        return truth.join(
            res.select(
                F.col("query_id").alias("__tq"),
                F.col("neighbor_id").alias("__td"),
            ),
            ["__tq", "__td"],
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("long").alias(alias))

    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    rs = F.round(F.col("__hs") / F.col("n_truth"), 6)
    rf = F.round(F.col("__hf") / F.col("n_truth"), 6)
    gap = F.round(rf - rs, 6)
    skew = F.round(
        F.col("__mx") * F.lit(num_lists) / F.col("n_stored"), 6
    )
    return (
        occ.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(_hits(res_stored, "__hs")))
        .crossJoin(F.broadcast(_hits(res_fresh, "__hf")))
        .select(
            "n_stored",
            skew.alias("occupancy_skew"),
            "n_truth",
            rs.alias("recall_stored"),
            rf.alias("recall_fresh"),
            gap.alias("recall_gap"),
            (
                F.coalesce(
                    gap > F.lit(float(max_recall_drop)), F.lit(False)
                )
                | F.coalesce(
                    skew > F.lit(float(max_skew)), F.lit(False)
                )
            ).alias("needs_rebuild"),
        )
    )


def hashed_bow_embedding(
    df: DataFrame,
    text_col: str,
    dim: int = 64,
    out_col: str = "embedding",
) -> DataFrame:
    """Feature-hashed bag-of-words text embedding (the "hashing trick"):
    each whitespace token buckets to ``md5-15-hex-fold % dim`` (the
    q50 hashing convention, so any SQL engine re-derives the vectors —
    q141 certifies the full retrieval pipeline on it), the vector is
    the L2-normalized bucket-count histogram. No vocabulary state, no
    training pass — the zero-dependency default for the ``embed=``
    seam of :func:`pipelines.build_retrieval_index`; swap in a
    model-backed ``mapInPandas`` for production semantics (the seam's
    contract is just "adds an array<double> column").

    Implemented as ONE Arrow-batched ``pandas_udf`` — the
    :func:`minhash_signature` compile-economics precedent: the
    equivalent expression form is a stack of higher-order-function
    lambdas that Catalyst interprets per element (no codegen, no CSE),
    measured 25.7 s vs ~2 s on the 10.9k-chunk sf0.1 corpus. The UDF
    tokenizes via ``dedup._py_tokens`` (the single Python-side twin of
    ``whitespace_tokens``, so buckets match the SQL oracle's
    regexp_split_to_array), bincounts in numpy, and L2-normalizes;
    counts are integers so norms and normalized components are
    bit-identical across engines. Per-row, narrow, zero shuffle.
    Empty/blank/NULL text embeds as the zero vector."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    import hashlib

    from pyspark.sql.types import ArrayType, DoubleType

    from .dedup import _py_tokens

    zero = np.zeros(dim)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _hbow(texts: pd.Series) -> pd.Series:
        # per-batch memo: tokens are Zipf-distributed, so hot words
        # repeat thousands of times per batch — hash each distinct
        # string once
        bucket_of: dict[str, int] = {}

        def b(w: str) -> int:
            v = bucket_of.get(w)
            if v is None:
                v = (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    % dim
                )
                bucket_of[w] = v
            return v

        out = []
        for t in texts:
            toks = _py_tokens(t)
            if not toks:
                # copy: rows must not share one ndarray object — safe
                # today (read-only before Arrow serialization) but one
                # in-place mutation away from cross-row corruption
                out.append(zero.copy())
                continue
            idx = np.fromiter(
                (b(w) for w in toks), dtype=np.int64, count=len(toks)
            )
            counts = np.bincount(idx, minlength=dim).astype(np.float64)
            nrm = max(np.sqrt(float((counts * counts).sum())), 1e-12)
            out.append(counts / nrm)
        return pd.Series(out)

    return df.withColumn(out_col, _hbow(F.col(text_col)))


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    per_cluster: int = 100,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Semantic-diversity subset selection — the cluster-based-curation
    composition :func:`kmeans_assign`'s docstring names: map every
    vector to its (md5-seeded or provided) centroid, then keep exactly
    ``min(per_cluster, |cluster|)`` rows PER CLUSTER by md5 order of
    the id (``relational.stratified_sample_exact_k`` on the cluster
    id). A uniform sample over-represents dense regions of embedding
    space; capping per cluster flattens the semantic distribution —
    the standard diversity pass for eval-set construction and
    curriculum seeding. Output: ``(id, centroid_id, sim)`` for the
    kept rows, deterministic across runs/engines/partitionings
    (md5-everything: seeds, assignment tie-breaks, and the pick).

    Scale shape: the q76 assignment plan (one zero-shuffle Arrow
    argmax node) plus ONE hash shuffle on the cluster id with
    InferWindowGroupLimit pruning map-side — the shuffle carries
    O(per_cluster · k · tasks), not the corpus."""
    from .relational import stratified_sample_exact_k

    assigned = kmeans_assign(
        df, id_col, vec_col, k=k, centroids=centroids
    )
    return stratified_sample_exact_k(
        assigned, id_col, "centroid_id", per_cluster
    )
