"""Deduplication suite for large-scale training-data pipelines.

Exact dedup lives in ``upsert.exact_dedup``; this module adds the
near-duplicate family: MinHash+LSH, SimHash, and n-gram Jaccard. All
hashing uses ``xxhash64`` (JVM-side, whole-stage-codegen'd) seeded
deterministically — no Python in the hot path, no randomness at runtime.

Scale notes (the 100 TB story):
- MinHash signatures are computed per-row (narrow, no shuffle).
- LSH banding shuffles once on (band, band_signature) — candidate
  generation touches only bucket collisions, never the O(n^2) pairs.
- Verification joins only candidate pairs back to shingle sets.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import whitespace_tokens
from .util import ensure_parallelism


def tokenize(df: DataFrame, text_col: str, out_col: str = "tokens") -> DataFrame:
    """Whitespace tokenization with lowercase + empty-token drop."""
    return df.withColumn(out_col, whitespace_tokens(F.col(text_col)))


def shingles(
    df: DataFrame, tokens_col: str, n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Word n-gram shingles as a distinct array; documents shorter than
    ``n`` tokens contribute their full token string as a single shingle
    (so they still participate rather than vanish)."""
    toks = F.col(tokens_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.withColumn(out_col, F.array_distinct(grams))


#: Java ``\s`` without UNICODE_CHARACTER_CLASS — what Spark's
#: ``split(·, '\\s+')`` matches. Python's ``\s`` is wider (unicode
#: whitespace), so the UDF twin must use this class explicitly.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _py_tokens(t: str | None) -> list[str]:
    """Python-side twin of ``whitespace_tokens`` (lowercase, Java-\\s
    split, empty drop) — THE tokenizer for every UDF that must bucket/
    shingle identically to the JVM expressions and the SQL oracles.
    Shared by the shingle UDF here and hashed_bow_embedding; keep it
    the single copy so the twins cannot desynchronize."""
    return [w for w in _JAVA_WS.split(t.lower()) if w] if t else []


def shingle_text(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Fused tokenize+shingle as one vectorized ``pandas_udf`` — the
    set-identical twin of ``shingles(tokenize(df, text))`` (property-
    tested in tests/test_properties.py).

    Exists for plan-compile economics, same story as
    :func:`minhash_signature`: the expression form is a stack of
    higher-order-function lambdas that Catalyst interprets (no codegen,
    no CSE) and that bloat analysis time; one UDF node computes the same
    arrays with a trivially small plan. Narrow, per-row, Arrow-batched.

    ``n == 1`` (token sets) needs no n-gram assembly at all, so it skips
    Python entirely: split + filter + array_distinct are JVM-side
    expressions (measured ~4x faster than the Arrow UDF at sf0.1 —
    there's no lambda stack to amortize at n=1).
    """
    if n == 1:
        return df.withColumn(
            out_col,
            F.array_distinct(
                F.filter(
                    F.split(
                        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                        r"\s+",
                    ),
                    lambda t: t != "",
                )
            ),
        )
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _shingle(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _py_tokens(t)
            grams = [
                " ".join(toks[i : i + n])
                for i in range(max(len(toks) - n, 0) + 1)
            ]
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return df.withColumn(out_col, _shingle(F.col(text_col)))


#: Mersenne prime 2^31-1 — the universal-hashing modulus. Keeping all
#: values below 2^31 bounds every product under 2^62, so the arithmetic
#: can never overflow a long (matters: Spark 4 runs ANSI mode, where
#: long overflow raises instead of wrapping).
_MERSENNE_31 = (1 << 31) - 1


def _permutation_constants(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the k universal-hash
    permutations h_i(x) = (a_i*x + b_i) mod p, a_i ∈ [1, p-1]."""
    import random as _random

    rng = _random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


def _base_hash_expr(shingles_col: str, base_hash: str):
    """Per-shingle base hash folded into [0, p): ``xxhash64`` (cheapest,
    production default) or ``md5`` (first 15 hex digits as an integer —
    reproducible in any SQL engine, which is what lets the FULL
    MinHash+LSH pipeline be DuckDB-oracle-checked in q50)."""
    if base_hash == "xxhash64":
        return F.transform(
            F.col(shingles_col),
            lambda g: F.pmod(F.xxhash64(g), F.lit(_MERSENNE_31)),
        )
    if base_hash == "md5":
        return F.transform(
            F.col(shingles_col),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "long"
            )
            % _MERSENNE_31,
        )
    raise ValueError(f"unknown base_hash {base_hash!r}")


def minhash_signature(
    df: DataFrame,
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature: each shingle is string-hashed ONCE (JVM-side,
    folded into [0, p)), then the k signature slots take
    ``min((a_i*h + b_i) mod p)`` over the base hashes.

    The k-permutation min runs in a vectorized Arrow ``pandas_udf``
    (one (k × n_shingles) int64 broadcast per row batch): the equivalent
    k-slot Catalyst expression tree is interpreted (higher-order-function
    lambdas get no codegen and no CSE) AND its ~64-slot plan dominates
    analysis/optimization time — the UDF computes identical values
    (property-tested in tests/test_properties.py) with a one-node plan.
    Per-row, narrow, zero shuffle — 100 TB scales linearly with the scan.
    """
    from pyspark.sql.types import ArrayType, LongType

    consts = _permutation_constants(num_hashes)
    a_vec = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    p = _MERSENNE_31
    empty_sig = np.full(num_hashes, p, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _mh(shingle_hashes: pd.Series) -> pd.Series:
        out = []
        for hashes in shingle_hashes:
            hv = np.asarray(hashes, dtype=np.int64)[None, :]
            if hv.size == 0:
                # empty shingle set → sentinel signature (p in every
                # slot, unreachable by real hashes mod p)
                out.append(empty_sig)
            else:
                # a,h < 2^31 so a*h + b < 2^62: no int64 overflow
                out.append(((a_vec * hv + b_vec) % p).min(axis=1))
        return pd.Series(out)

    return df.withColumn(out_col, _mh(_base_hash_expr(shingles_col, base_hash)))


def minhash_signature_expr(
    df: DataFrame,
    shingles_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
) -> DataFrame:
    """Pure-expression twin of :func:`minhash_signature` (k
    ``array_min(transform(...))`` slots). Kept as the executable spec the
    UDF fast path is tested against; slower because Catalyst interprets
    HOF lambdas and the k-slot tree bloats plan compilation."""
    base = F.transform(
        F.col(shingles_col), lambda g: F.pmod(F.xxhash64(g), F.lit(_MERSENNE_31))
    )
    consts = _permutation_constants(num_hashes)

    def _slot(a: int, b: int):
        # closure factory: PySpark requires single-parameter lambdas for
        # transform (default args would read as extra lambda parameters)
        return F.array_min(
            F.transform(
                F.col("__mh_base"),
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_31),
            )
        )

    sig = F.array(*[_slot(a, b) for a, b in consts])
    return (
        df.withColumn("__mh_base", base)
        .withColumn(out_col, sig)
        .drop("__mh_base")
    )


def _band_sig_array(minhash_col: Column, bands: int, rows_per_band: int):
    """The per-document band-signature array: ``xxhash64`` over each
    band's slice of the minhash signature — THE band-key expression,
    shared by every producer (self-join keys, incoming-batch keys,
    stored index rows) so band keys can never desynchronize between
    the screen side and the store side."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.slice(minhash_col, b * rows_per_band + 1, rows_per_band)
        ),
    )


def _band_keys(
    df: DataFrame,
    id_col: str,
    minhash_col: str,
    bands: int,
    num_hashes: int,
) -> DataFrame:
    """Explode a signature frame into ``(doc, band, band_sig)`` band-key
    rows, materialized (``localCheckpoint``) so the downstream bucket
    join never inlines/recomputes the signature expression per side."""
    if bands > num_hashes or num_hashes % bands != 0:
        # a zero-width band hashes the empty slice for every doc — all
        # docs collide and the join degenerates to the O(n^2) cross
        # product LSH exists to avoid; a non-dividing band count would
        # silently drop the tail signature slots (reduced recall)
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    # xxhash64 hashes the band slice (an array<long>) directly — no
    # string materialization per band
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            _band_sig_array(F.col(minhash_col), bands, rows_per_band)
        ).alias("band", "band_sig"),
    ).localCheckpoint()


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    minhash_col: str = "minhash",
    bands: int = 16,
    num_hashes: int = 64,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows, bucket by
    (band_index, hash(band_slice)), self-join within buckets.

    Returns distinct candidate pairs (id_a < id_b). The only shuffle is
    the bucket groupBy; bucket skew (a degenerate shingle shared by
    millions of docs) is handled by AQE skew-join splitting.

    The banded frame is materialized (``localCheckpoint``) before the
    self-join: otherwise Catalyst's project-collapse inlines the whole
    upstream signature expression into each of the ``bands`` hash slots
    AND both join sides recompute it — measured 8x slower at sf0.1.
    """
    banded = _band_keys(df, id_col, minhash_col, bands, num_hashes)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    shingles_col: str = "shingles",
    threshold: float = 0.7,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over shingle sets.

    Joins only the candidate pairs (LSH output — tiny vs O(n^2)) back to
    the shingle arrays; intersection via ``array_intersect`` stays
    JVM-side. ``df_b`` (default: ``df``) supplies the ``id_b`` side for
    asymmetric screens (incremental ingest: new batch vs existing
    corpus) where the two sides are different frames.
    """
    sides = df.select(F.col(id_col).alias("__id"), F.col(shingles_col))
    sides_b = (
        sides
        if df_b is None
        else df_b.select(F.col(id_col).alias("__id"), F.col(shingles_col))
    )
    out = (
        pairs.join(
            sides.select(
                F.col("__id").alias("id_a"), F.col(shingles_col).alias("__sh_a")
            ),
            "id_a",
        )
        .join(
            sides_b.select(
                F.col("__id").alias("id_b"), F.col(shingles_col).alias("__sh_b")
            ),
            "id_b",
        )
        .withColumn(
            "intersection",
            F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b"))),
        )
        .withColumn(
            "union_size",
            F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - F.col("intersection"),
        )
        .withColumn(
            "jaccard",
            F.when(F.col("union_size") > 0,
                   F.col("intersection") / F.col("union_size")).otherwise(F.lit(0.0)),
        )
    )
    return out.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pipeline:
    shingle → minhash → band → bucket-join → exact-Jaccard verify.

    The shingled frame is materialized once (``localCheckpoint``,
    spills to disk when larger than memory): it feeds the signature AND
    both sides of the verification join — recomputing the tokenize +
    shingle scan three times costs more than storing it. Only
    (id, shingles) is stored — carrying text/tokens through the
    checkpoint would double its footprint for nothing.
    """
    prepared = (
        shingle_text(
            ensure_parallelism(df.select(id_col, text_col)), text_col, shingle_n
        )
        .select(id_col, "shingles")
        .localCheckpoint()
    )
    signed = minhash_signature(prepared, "shingles", num_hashes, base_hash=base_hash)
    candidates = lsh_candidate_pairs(signed, id_col, "minhash", bands, num_hashes)
    return jaccard_verify(candidates, prepared, id_col, "shingles", threshold)


def prepare_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Build the persisted screening index for
    :func:`incremental_near_duplicates`: one row per (document, band)
    with columns ``(band, band_sig, doc, shingles)`` — everything a
    batch screen needs, so the corpus's shingle/minhash work is paid
    ONCE at ingest instead of on every arriving batch.

    The 100 TB contract: write this frame bucketed/partitioned by
    ``(band, band_sig)`` (e.g. ``.write.bucketBy(n, "band",
    "band_sig")``); a batch screen then joins only the buckets the
    batch's own band keys land in and the corpus side never
    re-shuffles. The shingle array is carried on every band row (a
    ``bands``-fold duplication) precisely so verification reads the
    SAME colliding rows the candidate join touched — no second
    corpus-sized join back to a shingle table. Pass the same
    ``num_hashes/bands/shingle_n/base_hash`` to the screen call; the
    index does not self-describe its parameters.
    """
    if bands > num_hashes or num_hashes % bands != 0:
        # the _band_keys contract, checked before any job runs
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    prep = (
        shingle_text(
            ensure_parallelism(df.select(id_col, text_col)),
            text_col,
            shingle_n,
        )
        .select(id_col, "shingles")
        .localCheckpoint()
    )
    signed = minhash_signature(
        prep, "shingles", num_hashes, base_hash=base_hash
    )
    # band keys and the shingle payload in ONE projection — the
    # pre-r16 shape built the narrow (doc, band, band_sig) frame via
    # _band_keys and then JOINED it back to prep by doc purely to
    # re-attach the shingle column (a corpus×bands-row shuffle of
    # both sides — guide §2.4); the band expression is a projection
    # of the signed frame, so the explode can simply carry shingles
    # along.
    return index_rows_from_signed(signed, id_col, bands, num_hashes)


def signed_minhash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """``(id, shingles, minhash)`` for a micro-batch, materialized
    (``localCheckpoint``) — the SHARED one-pass input for screening a
    batch against a stored index AND folding its accepted rows back in
    (:func:`screen_against_index` ``incoming_signed=`` /
    :func:`merge_dedup_index` ``signed=``). Without it the ingest loop
    pays the shingle UDF + minhash UDF over the same batch TWICE per
    micro-batch — once in the screen, once in the fold-back's
    :func:`prepare_dedup_index` (guide §1.2). Build it with the
    index's OWN sidecar parameters (``read_dedup_index``)."""
    prep = shingle_text(
        ensure_parallelism(df.select(id_col, text_col)),
        text_col,
        shingle_n,
    ).select(id_col, "shingles")
    return minhash_signature(
        prep, "shingles", num_hashes, base_hash=base_hash
    ).localCheckpoint()


def index_rows_from_signed(
    signed: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """Stored-index rows ``(band, band_sig, doc, shingles)`` as ONE
    projection of a signed frame — shared by the full build
    (:func:`prepare_dedup_index`) and the signed fold-back
    (:func:`merge_dedup_index` ``signed=``), same
    :func:`_band_sig_array` keys as every screen side."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    return signed.select(
        F.col(id_col).alias("doc"),
        "shingles",
        F.posexplode(
            _band_sig_array(F.col("minhash"), bands, rows_per_band)
        ).alias("band", "band_sig"),
    ).select("band", "band_sig", "doc", "shingles")


def incremental_near_duplicates(
    existing: DataFrame | None,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    base_hash: str = "xxhash64",
    existing_index: DataFrame | None = None,
    incoming_signed: DataFrame | None = None,
) -> DataFrame:
    """Continuous-ingest dedup: screen an ``incoming`` batch against an
    ``existing`` corpus, returning ``(incoming_id, existing_id, jaccard)``
    near-dup pairs. Same shingle→minhash→band machinery as
    :func:`minhash_near_duplicates`, but the bucket join is
    incoming×existing instead of a self-join — candidate work scales
    with |incoming| (the small side), not |corpus|².

    Two existing-side modes (pytest-pinned equivalent):

    - ``existing`` raw text: band keys and shingles are recomputed from
      scratch — correctness checkable end-to-end, but every batch pays
      the full corpus pass (the q78 oracle path).
    - ``existing_index`` from :func:`prepare_dedup_index` (then
      ``existing`` may be ``None``): the candidate join runs straight
      against the stored ``(band, band_sig, doc, shingles)`` rows and
      verification reads shingles off the colliding rows themselves —
      per batch the corpus contributes only the index join (partition-
      pruned when the index is stored bucketed by ``(band,
      band_sig)``), never a recompute. The index MUST have been built
      with the same ``num_hashes/bands/shingle_n/base_hash``.

    Exact duplicates always collide (identical signatures share every
    band), so recall misses only genuinely-partial overlaps.
    """

    def _prep(d: DataFrame) -> DataFrame:
        return (
            shingle_text(
                ensure_parallelism(d.select(id_col, text_col)),
                text_col,
                shingle_n,
            )
            .select(id_col, "shingles")
            .localCheckpoint()
        )

    if incoming_signed is not None:
        # pre-signed batch (signed_minhash_frame — already pinned):
        # shingles and band keys are projections of the one checkpoint,
        # so the shingle/minhash UDF pass is paid once for screen AND
        # fold-back, and no second checkpoint is needed
        if bands > num_hashes or num_hashes % bands != 0:
            raise ValueError(
                f"bands={bands} must divide num_hashes={num_hashes}"
            )
        inc = incoming_signed.select(id_col, "shingles")
        inc_bands = incoming_signed.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                _band_sig_array(
                    F.col("minhash"), bands, num_hashes // bands
                )
            ).alias("band", "band_sig"),
        )
    else:
        inc = _prep(incoming)
        inc_bands = _band_keys(
            minhash_signature(
                inc, "shingles", num_hashes, base_hash=base_hash
            ),
            id_col, "minhash", bands, num_hashes,
        )
    if existing_index is not None:
        # candidates AND their existing-side shingles in one join; the
        # per-pair first() collapses multi-band collisions (the shingle
        # array is identical on every band row of a doc) at
        # candidate-pair scale, never corpus scale
        collided = (
            inc_bands.alias("l")
            .join(
                existing_index.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_sig") == F.col("r.band_sig")),
            )
            .select(
                F.col("l.doc").alias("id_a"),
                F.col("r.doc").alias("id_b"),
                F.col("r.shingles").alias("__sh_b"),
            )
            .groupBy("id_a", "id_b")
            .agg(F.first("__sh_b").alias("__sh_b"))
        )
        out = (
            collided.join(
                inc.select(
                    F.col(id_col).alias("id_a"),
                    F.col("shingles").alias("__sh_a"),
                ),
                "id_a",
            )
            .withColumn(
                "intersection",
                F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b"))),
            )
            .withColumn(
                "union_size",
                F.size(F.col("__sh_a")) + F.size(F.col("__sh_b"))
                - F.col("intersection"),
            )
            .withColumn(
                "jaccard",
                F.when(
                    F.col("union_size") > 0,
                    F.col("intersection") / F.col("union_size"),
                ).otherwise(F.lit(0.0)),
            )
            .where(F.col("jaccard") >= threshold)
        )
        return out.select(
            F.col("id_a").alias("incoming_id"),
            F.col("id_b").alias("existing_id"),
            "jaccard",
        )
    if existing is None:
        raise ValueError(
            "incremental_near_duplicates: pass existing text or "
            "existing_index"
        )
    ex = _prep(existing)
    ex_bands = _band_keys(
        minhash_signature(ex, "shingles", num_hashes, base_hash=base_hash),
        id_col, "minhash", bands, num_hashes,
    )
    candidates = (
        inc_bands.alias("l")
        .join(
            ex_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(
        candidates, inc, id_col, "shingles", threshold, df_b=ex
    ).select(
        F.col("id_a").alias("incoming_id"),
        F.col("id_b").alias("existing_id"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# Persisted dedup-index lifecycle: write / read / merge / screen
# ---------------------------------------------------------------------------

#: Underscore-prefixed so Spark's parquet file listing ignores it
#: (the _SUCCESS convention); lives INSIDE the index directory so the
#: parameters travel with the data through copies/renames.
_DEDUP_INDEX_SIDECAR = "_dedup_index_params.json"

#: The LSH parameters that define index compatibility: screening with
#: any of these mismatched against the stored rows returns silent
#: garbage (different permutation constants -> different band keys ->
#: near-zero collision recall), which is why the sidecar is mandatory.
DEDUP_INDEX_PARAM_KEYS = ("num_hashes", "bands", "shingle_n", "base_hash")


def _read_sidecar(spark, path: str) -> dict:
    from .util import read_json_sidecar

    params = read_json_sidecar(
        spark,
        path,
        _DEDUP_INDEX_SIDECAR,
        DEDUP_INDEX_PARAM_KEYS,
        "dedup index",
        "unparameterized indexes cannot be screened against safely; "
        "rebuild via write_dedup_index",
    )
    return {k: params[k] for k in DEDUP_INDEX_PARAM_KEYS}


def _write_sidecar(spark, path: str, params: dict) -> None:
    from .util import write_json_sidecar

    write_json_sidecar(spark, path, _DEDUP_INDEX_SIDECAR, params)


def write_dedup_index(
    index: DataFrame,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Persist a :func:`prepare_dedup_index` frame with its parameter
    sidecar. ``mode="append"`` is the continuous-ingest maintenance
    path: it validates the stored sidecar's LSH parameters against the
    caller's FIRST and refuses a mismatch — appending rows built under
    different num_hashes/bands/shingle_n/base_hash would poison the
    index silently (band keys from different permutation constants
    never collide correctly).

    Scale shape: an append writes only the new batch's files into the
    existing parquet directory — the corpus-sized existing files are
    never read or rewritten, so maintenance cost is O(batch), not
    O(corpus). Readers list one directory either way.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    params = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "base_hash": str(base_hash),
    }
    spark = index.sparkSession
    if mode == "append":
        stored = _read_sidecar(spark, path)
        if stored != params:
            raise ValueError(
                f"dedup index parameter mismatch: stored {stored} vs "
                f"append batch {params} — rebuild the index or match "
                "its parameters"
            )
    index.write.mode(mode).parquet(path)
    # (re)write the sidecar AFTER the data lands so a failed data write
    # never leaves a sidecar pointing at a missing/partial index
    _write_sidecar(spark, path, params)


def read_dedup_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a stored dedup index AND its parameter sidecar. Returns
    ``(index_df, params)`` so screen callers use the index's own
    parameters instead of re-guessing them."""
    params = _read_sidecar(spark, path)
    return spark.read.parquet(path), params


def merge_dedup_index(
    spark,
    path: str,
    accepted: DataFrame,
    id_col: str,
    text_col: str,
    signed: DataFrame | None = None,
) -> dict:
    """Fold an accepted (screened-novel) batch into a stored index —
    the maintenance step :func:`screen_against_index` needs so batch
    N+1 sees batch N's documents. Reads the sidecar, builds the
    batch's band rows under the STORED parameters, and appends.

    The caller passes only accepted documents (ids that passed the
    screen); merging rejected near-dups would make every later batch
    re-collide against rows the corpus already represents. Cost per
    batch: shingle+minhash over the batch (narrow), one O(batch)-sized
    parquet append, zero reads of the existing index data — and with
    ``signed=`` (the screen's own :func:`signed_minhash_frame`,
    restricted to the accepted rows; MUST have been built under this
    index's sidecar parameters) the shingle/minhash pass is not paid
    again at all: the band rows are a projection of the already-pinned
    frame, value-identical to the recompute by the shared
    :func:`_band_sig_array`/:func:`index_rows_from_signed` machinery.
    """
    params = _read_sidecar(spark, path)
    if signed is not None:
        batch_index = index_rows_from_signed(
            signed,
            id_col,
            int(params["bands"]),
            int(params["num_hashes"]),
        )
    else:
        batch_index = prepare_dedup_index(
            accepted, id_col, text_col, **params
        )
    write_dedup_index(batch_index, path, mode="append", **params)
    return params


def screen_against_index(
    spark,
    path: str,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    incoming_signed: DataFrame | None = None,
) -> DataFrame:
    """Screen an incoming batch against a stored index using the
    index's OWN sidecar parameters — the parameter-mismatch class of
    silent failure is impossible by construction. Returns the
    ``(incoming_id, existing_id, jaccard)`` pairs of
    :func:`incremental_near_duplicates`. ``incoming_signed`` (from
    :func:`signed_minhash_frame` under THIS index's sidecar
    parameters) lets a screen+fold-back loop pay the batch's
    shingle/minhash pass once."""
    index, params = read_dedup_index(spark, path)
    return incremental_near_duplicates(
        None,
        incoming,
        id_col,
        text_col,
        threshold=threshold,
        existing_index=index,
        incoming_signed=incoming_signed,
        **params,
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_pct: int = 80,
    valid_pct: int = 10,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    verify_threshold: float | None = 0.5,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Contamination-proof train/valid/test split: every near-dup
    CLUSTER lands wholly in one split, so a test document can never
    have a near-duplicate in train — the leakage that row-level
    splitting (q65) structurally permits and eval then silently
    rewards. The split decision is the q65 md5-threshold device lifted
    from row to cluster granularity: hash the cluster id (the
    cluster's minimum doc id, from :func:`lsh_dedup_clusters`), not
    the row id, so every member inherits the same draw and
    adding/removing members never moves a cluster between splits.

    ``train_pct``/``valid_pct`` are integer percents (rest = test);
    thresholds are exact 16-bit hex cutoffs (``65536·pct div 100``),
    so the expected fractions are off by < 2^-16 and the assignment
    is a pure function of the cluster id — stable across engines,
    partitionings, and corpus appends (an append can only grow a
    cluster or add new clusters, never re-draw existing ones, except
    when an append MERGES two clusters — the merged cluster follows
    its new minimum id, the one unavoidable re-draw).

    Output ``(doc_id, cluster, split)``. Scale shape = the q67
    clustering (star edges, linear in bucket size) + one zero-shuffle
    per-row hash compare.
    """
    if not (0 <= train_pct and 0 <= valid_pct
            and train_pct + valid_pct <= 100):
        raise ValueError(
            f"invalid split percents: train={train_pct} valid={valid_pct}"
        )
    clusters = lsh_dedup_clusters(
        df, id_col, text_col, num_hashes, bands, shingle_n,
        verify_threshold, base_hash=base_hash,
    )
    h = F.substring(F.md5(F.col("cluster").cast("string")), 1, 4)

    def below(pct_cum: int):
        # 100% -> 65536 formats as the 5-char '10000' and the 4-char
        # hex prefix string-compare silently inverts (~94% of clusters
        # would fall through to 'test'); a full bucket is simply True —
        # the stratified-sampling frac>=1.0 device (relational.py).
        cutoff = (65536 * pct_cum) // 100
        if cutoff >= 65536:
            return F.lit(True)
        return h < f"{cutoff:04x}"

    split = (
        F.when(below(train_pct), "train")
        .when(below(train_pct + valid_pct), "valid")
        .otherwise("test")
    )
    return clusters.select(
        F.col(id_col), F.col("cluster"), split.alias("split")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    bits: int = 64,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document: each token's xxhash64 votes
    +1/-1 on every bit position (weighted by token frequency); the sign
    of each bit's vote sum forms the 64-bit fingerprint.

    Tokens are hashed once JVM-side (``xxhash64``); the 64 bit-votes run
    in a vectorized ``pandas_udf`` (one (n_tokens × 64) bit matrix per
    row) — the equivalent 64 ``aggregate`` folds are interpreted by
    Catalyst with no CSE (O(64·n) per row) and dominate plan compile.
    Identical values property-tested against :func:`simhash_expr`.

    SimHash is per-document: narrow, NO explode, NO shuffle — scales
    with the scan alone. Documents with no tokens are dropped (parity
    with the grouped form). Returns ``(id_col, simhash)``.
    """
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def _sh(token_hashes: pd.Series) -> pd.Series:
        out = np.empty(len(token_hashes), dtype=np.uint64)
        for i, hashes in enumerate(token_hashes):
            hv = np.asarray(hashes, dtype=np.int64).view(np.uint64)[:, None]
            # bit b of each hash → vote +1/-1; sum over tokens
            votes = (((hv >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1).sum(
                axis=0
            )
            out[i] = ((votes > 0).astype(np.uint64) << shifts).sum(
                dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    if base_hash == "xxhash64":
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731
    elif base_hash == "md5":
        # first 15 md5 hex digits as an integer — 60 usable bits, and
        # reproducible in any SQL engine (the q55 oracle re-derives the
        # fingerprint bit-for-bit in DuckDB); pass bits<=60 with it
        token_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown base_hash {base_hash!r}")
    hashed = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.transform(
            whitespace_tokens(F.col(text_col)), token_hash
        ).alias("__hs"),
    ).where(F.size("__hs") > 0)
    return hashed.select(F.col(id_col), _sh(F.col("__hs")).alias(out_col))


def simhash_expr(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """Pure-expression twin of :func:`simhash` (64 ``aggregate`` bit-vote
    folds). Kept as the executable spec the UDF fast path is tested
    against."""
    # signed bit masks: 1<<63 wraps to long min, matching two's complement
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]
    hashed = df.select(
        F.col(id_col),
        F.transform(
            whitespace_tokens(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("__hs"),
    ).where(F.size("__hs") > 0)

    def vote(m: int):
        return F.aggregate(
            F.col("__hs"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(m)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    fingerprint = None
    for m in masks:
        term = F.when(vote(m) > 0, F.lit(m)).otherwise(F.lit(0)).cast("long")
        fingerprint = term if fingerprint is None else fingerprint + term
    return hashed.select(F.col(id_col), fingerprint.alias(out_col))


def jaccard_pairs_exact(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact token-set Jaccard over all colliding pairs via an inverted
    index: explode distinct tokens, self-join on token (only docs sharing
    a token ever meet — sparse, not O(n^2)), count shared tokens, then
    jaccard = |∩| / (|a| + |b| - |∩|).

    SQL-expressible → has a DuckDB oracle (q56). At 100 TB the token join
    is the scale risk: stopword-like tokens create huge buckets — the
    LSH variant (``minhash_near_duplicates``) is the scale path, this is
    the exact baseline.
    """
    toks = (
        tokenize(ensure_parallelism(df.select(id_col, text_col)), text_col)
        .select(F.col(id_col).alias("doc"), F.explode("tokens").alias("token"))
        .distinct()
        # materialized once; the inverted-index self-join reads it twice
        .localCheckpoint()
    )
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tokens"))
    l, r = toks.alias("l"), toks.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.token") == F.col("r.token"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return (
        inter.join(
            sizes.select(
                F.col("doc").alias("id_a"), F.col("n_tokens").alias("n_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc").alias("id_b"), F.col("n_tokens").alias("n_b")
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("n_a") + F.col("n_b") - F.col("intersection")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    verify_threshold: float | None = 0.5,
    max_iterations: int = 50,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup cluster assignment at scale: ``(id, cluster)`` for every
    document, via MinHash-LSH STAR edges + connected components.

    ``shingle_n`` picks the similarity space: 1 = token-set (bag-of-
    words, order-insensitive — matches the exact-Jaccard twin q66 and
    suits corpora whose duplicates shuffle word order), 3+ = word
    n-grams (order-sensitive near-dup detection). ``verify_threshold``
    applies to STAR edges (hub ↔ member), not arbitrary pairs — set it
    at or below the pairwise threshold you care about, because a
    cluster with pairwise similarity ≥ t can have hub-member similarity
    below t (triangle-inequality slack; measured on the test corpus:
    verify 0.8 splits the 0.8-pairwise clusters, verify 0.5 reproduces
    them exactly).

    The all-pairs formulations (``jaccard_pairs_exact``, or LSH buckets
    self-joined) are quadratic in cluster size — a corpus whose near-dup
    clusters hold k docs emits C(k,2) pairs per cluster (measured at
    sf0.1: 8.9M pairs from 5,000 docs, 114 s). Connectivity doesn't need
    all pairs: within each LSH bucket it suffices to link every doc to
    the bucket's minimum doc id (a star) — O(bucket size) edges, built
    with one groupBy + one join, no self-join anywhere. Components of
    the star graph equal components of the full within-bucket pair
    graph when edges are unverified; with ``verify_threshold`` set, each
    star edge is exact-Jaccard-checked (O(edges), not O(pairs)), which
    restores precision at a small recall cost vs verifying all pairs (a
    cluster member whose star edge fails splits off even if some other
    pair would have kept it — the standard precision/recall trade of
    LSH dedup at scale). Probabilistic by construction → rows-only
    check, no SQL oracle (q66 is the exact oracle-checked twin).
    """
    prepared = (
        shingle_text(
            ensure_parallelism(df.select(id_col, text_col)), text_col, shingle_n
        )
        .select(id_col, "shingles")
        .localCheckpoint()
    )
    signed = minhash_signature(prepared, "shingles", num_hashes, base_hash=base_hash)
    rows_per_band = num_hashes // bands
    banded = signed.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "band_sig"),
    )
    hubs = banded.groupBy("band", "band_sig").agg(F.min("doc").alias("hub"))
    star = (
        banded.join(hubs, ["band", "band_sig"])
        .where(F.col("doc") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("doc").alias("id_b"))
        .distinct()
    )
    if verify_threshold is not None:
        star = jaccard_verify(
            star, prepared, id_col, "shingles", verify_threshold
        ).select("id_a", "id_b")
    from .graph import connected_components

    comps = connected_components(
        star, "id_a", "id_b", max_iterations=max_iterations
    ).select(F.col("id").alias(id_col), F.col("component").alias("cluster"))
    singles = (
        df.select(id_col)
        .join(comps.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("cluster"))
    )
    return comps.unionByName(singles)


def cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str,
    quality_col: str,
    cluster_col: str = "cluster",
) -> DataFrame:
    """The keep/drop decision that near-dup clustering exists for: within
    each cluster keep exactly one document — the highest-``quality_col``
    one, ties broken by minimum id (deterministic under any
    partitioning; an arbitrary ``dropDuplicates`` pick would flake every
    hash-compared rerun).

    ``clusters`` is ``(id, cluster)`` from :func:`lsh_dedup_clusters` /
    the exact twin; ``quality`` carries the scoring column (e.g.
    ``quality_score`` output, or a length column). One window over
    ``cluster`` — clusters are small by construction (near-dup groups),
    so the partition-by key is well distributed; no global sort. Returns
    every input doc with its cluster and a ``keep`` flag, so the
    downstream filter (or its negation, an audit of what was dropped) is
    one predicate.
    """
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        clusters.join(quality.select(id_col, quality_col), id_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("keep", F.col("__rn") == 1)
        .drop("__rn")
    )


def sample_universe_predicate(col: Column, sample_pct: int) -> Column:
    """Deterministic md5 membership test for a ``sample_pct``-percent
    id-universe sample — the :func:`relational.stratified_sample`
    threshold device: an id is in-sample iff its first 4 md5 hex digits
    fall below ``floor(pct/100 * 2^16)``. A pure per-row function of
    the id (no RNG state), so the SAME universe is selected whether the
    predicate is applied to the corpus before a pair generator runs
    (the cost-saving place) or to a pair list after — which is what
    makes sampled pair-set evaluation coherent end to end.
    """
    if not (0 < sample_pct <= 100):
        raise ValueError(
            f"sample_pct must be in (0, 100], got {sample_pct}"
        )
    if sample_pct == 100:
        return F.lit(True)
    threshold = format(max(int(sample_pct / 100 * 65536), 0), "04x")
    return F.substring(F.md5(col.cast("string")), 1, 4) < F.lit(threshold)


def pair_set_quality(
    approx: DataFrame,
    exact: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sample_pct: int | None = None,
) -> DataFrame:
    """Candidate-quality evaluation for any approximate pair generator
    (LSH bands, sign buckets, SimHash radius) against its exact twin:
    one row with ``n_approx``, ``n_exact``, ``n_common``, ``precision``
    (|∩|/|approx|) and ``recall`` (|∩|/|exact|), both 0.0 on empty
    denominators and rounded to 6.

    The dedup-side companion of :func:`similarity.topk_recall` — "we
    built the fast path; here is the measured fidelity" as a first-class
    distributed query rather than a notebook one-off. Both inputs are
    reduced to distinct unordered pairs first, so double-reported
    candidates can't inflate precision — and "unordered" is enforced by
    CANONICALIZING each pair to (least, greatest) before the distinct:
    a foreign generator emitting (b, a) orientation (or both
    orientations of the same pair) still lands on the same canonical row,
    so the intersection join can't silently under-count ``n_common``.
    The in-repo generators all emit id_a < id_b by construction, for
    which the normalization is a no-op.

    Scale shape: two distincts + one pair-keyed equi join + three
    single-row aggregates cross-joined broadcast — work scales with the
    pair sets (which for a bucketed generator are collision-sized, not
    corpus²). Each canonical pair set is ``localCheckpoint``-ed (eager):
    both sets feed TWO consumers (their own count and the intersection
    join), and Spark plans no exchange reuse across those subtrees — so
    without the pin each pair GENERATOR executes twice per action, which
    for the deliberately-quadratic exact twin doubles the whole query
    (measured ~2x on q99 at sf0.1). The pinned frame is just the pair
    list, the cheapest thing in sight.

    ``sample_pct`` is the evaluator's own 100 TB story: the exact twin
    is quadratic BY DESIGN (it is the measuring stick), so at sf1+ you
    evaluate on a deterministic md5 sample of the id universe
    (:func:`sample_universe_predicate`). Here both pair sets are
    restricted to pairs whose BOTH endpoints are in-sample — an
    unbiased estimate of precision/recall over id-pairs, and
    consistent with pre-filtering the CORPUS by the same predicate
    before the generators run, which is where the quadratic cost
    actually drops (pair-level filtering only cheapens the
    distinct/join). Same predicate both places = same pair universe,
    so the two usages compose.
    """

    def canon(df: DataFrame) -> DataFrame:
        if sample_pct is not None:
            df = df.where(
                sample_universe_predicate(F.col(id_a), sample_pct)
                & sample_universe_predicate(F.col(id_b), sample_pct)
            )
        return (
            df.select(
                F.least(F.col(id_a), F.col(id_b)).alias(id_a),
                F.greatest(F.col(id_a), F.col(id_b)).alias(id_b),
            )
            .distinct()
            .localCheckpoint()
        )

    a = canon(approx)
    e = canon(exact)
    inter = a.join(e, [id_a, id_b])
    stats = (
        a.agg(F.count(F.lit(1)).alias("n_approx"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_exact"))))
        .crossJoin(
            F.broadcast(inter.agg(F.count(F.lit(1)).alias("n_common")))
        )
    )
    return stats.select(
        "n_approx",
        "n_exact",
        "n_common",
        F.round(
            F.when(
                F.col("n_approx") > 0, F.col("n_common") / F.col("n_approx")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("precision"),
        F.round(
            F.when(
                F.col("n_exact") > 0, F.col("n_common") / F.col("n_exact")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("recall"),
    )


def containment_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT over all colliding pairs —
    ``containment(A in B) = |S(A) ∩ S(B)| / |S(A)|`` over word
    ``shingle_n``-gram sets, the asymmetric companion of
    :func:`jaccard_pairs_exact` (Broder's second resemblance measure).
    Jaccard misses the quotation case a containment screen exists for:
    a short document wholly quoted inside a much longer one scores
    near-zero Jaccard (the union is dominated by the long doc) but
    containment 1.0. Output is DIRECTIONAL: ``(contained_id,
    container_id, containment)`` rows where the contained side's
    coverage meets ``threshold`` — one unordered pair can emit both
    directions when both coverages clear it (e.g. exact duplicates).
    Shingles, not unigrams, on purpose: over a small shared vocabulary
    unigram containment between ANY two documents runs high (measured
    144k/250k directional pairs >= 0.8 on the 500-doc test corpus);
    n-gram order-sensitivity is what makes the measure about COPIED
    TEXT rather than shared vocabulary (50 pairs at n=3, all real).

    Same inverted-index plan as the Jaccard twin (explode distinct
    shingles, self-join so only docs sharing a shingle ever meet, one
    pair-keyed count) — the intersection is computed ONCE per
    unordered pair and both directional ratios derive from it, so the
    asymmetry costs nothing extra. Scale posture identical to q56:
    exact baseline — the inverted-index self-join is sum(df^2) over
    shingle document frequencies, quadratic in every hot-shingle
    group. The production path is :func:`containment_pairs_sketch`
    (q136): a bottom-k sketch probed against the full index, linear
    in corpus size for fixed k, with this function as its
    pair_set_quality measuring stick.
    """
    toks = (
        shingles(
            tokenize(
                ensure_parallelism(df.select(id_col, text_col)), text_col
            ),
            "tokens",
            n=shingle_n,
        )
        .select(F.col(id_col).alias("doc"), F.explode("shingles").alias("token"))
        .distinct()
        # materialized once; the inverted-index self-join reads it twice
        .localCheckpoint()
    )
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tokens"))
    l, r = toks.alias("l"), toks.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.token") == F.col("r.token"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    scored = inter.join(
        sizes.select(F.col("doc").alias("id_a"), F.col("n_tokens").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col("doc").alias("id_b"), F.col("n_tokens").alias("n_b")),
        "id_b",
    )
    a_in_b = scored.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("intersection") / F.col("n_a"), 6).alias("containment"),
    )
    b_in_a = scored.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("intersection") / F.col("n_b"), 6).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).where(
        F.col("containment") >= threshold
    )


def containment_pairs_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    sketch_k: int = 24,
    slack: float = 0.3,
    base_hash: str = "xxhash64",
    max_index_df: int | None = None,
) -> DataFrame:
    """CONTAINMENT screen at scale — the production counterpart of
    :func:`containment_pairs_exact` (q134's measuring stick), same
    directional ``(contained_id, container_id, containment)`` contract.

    Why banded MinHash-LSH cannot serve here: a band collides with
    probability ~Jaccard^r, and the quotation case containment exists
    for (short doc inside a long one) has near-zero Jaccard — the pair
    would never band-collide no matter the band shape. Containment is
    asymmetric; the candidate generator must be too.

    The containment-correct analogue is a bottom-k sketch probed
    against the FULL inverted index: the ``sketch_k`` smallest-hashed
    shingles of each document are a uniform without-replacement sample
    of its shingle set, so the probability that one sampled shingle
    also appears in doc B IS ``containment(A in B)`` — the match count
    over the sketch is hypergeometric with mean ``sk_n * containment``
    (sk_n = min(sketch_k, |S(A)|); when the doc is smaller than the
    sketch the estimate is exact). Candidates keep every directional
    pair with estimate >= ``threshold - slack``; at the defaults
    (k=24, cutoff 0.5) a true-0.8-containment pair is missed with
    probability ~9e-4 (binomial tail below 12/24). Exact containment
    is then computed on candidates ONLY, over hashed shingle sets
    (array_intersect of two per-doc arrays — hash collisions at p=2^31
    inflate a pair's intersection with probability ~|S|^2/2^31,
    negligible and quantified by the pair_set_quality eval in tests).

    Scale posture: the exact screen's inverted-index self-join costs
    sum(df^2) over shingle document frequencies — quadratic in every
    hot-shingle group. Here the left side of the probe join is
    ``sketch_k`` rows per document, so the join output is bounded by
    k * df summed over sampled shingles — LINEAR in corpus size for
    fixed k. Hot shingles still fan out (a sampled stopword-ish
    trigram meets every doc containing it); ``max_index_df`` drops
    shingles seen in more than that many documents from the WHOLE
    pipeline (sketch, index, and verify, so the measure stays
    consistent: containment over informative shingles only) — the
    standard frequency-filter answer, off by default because it
    changes the measure. One keyed shuffle per stage; the shingle
    stream is localCheckpointed once and feeds all four consumers
    (sizes, sketch, index, verify arrays).

    ``base_hash="md5"`` folds the first 15 hex digits mod 2^31-1
    (the q50/_base_hash_expr convention) so the ENTIRE pipeline —
    sampling order included — is reproducible in any SQL engine;
    ``xxhash64`` is the cheaper production default.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if sketch_k < 1:
        raise ValueError(f"sketch_k must be >= 1, got {sketch_k}")
    cutoff = threshold - slack
    toks = (
        shingles(
            tokenize(
                ensure_parallelism(df.select(id_col, text_col)), text_col
            ),
            "tokens",
            n=shingle_n,
        )
        .select(
            F.col(id_col).alias("doc"), F.explode("shingles").alias("token")
        )
        .distinct()
    )
    if base_hash == "xxhash64":
        h = F.pmod(F.xxhash64(F.col("token")), F.lit(_MERSENNE_31))
    elif base_hash == "md5":
        h = (
            F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast(
                "long"
            )
            % _MERSENNE_31
        )
    else:
        raise ValueError(f"unknown base_hash {base_hash!r}")
    toks = toks.select("doc", "token", h.alias("h"))
    if max_index_df is not None:
        # document frequency is counted per TOKEN, not per mod-2^31
        # hash: a hash collision would merge distinct shingles'
        # frequencies and could evict a below-cap informative shingle
        # from the whole pipeline (ADVICE r11). The hash stays the
        # sketch/probe key; only the frequency filter keys on token.
        hot = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_index_df)
            .select("token")
        )
        toks = toks.join(hot, "token", "left_anti")
    # materialized once; feeds sizes, the sketch window, the index
    # side of the probe join, and the verify arrays
    toks = toks.localCheckpoint()
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # bottom-k by (h, token): the token tie-break makes the sample
    # boundary deterministic under mod-p hash ties
    w = Window.partitionBy("doc").orderBy(
        F.col("h").asc(), F.col("token").asc()
    )
    sk = (
        toks.select("doc", "h", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= sketch_k)
        .select(F.col("doc").alias("contained_id"), "h")
    )
    idx = toks.select(F.col("doc").alias("container_id"), "h")
    cand = (
        sk.join(idx, "h")
        .where(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("matches"))
        .join(
            sizes.select(
                F.col("doc").alias("contained_id"),
                F.least(F.lit(sketch_k), F.col("n_sh")).alias("sk_n"),
            ),
            "contained_id",
        )
        .where(F.col("matches") / F.col("sk_n") >= cutoff)
        .select("contained_id", "container_id")
    )
    arrs = toks.groupBy("doc").agg(F.collect_set("h").alias("hs"))
    return (
        cand.join(
            arrs.select(
                F.col("doc").alias("contained_id"), F.col("hs").alias("hs_a")
            ),
            "contained_id",
        )
        .join(
            arrs.select(
                F.col("doc").alias("container_id"), F.col("hs").alias("hs_b")
            ),
            "container_id",
        )
        .select(
            "contained_id",
            "container_id",
            F.round(
                F.size(F.array_intersect("hs_a", "hs_b")) / F.size("hs_a"),
                6,
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def fuzzy_entity_join(
    df: DataFrame,
    name_col: str,
    max_distance: int = 3,
    blocking: Sequence[str] = ("first_token", "last_token"),
) -> DataFrame:
    """Blocked fuzzy entity-resolution self-join: candidate duplicate
    NAME pairs within Levenshtein ``max_distance``, found via multi-key
    blocking over the DISTINCT-name dictionary. The record-linkage
    companion to the token-set family (minhash/simhash key on content
    overlap; this keys on edit distance — typo-class duplicates that
    share almost no tokens). Output: one row per unordered name pair
    (``name_a < name_b``) with ``distance`` and each name's row count
    in ``df`` (``n_a``/``n_b`` — the blast radius of merging the pair).

    Scale shape: resolution runs on the distinct-name DICTIONARY, never
    the corpus — at 100 TB the name domain is millions while rows are
    billions, so the quadratic step is bounded by block sizes over a
    frame the corpus dwarfs. Each blocking pass emits (block_key, name);
    the union of passes self-joins per key (``a < b`` halves the
    square), pairs dedup across passes with one distinct, and
    ``levenshtein`` verifies JVM-side inside codegen — no UDF. Recall
    is a blocking property, not an algorithm property: a pair differing
    in BOTH its first and last token is invisible by design (the
    standard multi-pass blocking trade; add passes to widen recall).
    Skew = a hot block key (e.g. every name sharing one last token)
    quadratically dominates — bound it upstream with a stopword-style
    block-key frequency cap if the name domain degenerates; at the
    tested domain both passes stay well under the q56 hot-key bar.
    """
    toks = F.split(F.col("name"), " ")
    passes = []
    for b in blocking:
        if b == "first_token":
            key = F.element_at(toks, 1)
        elif b == "last_token":
            key = F.element_at(toks, -1)
        else:
            raise ValueError(f"unknown blocking pass {b!r}")
        passes.append(key)
    names = df.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    keyed = None
    for key in passes:
        p = names.select(
            "name", key.alias("__bk")
        )
        keyed = p if keyed is None else keyed.unionByName(p)
    keyed = keyed.distinct()
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(b, "__bk")
        .where(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
        .where(
            F.levenshtein(F.col("name_a"), F.col("name_b")) <= max_distance
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein(F.col("name_a"), F.col("name_b"))
            .cast("int")
            .alias("distance"),
        )
    )
    na = names.select(
        F.col("name").alias("name_a"), F.col("n_rows").alias("n_a")
    )
    nb = names.select(
        F.col("name").alias("name_b"), F.col("n_rows").alias("n_b")
    )
    return pairs.join(na, "name_a").join(nb, "name_b").select(
        "name_a", "name_b", "distance", "n_a", "n_b"
    )
