"""Upsert / keyed-update semantics (SURVEY.md §2.5 A3-A4).

The reference's ``MERGE ... ON CREATE SET`` (main.py:62,299) is
*first-wins by file order*: once a node exists, later statements with the
same key never overwrite its properties. ``dropDuplicates`` is
nondeterministic under shuffle, so first-wins needs an explicit ingest
order column — the single most subtle semantic in the engine
(SURVEY.md §7 risks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_col: str | Sequence[str]) -> list[str]:
    return [order_col] if isinstance(order_col, str) else list(order_col)


def first_wins(
    df: DataFrame, keys: Sequence[str], order_col: str | Sequence[str]
) -> DataFrame:
    """A3 — deterministic first-wins dedup: for each key group keep the
    row that sorts first on ``order_col`` (a column name or a sequence of
    names compared lexicographically — use a sequence when order spans
    several dimensions, e.g. (sheet_index, line_no); encoding them into
    one arithmetic column breaks silently once a component overflows its
    assumed range).

    Implemented as ``row_number`` over (keys, order) — a single hash
    shuffle on the keys with map-side partial sort; AQE handles skewed
    keys. Equivalent Cypher: ``MERGE (n {id:..}) ON CREATE SET ...``
    executed in file order (reference main.py:62).
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in _order_cols(order_col)]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def update_by_key(
    base: DataFrame,
    updates: DataFrame,
    on: str | Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """A4 — keyed property update (reference ``MATCH ... SET n.entity_id``,
    main.py:351-352): overwrite ``set_cols`` for matched keys, keep
    existing values (or null) elsewhere. Left join + coalesce — the batch
    form of Delta ``MERGE WHEN MATCHED THEN UPDATE``.

    The updates side is typically a small keyed dimension → broadcast,
    so the 100-TB base never shuffles.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    upd = updates.select(
        *on_cols, *[F.col(c).alias(f"__new_{c}") for c in set_cols]
    )
    out = base.join(F.broadcast(upd), on_cols, "left")
    for c in set_cols:
        existing = F.col(c) if c in base.columns else F.lit(None)
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), existing))
    return out.drop(*[f"__new_{c}" for c in set_cols])


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: str | Sequence[str],
    update_cols: Sequence[str] | None = None,
    insert: bool = True,
    delete_unmatched_source: bool = False,
) -> DataFrame:
    """Batch MERGE — the full Delta-style
    ``MERGE WHEN MATCHED THEN UPDATE [WHEN NOT MATCHED THEN INSERT]``
    as one full-outer join, for incremental upsert pipelines on plain
    Parquet (Delta isn't available in this environment; the semantics
    are identical and the result can be atomically rewritten).

    - matched keys: ``update_cols`` take the source value (all shared
      non-key columns when None), everything else keeps the target value;
    - unmatched source keys: inserted when ``insert=True``, else dropped;
    - unmatched target keys: kept, unless ``delete_unmatched_source``
      (i.e. WHEN NOT MATCHED BY SOURCE THEN DELETE).

    Scale: one shuffle on the merge keys for both sides; when the source
    is a small changeset Spark's AQE converts it to a broadcast join, so
    the 100-TB target never shuffles.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    if update_cols is None:
        update_cols = [
            c
            for c in source.columns
            if c in target.columns and c not in on_cols
        ]
    src = source.select(
        *on_cols,
        F.lit(True).alias("__src_present"),
        *[F.col(c).alias(f"__src_{c}") for c in source.columns if c not in on_cols],
    )
    tgt = target.withColumn("__tgt_present", F.lit(True))
    joined = tgt.join(src, on_cols, "full_outer")

    out_cols = []
    for c in target.columns:
        if c in on_cols:
            out_cols.append(F.col(c))
        elif c in update_cols:
            # matched or insert → source value; target-only row → target
            out_cols.append(
                F.when(
                    F.col("__src_present").isNotNull(), F.col(f"__src_{c}")
                )
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c))
    result = joined.select(*out_cols, "__src_present", "__tgt_present")
    if not insert:
        result = result.where(F.col("__tgt_present").isNotNull())
    if delete_unmatched_source:
        result = result.where(F.col("__src_present").isNotNull())
    return result.drop("__src_present", "__tgt_present")


def exact_dedup(
    df: DataFrame, keys: Sequence[str], order_col: str | None = None
) -> DataFrame:
    """Exact dedup. With ``order_col`` → deterministic first-wins; without
    → hash-groupBy keeping the min of every other column is NOT implied,
    so we fall back to ``dropDuplicates`` (any-wins) which is cheaper
    (partial map-side dedup before the shuffle)."""
    if order_col is not None:
        return first_wins(df, keys, order_col)
    return df.dropDuplicates(list(keys))


def apply_cdc_batch(
    target: DataFrame,
    cdc: DataFrame,
    key_cols: Sequence[str],
    order_col: str | Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply an op-coded change batch to a keyed table — the CDC
    counterpart of :func:`merge_into`: ``cdc`` rows carry the
    target's full column set plus ``op_col`` ('I'nsert / 'U'pdate /
    'D'elete; I and U are both upserts, MERGE-style) and an
    ``order_col`` change sequence. Within the batch only each key's
    LATEST op applies (a key inserted then deleted in one batch ends
    deleted — per-key terminal-state semantics, the standard
    CDC-compaction contract); pass a Sequence for ``order_col`` when
    one column doesn't totalize the order (the first-wins lesson,
    upsert.py module docstring). Untouched target keys pass through
    unchanged. Output schema == target schema.

    Plan shape (pinned in tests/test_plan_shapes.py): the terminal-row
    window gets ``WindowGroupLimit`` pushdown (rn=1 pre-filters
    map-side before the batch's key exchange), the touched-key list
    broadcasts into a LeftAnti hash join, and the union appends the
    surviving upserts — so the 100-TB TARGET NEVER SHUFFLES; only the
    batch exchanges, on its key. The batch lineage forks into two
    batch-sized scans (key list + upsert rows) — accepted because it
    is batch-sized, not corpus-sized (the round-5 fork rule's scope).
    For stored tables compose with the staged-swap write device —
    tests/test_streaming.py pins the foreachBatch lifecycle.
    """
    keys = list(key_cols)
    order = _order_cols(order_col)
    missing = [c for c in target.columns if c not in cdc.columns]
    if missing:
        raise ValueError(
            f"cdc batch lacks target columns {missing}; CDC rows must "
            f"carry full row images"
        )
    # Op-domain guard: the contract is strictly I/U/D. A NULL op would
    # silently pass the != 'D' terminal filter as "dropped" and any
    # other code would silently upsert — fail the job instead, at the
    # point the op column is consumed (batch-side projection; the
    # target plan is untouched, preserving the never-shuffles pin).
    op_checked = F.when(
        F.col(op_col).isin("I", "U", "D"), F.col(op_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"apply_cdc_batch: {op_col!r} outside the I/U/D "
                    "contract: "
                ),
                F.coalesce(F.col(op_col), F.lit("NULL")),
            )
        )
    )
    cdc = cdc.withColumn(op_col, op_checked)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(o).desc() for o in order]
    )
    latest = (
        cdc.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = target.join(latest.select(*keys), keys, "left_anti")
    ups = latest.where(F.col(op_col) != "D").select(*target.columns)
    return kept.unionByName(ups)


def apply_cdc_to_store(
    spark,
    path: str,
    cdc: DataFrame,
    key_cols: Sequence[str],
    order_col: str | Sequence[str],
    op_col: str = "op",
) -> None:
    """Apply a CDC batch to a parquet-stored table in place, via the
    crash-atomic staged-swap device (read live → apply → write
    sibling ``.staged`` → two renames): a reader mid-swap sees one
    complete generation or the other, never a partial write, and a
    crash leaves both generations recoverable by rename. SINGLE
    WRITER REQUIRED (the compact_substring_index contract). This is
    the foreachBatch body for a streaming CDC-apply pipeline —
    pinned in tests/test_streaming.py."""
    from .util import hadoop_path_and_fs

    base = path.rstrip("/")
    staged = base + ".staged"
    cur_df = spark.read.parquet(base)
    out = apply_cdc_batch(cur_df, cdc, key_cols, order_col, op_col)
    out.write.mode("overwrite").parquet(staged)
    cur, fs = hadoop_path_and_fs(spark, base)
    new, _ = hadoop_path_and_fs(spark, staged)
    old, _ = hadoop_path_and_fs(spark, base + ".old")
    fs.delete(old, True)
    if not fs.rename(cur, old):
        raise IOError(f"cdc apply: could not stage out {base}")
    if not fs.rename(new, cur):
        fs.rename(old, cur)
        raise IOError(f"cdc apply: could not swap in {staged}")
    fs.delete(old, True)
