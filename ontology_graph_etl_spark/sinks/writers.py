"""File sinks: the reference's JSONL → JSON-array interop util and the
deterministic training-shard export (SURVEY.md §2.2).

The reference stages everything through text files and appends across
runs (main.py:340,360,383) with offset-based recovery. Here every write
is an idempotent overwrite — recovery is "rerun the lazy plan". The
canonical graph store lives in :mod:`ontology_graph_etl_spark.graph_store`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jsonl_to_json_array(
    spark: SparkSession, in_path: str, out_path: str
) -> None:
    """K4 compat util — rewrite a JSON-Lines file as one JSON array
    (reference main.py:33-42, which appends ``,`` per line between
    ``[``/``]`` markers; F5 rstrip/concat main.py:41-42).

    Kept only for interop with consumers of the reference's converted
    files — Spark reads JSONL natively (S1) and whole-doc arrays via
    ``multiLine`` (S4), so nothing in this engine needs the conversion.
    "Comma after every line but the last" is order-dependent, so the
    file is read ``wholetext`` (one row per file — the only
    order-guaranteed text read), split into lines, **blank lines
    dropped** (a blank interior line would otherwise become a bare
    comma — invalid JSON), and joined with ``,\n`` between brackets.
    The reference instead emits a trailing comma before ``]`` — invalid
    JSON, not replicated. The input must resolve to exactly one file
    (a directory of parts has no defined record order across files);
    anything else raises. Whole-file-in-one-task is fine here: this is
    a driver-convenience interop util (the reference held the file in
    memory too, main.py:35), not a cluster-scale path.
    """
    from pyspark.sql import functions as F

    whole = spark.read.text(in_path, wholetext=True)
    n_files = whole.count()
    if n_files != 1:
        raise ValueError(
            f"jsonl_to_json_array expects exactly one input file, "
            f"got {n_files} under {in_path!r}"
        )
    lines = F.filter(
        F.split(F.col("value"), r"\r?\n"),
        lambda s: F.trim(s) != "",
    )
    out = whole.select(
        F.concat(
            F.lit("[\n"),
            F.array_join(lines, ",\n"),
            F.lit("\n]"),
        ).alias("value")
    )
    out.coalesce(1).write.mode("overwrite").text(out_path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    order_col: str | None = None,
    ascending: bool = True,
) -> None:
    """Deterministic shuffled shard export — the LAST step of a
    training-data pipeline: the curated mix lands as exactly
    ``n_shards`` parquet files whose assignment AND within-shard order
    are a pure function of ``key_col`` (md5 order — the same
    deterministic-corpus-shuffle device as the mix/split operators), so
    a re-run, a different cluster, or a different input partitioning
    produces byte-identical shard membership. Consumers stream shard
    ``i`` of ``n`` with no coordination, and the md5 ordering IS the
    training shuffle (no separate shuffle pass needed downstream).

    Shard assignment is the first 8 md5 hex digits bucketed by integer
    range (``hex32 * n div 2^32``) rather than hash-mod-partition:
    range buckets keep the global md5 order sorted ACROSS shards
    (shard 0 holds the smallest hashes), so concatenating shards in
    index order replays the exact global order when needed.

    Scale shape: one range-shuffle on the md5 prefix (repartitionByRange
    would sample — the explicit bucket id avoids sampling
    nondeterminism), sort within partitions, one file per shard via
    partitioned write. Balance is binomial around rows/n_shards
    (md5 uniformity), no sampling pass, no driver collect.
    """
    from pyspark.sql import functions as F

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if "shard" in df.columns or "__hmd5" in df.columns:
        raise ValueError(
            "write_training_shards output column shard (or internal __hmd5)"
            " already exists on the input"
        )
    # NULL keys would yield md5(NULL) = NULL shard ids, landing rows in
    # __HIVE_DEFAULT_PARTITION__ — outside the promised 0..n_shards-1
    # range, where read_training_shards(shard=i) silently never returns
    # them. Fail the write instead of breaking the every-row-in-
    # exactly-one-shard contract: coalesce routes NULL keys (and ONLY
    # those rows — non-NULL rows never evaluate the branch) through
    # raise_error.
    # key_col is spliced into SQL text twice: escape backticks in the
    # identifier and quotes/backslashes in the message literal — a
    # quote-bearing column name must produce the guard, not a parse
    # error
    ident = key_col.replace("`", "``")
    msg_key = key_col.replace("\\", "\\\\").replace("'", "\\'")
    checked_key = (
        f"coalesce(CAST(`{ident}` AS STRING), "
        f"raise_error('write_training_shards: NULL {msg_key} has no "
        f"deterministic shard; filter or fill NULL keys first'))"
    )
    # shard assignment buckets the 8-hex prefix; the ORDER key is the
    # FULL md5 (review r12): two distinct keys can share the first 8
    # hex digits (verified at realistic id ranges), and an 8-hex tie
    # would make within-shard order engine/partitioning-arbitrary.
    # Full-md5 order refines the prefix order, so the range-bucket
    # "concatenating shards replays the global md5 order" claim stays
    # exact. Rows sharing the SAME key value still tie — key
    # uniqueness is the caller's contract, as for any keyed export.
    hfull = F.expr(f"md5({checked_key})")
    shard = F.expr(
        f"CAST(conv(substring(md5({checked_key}), 1, 8),"
        f" 16, 10) AS BIGINT) * {int(n_shards)} div 4294967296"
    )
    # order_col= turns the export into a CURRICULUM layout: shard
    # MEMBERSHIP stays the pure md5 function of the key (so every
    # shard is an unbiased corpus sample and re-runs are byte-stable),
    # but WITHIN each shard rows sort by (order_col, md5) — e.g. a
    # quality score ascending = easy-to-hard curriculum per shard,
    # consumed by streaming the file in order. The md5 tiebreak keeps
    # equal-score runs deterministic. Default (None) keeps the
    # historical pure-md5 shuffle order.
    sort_cols = [F.col("shard")]
    if order_col is not None:
        if order_col not in df.columns:
            raise ValueError(
                f"order_col {order_col!r} not in input columns"
            )
        oc = F.col(order_col)
        sort_cols.append(oc.asc() if ascending else oc.desc())
    sort_cols.append(F.col("__hmd5"))
    (
        df.withColumn("__hmd5", hfull)
        .withColumn("shard", shard.cast("int"))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions(*sort_cols)
        .drop("__hmd5")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_training_shards(
    spark: SparkSession,
    path: str,
    shard: int | None = None,
) -> DataFrame:
    """Read back a :func:`write_training_shards` layout. ``shard=``
    restricts to one shard and the filter is partition PRUNING, not a
    scan-and-filter: the layout is ``partitionBy("shard")`` parquet, so
    Spark lists only that shard's directory — the coordination-free
    "worker i streams shard i of n" consume pattern the writer's
    deterministic assignment exists for. Within a shard, file order is
    the md5 order the writer sorted (parquet preserves row order per
    file)."""
    df = spark.read.parquet(path)
    if shard is not None:
        from pyspark.sql import functions as F

        df = df.where(F.col("shard") == int(shard))
    return df
