"""Readers/writers for driver testdata and reference-shaped inputs.

The reference reads everything eagerly into Python lists
(main.py:54-55, main.py:338-349); here every read is a lazy Spark scan
with a pinned schema so Catalyst can prune columns and push filters to
the parquet/JSON reader (SURVEY.md §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampType

from .schemas import TESTDATA_SCHEMAS

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (``TESTDATA.md``) as a DataFrame.

    Parquet is self-describing (schema read from the footer, no inference
    scan), so the file schema is authoritative; ``TESTDATA_SCHEMAS`` pins
    the *logical* contract. The driver writes timestamps as
    TIMESTAMP(NANOS, ntz), which Spark only reads as raw nanosecond longs
    (``nanosAsLong``); any such column the contract declares as timestamp
    is converted here (ns → µs, session pinned to UTC) so every
    downstream plan sees real timestamps.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session TZ even on externally-created sessions (the driver
    # passes its own): timestamp truncation/windowing must agree with the
    # DuckDB oracle, which treats naive timestamps as-is.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        for field in expected.fields:
            if (
                isinstance(field.dataType, TimestampType)
                and isinstance(actual.get(field.name), LongType)
            ):
                # integer div: double division drifts by ±1µs on ns-scale
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
                )
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    with_line_no: bool = False,
) -> DataFrame:
    """JSON Lines scan with pinned schema (reference S1/S2, main.py:54-59).

    The reference's offset-resume loop (main.py:338-349) is replaced by
    idempotent recompute; resumability comes from rerunning the lazy plan.

    ``with_line_no`` attaches an ingest-order column — required by the
    order-dependent semantics (first-wins upsert A3, prefix scan S5).
    For a single JSONL file Spark preserves intra-file line order within
    each split; ``monotonically_increasing_id`` is non-decreasing with
    file position for a single-file scan, which is all the first-wins
    semantics needs (relative order, not density).
    """
    df = spark.read.schema(schema).json(path)
    if with_line_no:
        df = df.withColumn("line_no", F.monotonically_increasing_id())
    return df


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan that SPLITS malformed rows out instead of silently
    NULLing them (the ingest-time companion of
    ``functions.json_fields``'s PERMISSIVE NULL semantics): returns
    ``(good, bad)`` where ``good`` carries the pinned schema and
    ``bad`` carries ``(raw)`` — the original line of every record the
    parser rejected, ready for a quarantine sink and a re-ingest after
    the producer is fixed. At 100 TB a silent NULL is a data-loss bug
    report three stages later; the split makes bad-record volume an
    observable metric.

    Mechanics: a TEXT scan + ``from_json`` with a corrupt-record field
    (PERMISSIVE mode stores the raw line there on parse failure) —
    NOT the raw JSON reader, whose corrupt column cannot be queried on
    its own (Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction;
    the documented workaround is caching, which a 100 TB ingest cannot
    afford). Both outputs filter the same lazy text scan — two
    column-pruned passes, no checkpoint (the ``bm25_topk`` trade).
    Blank lines are dropped (the native JSONL reader's behavior). The
    corrupt field must not collide with a schema field (guarded).
    """
    corrupt = "_corrupt_record"
    if corrupt in schema.fieldNames():
        raise ValueError(
            f"schema already has a {corrupt!r} field; rename it"
        )
    from pyspark.sql.types import StringType, StructField

    wide = StructType(
        list(schema.fields) + [StructField(corrupt, StringType())]
    )
    lines = spark.read.text(path).where(F.trim(F.col("value")) != "")
    parsed = lines.select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            wide,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
        ).alias("__j"),
    )
    good = parsed.where(F.col(f"__j.{corrupt}").isNull()).select(
        *[F.col(f"__j.{name}").alias(name) for name in schema.fieldNames()]
    )
    bad = parsed.where(F.col(f"__j.{corrupt}").isNotNull()).select(
        F.col("value").alias("raw")
    )
    return good, bad


def read_json_doc(spark: SparkSession, path: str) -> DataFrame:
    """Whole-document JSON scan (reference S3/S4, main.py:335-336,387-389).

    ``multiLine`` mode parses the single document; dict-shaped docs become
    one wide row which callers relationalize (see ``ops.dict_to_mapping``),
    array docs become one row per element after ``explode``.
    """
    return spark.read.option("multiLine", True).json(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Text-file line scan (reference S7, main.py:313-314): one row per line."""
    return spark.read.text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Canonical sink: parquet, idempotent overwrite (replaces K1/K2 text
    staging, reference main.py:57,78,340). Graph tables partition by
    ``label`` / ``relationship`` so traversals prune partitions."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Line-text sink (reference K1, one generated statement per line).

    Kept for the cypher-codegen compatibility output only; expects a
    single ``value`` string column.
    """
    df.select(F.col(df.columns[0]).alias("value")).write.mode(mode).text(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles once at write time so every
    subsequent equi-join/aggregate on ``bucket_col`` between tables with
    matching bucketing runs with NO exchange — the amortization that
    matters when a 100 TB fact table is joined nightly. Pair with
    ``sort_col`` for shuffle-free AND sort-free sort-merge joins.
    """
    writer = df.write.mode("overwrite").format("parquet")
    writer = writer.bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)
