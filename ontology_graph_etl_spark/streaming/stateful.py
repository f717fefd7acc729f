"""Per-key running state for streaming queries (SURVEY.md §2.10
extension surface).

``running_totals`` keeps a per-user (count, sum) in Spark's own state
store: it is a declarative ``groupBy().agg()`` run in update mode, so
each trigger folds its rows into the stored aggregates and emits the
keys it touched. No Python worker runs. State lives in the state store
(HDFS-backed, or RocksDB on a real cluster) and the same transform
works under ``availableNow`` for bounded tests.

The earlier form of this operator, a per-key pandas fold in a Python
worker, is kept as the executable spec in ``tests/streaming_specs.py``;
the tests replay files through both and compare every trigger's
emissions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def running_totals(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user running totals: ``user_id`` (``user_col`` cast to
    long), ``n_events`` and ``total_value``. Run with
    ``outputMode("update")``: each trigger emits one row per key it
    touched, carrying the cumulative count and sum over every trigger
    so far. A NULL or NaN value counts as 0.

    Batch twin for oracle checks: ``groupBy(user).agg(count, sum)`` —
    at end-of-stream the final emission per key equals the batch result.

    Contract changes from the pandas-fold operator:

    1. A NULL user gives a ``(NULL, n, total)`` row; the fold failed
       the query (``cannot convert float NaN to integer``).
    2. The output ``user_id`` is nullable.
    3. A checkpoint written by the fold cannot be resumed here: the
       state schema differs.
    """
    value = F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
    return events.groupBy(F.col(user_col).cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.nanvl(value, F.lit(0.0))).alias("total_value"),
    )
