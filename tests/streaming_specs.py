"""Executable specs for the streaming operators in
``ontology_graph_etl_spark/streaming``.

``running_totals_spec`` is the per-key pandas fold that
``stateful.running_totals`` replaced: an explicit state machine under
``applyInPandasWithState`` that folds each micro-batch's rows into a
(count, sum) state and emits the updated row per key. The package now
runs the same contract as a native update-mode aggregation; the tests
replay the same files through both and compare every trigger.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), False),
    ]
)


def running_totals_spec(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user running totals as a pandas fold: each micro-batch folds
    its rows into (count, sum) state and emits the updated row. A NULL
    or NaN value counts as 0 (``fillna``); a NULL user fails the query."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "n_events": pd.Series([n], dtype="int64"),
                "total_value": pd.Series([total], dtype="float64"),
            }
        )

    return (
        events.groupBy(user_col)
        .applyInPandasWithState(
            fold,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
