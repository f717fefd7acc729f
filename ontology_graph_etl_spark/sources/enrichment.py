"""HTTP enrichment source (SURVEY.md §2.1 S8).

The reference enriches concepts with one *synchronous* HTTP POST per
record (main.py:372-383) — the canonical scaling anti-pattern (25,610
sequential round-trips). Here enrichment is a ``mapInPandas`` operator:
executors process Arrow batches, issue batched requests (or call an
injected transport), and emit rows — parallelism = partitions, and the
transport is injectable so tests never touch a network.

Semantics parity (main.py:376-382): response ``event_and_property_types``
strings like ``"Type:rest"`` are split on ':', prefixes set-deduped, and
the first type becomes ``node_type``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: transport(concept_id) -> list of "Type:detail" strings, or None on error.
Transport = Callable[[int], "list[str] | None"]

def http_transport(url: str, timeout: float = 10.0) -> Transport:
    """Real transport hitting an enrichment endpoint (the reference's
    ``ooo-explorer/info`` shape, with the request key spelled correctly —
    the reference sends ``conceme_id``, a typo, main.py:374)."""

    def call(concept_id: int) -> list[str] | None:
        import requests  # imported lazily; not needed for tests

        resp = requests.post(url, json={"concept_id": concept_id}, timeout=timeout)
        if resp.status_code != 200:
            return None
        return resp.json().get("event_and_property_types", [])

    return call


def enrich_property_types(
    concepts: DataFrame,
    transport: Transport,
    id_col: str = "id",
    exclude_semantic_type: str = "Cancer-Numeric-Modifier",
) -> DataFrame:
    """Enrich each concept with property types from the transport.

    Filter parity: concepts with ``semantic_type == exclude_semantic_type``
    are skipped (reference main.py:370-371). Dedup parity: prefix-split +
    set semantics (main.py:378-382), expressed as array expressions after
    the transport returns raw strings (Python only does I/O, not data
    transformation).
    """
    filtered = concepts
    if "semantic_type" in concepts.columns and exclude_semantic_type:
        filtered = concepts.where(
            F.col("semantic_type").isNull()
            | (F.col("semantic_type") != exclude_semantic_type)
        )
    ids = filtered.select(F.col(id_col).cast("long").alias("id"))

    raw_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("raw_types", ArrayType(StringType()), True),
        ]
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out_ids, out_types = [], []
            for concept_id in batch["id"]:
                result = transport(int(concept_id))
                if result is None:
                    continue
                out_ids.append(int(concept_id))
                out_types.append(result)
            # explicit dtypes: an empty partition would otherwise default
            # to float64 series, which Arrow can't cast to list<string>
            yield pd.DataFrame(
                {
                    "id": pd.Series(out_ids, dtype="int64"),
                    "raw_types": pd.Series(out_types, dtype="object"),
                }
            )

    raw = ids.mapInPandas(fetch, schema=raw_schema)
    prefixes = F.array_distinct(
        F.transform(F.col("raw_types"), lambda t: F.split(t, ":").getItem(0))
    )
    return raw.select(
        "id",
        prefixes.alias("property_types"),
        # try_element_at: an empty response yields null node_type instead
        # of an ANSI out-of-bounds error
        F.try_element_at(prefixes, F.lit(1)).alias("node_type"),
    )


def snapshot_transport(snapshot: dict[int, list[str]]) -> Transport:
    """Deterministic in-memory transport for tests / replays — the
    'pre-fetched snapshot table' strategy from SURVEY.md §2.1 S8."""

    def call(concept_id: int) -> list[str] | None:
        return snapshot.get(concept_id)

    return call
