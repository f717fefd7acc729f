"""Deterministic ontology fixture tables (FIXTURES.md schemas).

Synthetic inputs mirroring the reference's input shapes (SURVEY.md §1.2)
with the adversarial rows its latent defects demand (SURVEY.md §5):
quote-bearing names, duplicate keys with conflicting names (first-wins),
trailing-space type names, null dst ids, dangling hierarchy endpoints,
one explicit cycle, and an ordered sheet with data after the stop row.

Everything is generated from a seeded ``random.Random`` — same seed,
same tables, every run — and returned as Spark DataFrames with explicit
``line_no`` ingest-order columns (order-dependent semantics: first-wins
upsert main.py:62,299; prefix scan main.py:285-286).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .sources.tabular import WORKSHEET_METADATA

SEMANTIC_TYPES = [
    "Neoplasm", "Disease", "Medication", "Gene", "Finding", "Procedure",
    "Body Part", "Lab Test", "Cancer-Numeric-Modifier", None, "",
]

NAME_STEMS = [
    "lung neoplasm", "breast carcinoma", "melanoma", "dabrafenib",
    "trastuzumab", "BRAF", "EGFR", "stage II", "partial response",
    "non-Hodgkin's lymphoma",          # apostrophe — injection fixture
    "tumor (+/-) margin",              # symbols
    "carcinome épidermoïde",           # unicode
    " leading space", "trailing space ",
    "",                                 # empty name
]

PROPERTY_TYPE_VOCAB = [
    "Disease", "Neoplasm", "Response", "Lab Procedure", "Demographics",
    "Biomarker", "Therapeutic Procedure", "Lab Finding", "Medication",
    "Allergy", "Surgery", "Imaging", "Genetic Finding", "Symptom",
]

CONCEPTS_SCHEMA = StructType([
    StructField("line_no", LongType(), False),
    StructField("id", LongType(), False),
    StructField("name", StringType(), True),
    StructField("semantic_type", StringType(), True),
    StructField("cui", StringType(), True),
    StructField("search_type", StringType(), True),
    StructField("description", StringType(), True),
    StructField("property_concept", StringType(), True),
])

HIERARCHY_SCHEMA = StructType([
    StructField("line_no", LongType(), False),
    StructField("child_id", LongType(), False),
    StructField("parent_id", LongType(), False),
])

RELATIONSHIP_ROWS_SCHEMA = StructType([
    StructField("sheet_index", IntegerType(), False),
    StructField("line_no", LongType(), False),
    StructField("node1_id", StringType(), True),
    StructField("node1_value", StringType(), True),
    StructField("node1_type", StringType(), True),
    StructField("node2_id", StringType(), True),
    StructField("node2_value", StringType(), True),
    StructField("node2_type", StringType(), True),
    StructField("relationship", StringType(), True),
])

PROPERTY_TYPES_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("property_types", ArrayType(StringType()), True),
    StructField("node_type", StringType(), True),
])

MAPPING_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("entity_id", LongType(), False),
])


def concepts(spark: SparkSession, n: int = 1000, seed: int = 42) -> DataFrame:
    """`concepts` fixture (FIXTURES.md §1): JSONL-shaped concept records
    with ~2% duplicate ids carrying DIFFERENT names (first-wins target)."""
    rng = random.Random(seed)
    rows, ids = [], []
    for i in range(n):
        cid = 100000 + i * 7 + rng.randint(0, 3)
        ids.append(cid)
        rows.append((
            i,
            cid,
            f"{rng.choice(NAME_STEMS)} {i}",
            rng.choice(SEMANTIC_TYPES),
            None if rng.random() < 0.1 else f"C{rng.randint(0, 9999999):07d}",
            "" if rng.random() < 0.2 else rng.choice(["exact", "fuzzy"]),
            f"description {i}",
            f"prop_{i}" if rng.random() < 0.3 else None,
        ))
    # ~2% duplicate ids with conflicting names — the LATER line must lose
    for j in range(n // 50):
        dup_of = rows[rng.randrange(len(ids))]
        rows.append((
            n + j, dup_of[1], f"CONFLICTING NAME {j}", dup_of[3],
            dup_of[4], dup_of[5], dup_of[6], dup_of[7],
        ))
    return spark.createDataFrame(rows, CONCEPTS_SCHEMA)


def concept_hierarchy(
    spark: SparkSession, concept_df: DataFrame, seed: int = 42
) -> DataFrame:
    """`concept_hierarchy` fixture (FIXTURES.md §2): a ~6-level DAG over
    concept ids, ~2% dangling endpoints, duplicate edges, and one 2-node
    cycle in the 900000+ id range (closure cycle-guard target)."""
    rng = random.Random(seed + 1)
    ids = [r.id for r in concept_df.select("id").distinct().collect()]
    ids.sort()
    rows = []
    line = 0
    # DAG: each node (except a root slice) gets 1-2 parents earlier in sort
    # order — guarantees acyclicity with depth ≈ log(n)
    for i, cid in enumerate(ids):
        if i < 10:
            continue
        for _ in range(rng.choice([1, 1, 2])):
            parent = ids[rng.randrange(0, max(1, i // 2))]
            rows.append((line, cid, parent))
            line += 1
    # duplicate edges (closure must still reach fixpoint)
    for dup in rng.sample(rows, 20):
        rows.append((line, dup[1], dup[2]))
        line += 1
    # dangling endpoints (~2%): ids outside the concept table
    for _ in range(len(rows) // 50):
        rows.append((line, rng.choice(ids), 999_999_000 + rng.randint(0, 99)))
        line += 1
        rows.append((line, 999_999_500 + rng.randint(0, 99), rng.choice(ids)))
        line += 1
    # explicit 2-node cycle, clearly-marked id range
    rows.append((line, 900001, 900002)); line += 1
    rows.append((line, 900002, 900001)); line += 1
    return spark.createDataFrame(rows, HIERARCHY_SCHEMA)


def relationship_rows(
    spark: SparkSession, rows_per_sheet: int = 40, seed: int = 42
) -> DataFrame:
    """`relationship_rows` fixture (FIXTURES.md §3): the flattened Excel
    union with per-sheet types/relationships from WORKSHEET_METADATA
    (trailing-space node2 types for sheets 13-17 kept verbatim), ~5% null
    node2_id, duplicate node ids with conflicting display values, and
    apostrophe-bearing names."""
    rng = random.Random(seed + 2)
    prefix_for = {
        "MedicationAPI": "API", "NeoplasmType": "NT", "Gene": "GEN",
        "SurgicalExtent": "SET", "SurgicalProcedureType": "SPT",
        "DiseaseType": "DDT", "Technique": "T", "MorphologyType": "MT",
        "Stage": "PVT", "Mechanism": "MOA", "BodyPart": "O",
        "Behavior": "DB", "MedicationClass": "TU", "OutcomeType": "OT",
    }
    rows = []
    for cfg in WORKSHEET_METADATA.values():
        if cfg.sheet_index == 18:
            continue  # no generated file in the snapshot
        p1 = prefix_for[cfg.node1_type.strip()]
        p2 = prefix_for[cfg.node2_type.strip()]
        # TREATS skew parity: the corpus is dominated by TREATS (3,210/3,790)
        n_rows = rows_per_sheet * (4 if cfg.relationship == "TREATS" else 1)
        for i in range(n_rows):
            node2_id = None if rng.random() < 0.05 else f"{p2}{rng.randint(1, 60)}"
            name1 = f"{rng.choice(NAME_STEMS)} {p1}{i}"
            rows.append((
                cfg.sheet_index, i,
                f"{p1}{rng.randint(1, 80)}", name1, cfg.node1_type,
                node2_id, f"value {p2} {i}", cfg.node2_type,
                cfg.relationship,
            ))
    return spark.createDataFrame(rows, RELATIONSHIP_ROWS_SCHEMA)


def concept_property_types(
    spark: SparkSession, concept_df: DataFrame, seed: int = 42
) -> DataFrame:
    """`concept_property_types` fixture (FIXTURES.md §4): per-concept
    deduped type arrays; node_type = first element (main.py:379-380)."""
    rng = random.Random(seed + 3)
    ids = [r.id for r in concept_df.select("id").distinct().collect()]
    rows = []
    for cid in ids:
        if rng.random() < 0.2:
            continue
        k = rng.randint(1, 5)
        types = rng.sample(PROPERTY_TYPE_VOCAB, k)
        rows.append((cid, types, types[0]))
    return spark.createDataFrame(rows, PROPERTY_TYPES_SCHEMA)


def concept_id_mapping(
    spark: SparkSession, concept_df: DataFrame, seed: int = 42
) -> DataFrame:
    """`concept_id_mapping` fixture (FIXTURES.md §5): ~90% coverage — the
    gap drives the anti-join 'not found' path (main.py:354-355)."""
    rng = random.Random(seed + 5)
    ids = sorted({r.id for r in concept_df.select("id").distinct().collect()})
    rows = [
        (cid, 7_000_000 + i)
        for i, cid in enumerate(ids)
        if rng.random() < 0.9
    ]
    return spark.createDataFrame(rows, MAPPING_SCHEMA)


def sheet_raw(spark: SparkSession, seed: int = 42) -> DataFrame:
    """`sheet_raw` prefix-scan fixture (FIXTURES.md §7): ordered rows where
    row k has a null key and NON-NULL rows exist after it — those must be
    excluded (stop-at-first-empty-key ≠ filter-nulls)."""
    rng = random.Random(seed + 6)
    fields = [StructField("line_no", LongType(), False)] + [
        StructField(f"col{i}", StringType(), True) for i in range(14)
    ]
    rows = []
    for ln in range(60):
        if ln == 40:
            vals = [None] + [f"r{ln}c{c}" for c in range(1, 14)]
        else:
            vals = [f"r{ln}c{c}" if rng.random() > 0.02 else None for c in range(14)]
            if vals[0] is None:
                vals[0] = f"r{ln}c0"  # only row 40 stops the scan
        rows.append(tuple([ln] + vals))
    return spark.createDataFrame(rows, StructType(fields))
