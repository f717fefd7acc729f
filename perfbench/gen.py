"""Seeded input generator for the three benchmark workloads.

Everything is derived from one integer seed: the same seed writes the
same files, byte for byte. The program under test only ever sees the
files written here, in the reference's formats:

* ``ontology_build`` — concepts and hierarchy as JSONL, the
  relationship spreadsheets as one ``.xlsx`` workbook (one sheet per
  ``WORKSHEET_METADATA`` entry, columns at the sheet's ordinals), the
  concept-id mapping table as JSONL and the enrichment service's
  responses as a JSON snapshot.
* ``ingest_loop`` — a seeded split of the ``documents`` table: a
  reference corpus (parquet) that the stores are built from, and
  ``n_batches`` micro-batch files. Each batch mixes held-out documents
  with edited re-sends of corpus documents and of earlier batches'
  documents.
* ``event_stream`` — a seeded time slice of the ``events`` table cut by
  event time into ``n_files`` parquet files, with duplicate
  re-deliveries and out-of-order events that stay within the watermark.

Both tables are copies of the sf0.1 test data (``data/documents.parquet``:
5,000 documents of 10-100 words; ``data/events.parquet``: 100,000
events over 30 days from 1,500 users).
"""

from __future__ import annotations

import json
import os
import random

from ontology_graph_etl_spark import fixtures
from ontology_graph_etl_spark.sources.tabular import WORKSHEET_METADATA
from ontology_graph_etl_spark.sources.xlsx import write_xlsx

PROPERTY_DETAILS = ("rest", "obs", "hist")


def _write_jsonl(path: str, rows) -> int:
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False))
            f.write("\n")
            n += 1
    return n


# --------------------------------------------------------------------------
# ontology_build
# --------------------------------------------------------------------------


def sheet_width(cfg) -> int:
    return 1 + max(
        cfg.column_node1_value,
        cfg.column_node1_id,
        cfg.column_node2_value,
        cfg.column_node2_id,
    )


def sheet_name(sheet_index: int) -> str:
    return f"sheet{sheet_index}"


def ontology_inputs(
    spark, out_dir: str, seed: int, n_concepts: int, rows_per_sheet: int
) -> dict:
    """Write the ontology job's inputs; returns their paths and row
    counts. Tables come from ``fixtures`` (the reference's shapes with
    its adversarial rows), serialized to the reference's file formats."""
    os.makedirs(out_dir, exist_ok=True)
    concept_df = fixtures.concepts(spark, n=n_concepts, seed=seed)
    concepts = sorted(concept_df.collect(), key=lambda r: r.line_no)
    hierarchy = sorted(
        fixtures.concept_hierarchy(spark, concept_df, seed=seed).collect(),
        key=lambda r: r.line_no,
    )
    rel_rows = fixtures.relationship_rows(
        spark, rows_per_sheet=rows_per_sheet, seed=seed
    ).collect()
    mapping = sorted(
        fixtures.concept_id_mapping(spark, concept_df, seed=seed).collect(),
        key=lambda r: r.id,
    )
    paths = {
        "concepts": os.path.join(out_dir, "concepts.jsonl"),
        "hierarchy": os.path.join(out_dir, "concept_hierarchy.jsonl"),
        "workbook": os.path.join(out_dir, "relationships.xlsx"),
        "mapping": os.path.join(out_dir, "concept_id_mapping.jsonl"),
        "snapshot": os.path.join(out_dir, "enrichment_snapshot.json"),
    }
    counts = {
        "concepts": _write_jsonl(
            paths["concepts"],
            (
                {k: v for k, v in r.asDict().items() if k != "line_no"}
                for r in concepts
            ),
        ),
        "hierarchy": _write_jsonl(
            paths["hierarchy"],
            ({"child_id": r.child_id, "parent_id": r.parent_id} for r in hierarchy),
        ),
        "mapping": _write_jsonl(
            paths["mapping"],
            ({"id": r.id, "entity_id": r.entity_id} for r in mapping),
        ),
    }

    # one sheet per config; header row, then data rows with each value
    # at the sheet's own column ordinal (sheet 2 and 4 are non-default)
    by_sheet: dict[int, list] = {}
    for r in sorted(rel_rows, key=lambda r: (r.sheet_index, r.line_no)):
        by_sheet.setdefault(r.sheet_index, []).append(r)
    sheets = {}
    for idx, rows in by_sheet.items():
        cfg = WORKSHEET_METADATA[idx]
        width = sheet_width(cfg)
        header = [f"col{c}" for c in range(width)]
        body = []
        for r in rows:
            cells = [None] * width
            cells[cfg.column_node1_value] = r.node1_value
            cells[cfg.column_node1_id] = r.node1_id
            cells[cfg.column_node2_value] = r.node2_value
            cells[cfg.column_node2_id] = r.node2_id
            body.append(cells)
        sheets[sheet_name(idx)] = [header] + body
    write_xlsx(paths["workbook"], sheets)
    counts["relationship_rows"] = len(rel_rows)

    # enrichment service responses: ~90% of concepts answer, 1-5
    # "Type:detail" strings each (the reference's response shape)
    rng = random.Random(seed * 7919 + 11)
    snapshot = {}
    for cid in sorted({r.id for r in concepts}):
        if rng.random() < 0.1:
            continue
        snapshot[str(cid)] = [
            f"{rng.choice(fixtures.PROPERTY_TYPE_VOCAB)}:"
            f"{rng.choice(PROPERTY_DETAILS)}"
            for _ in range(rng.randint(1, 5))
        ]
    with open(paths["snapshot"], "w", encoding="utf-8") as f:
        json.dump(snapshot, f, sort_keys=True)
    counts["snapshot"] = len(snapshot)
    return {"paths": paths, "counts": counts}


# --------------------------------------------------------------------------
# ingest_loop
# --------------------------------------------------------------------------

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DOCUMENTS = os.path.join(DATA, "documents.parquet")
EVENTS = os.path.join(DATA, "events.parquet")
#: first id of the batch documents (the table's own ids are below 5,000)
BATCH_ID0 = 1_000_000


def _edit(rng: random.Random, text: str) -> str:
    """A light re-send edit: one word of the text appended, so the copy
    keeps ``n`` of its ``n + 1`` word 3-shingles (Jaccard >= 8/9 for
    the table's shortest, 10-word documents)."""
    return f"{text} {rng.choice(text.split())}"


def ingest_inputs(
    out_dir: str,
    seed: int,
    n_corpus: int,
    n_batches: int,
    batch_size: int,
    resend_corpus_frac: float,
    resend_batch_frac: float,
) -> dict:
    """Write the reference corpus and the micro-batch files.

    The seed shuffles the ``documents`` table: the first ``n_corpus``
    documents are the corpus, and the batches draw their fresh
    documents, in order, from the rest. A share of each batch re-sends
    an edited copy of a corpus document or of an earlier batch's fresh
    document, which must be flagged near-duplicate. Batch documents get
    new ids from ``BATCH_ID0`` on; ``resends`` maps every re-sent doc id
    to the id it copies, so the benchmark can check the verdicts."""
    import pandas as pd

    rng = random.Random(seed * 104729 + 3)
    os.makedirs(out_dir, exist_ok=True)
    docs = pd.read_parquet(DOCUMENTS).sort_values("doc_id").to_dict("records")
    rng.shuffle(docs)
    corpus = sorted(docs[:n_corpus], key=lambda d: d["doc_id"])
    held_out = iter(docs[n_corpus:])
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    pd.DataFrame(corpus).to_parquet(corpus_path, index=False)

    batch_paths, resends = [], {}
    sent: list[dict] = []  # earlier batches' fresh docs
    next_id = BATCH_ID0
    for b in range(n_batches):
        docs = []
        for _ in range(batch_size):
            u = rng.random()
            if u < resend_corpus_frac:
                src = rng.choice(corpus)
            elif u < resend_corpus_frac + resend_batch_frac and sent:
                src = rng.choice(sent)
            else:
                src = None
            if src is None:
                d = dict(next(held_out), doc_id=next_id)
            else:
                text = _edit(rng, src["text"])
                d = dict(src, doc_id=next_id, text=text, n_chars=len(text))
                resends[next_id] = src["doc_id"]
            docs.append(d)
            next_id += 1
        sent.extend(d for d in docs if d["doc_id"] not in resends)
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        pd.DataFrame(docs).to_parquet(path, index=False)
        batch_paths.append(path)
    return {
        "corpus": corpus_path,
        "corpus_ids": [d["doc_id"] for d in corpus],
        "batches": batch_paths,
        "resends": resends,
        "n_corpus": n_corpus,
    }


# --------------------------------------------------------------------------
# event_stream
# --------------------------------------------------------------------------


def event_inputs(
    out_dir: str,
    seed: int,
    days: int,
    n_files: int,
    dup_frac: float,
    late_frac: float,
    max_late_s: int,
) -> dict:
    """Write a seeded ``days``-day slice of the ``events`` table as
    ``n_files`` parquet files cut by event time. ``dup_frac`` of events
    are re-delivered (same event id and timestamp) in the same or the
    next file; ``late_frac`` arrive in the file after their own, at most
    ``max_late_s`` behind the previous file's newest event -- inside the
    watermark, so no window drops them."""
    import pandas as pd

    rng = random.Random(seed * 15485863 + 5)
    os.makedirs(out_dir, exist_ok=True)
    table = pd.read_parquet(EVENTS)
    day0 = table["ts"].min().normalize()
    n_days = (table["ts"].max().normalize() - day0).days + 1
    t0 = day0 + pd.Timedelta(days=rng.randrange(n_days - days + 1))
    t1 = t0 + pd.Timedelta(days=days)
    base = (
        table[(table["ts"] >= t0) & (table["ts"] < t1)]
        .sort_values(["ts", "event_id"])
        .to_dict("records")
    )
    width = pd.Timedelta(days=days) / n_files
    files: list[list[dict]] = [[] for _ in range(n_files)]
    n_late = n_dup = 0
    for e in base:
        k = min(n_files - 1, int((e["ts"] - t0) // width))
        # only events within max_late_s of their file's end may slip
        # into the next file, so every slip stays inside the watermark
        can_slip = (
            k + 1 < n_files
            and (t0 + (k + 1) * width - e["ts"]).total_seconds() <= max_late_s
        )
        late = can_slip and rng.random() < late_frac
        files[k + 1 if late else k].append(e)
        n_late += late
        if rng.random() < dup_frac:
            j = k + 1 if can_slip and rng.random() < 0.5 else k
            files[j].append(dict(e))
            n_dup += 1
    paths = []
    for k, rows in enumerate(files):
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"events_{k:03d}.parquet")
        pd.DataFrame(rows, columns=list(table.columns)).astype(
            {"ts": "datetime64[us]"}
        ).to_parquet(path, index=False)
        paths.append(path)
    return {
        "files": paths,
        "start": str(t0),
        "n_events": len(base),
        "file_rows": [len(f) for f in files],
        "n_delivered": sum(len(f) for f in files),
        "n_dup": n_dup,
        "n_late": n_late,
    }
