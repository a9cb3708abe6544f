"""Seeded inputs for the three benchmark workloads.

Every input is a pure function of ``(workload, seed, docs)``: the extraction
workloads draw rows from the repo's own CC-mix generator
(``sources/corpus.generate_rows``), and the curation workload draws a
``(doc_id, text, lang)`` table with a stated share of exact and near
duplicates. The programs under test only ever see the parquet files written
here.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

# url path segments that `generate_rows` stamps on each doc kind
WEB_KINDS = ("html", "text")

# curation table shape: tens of words per doc, like the testdata documents
# table, over a vocabulary wide enough that unrelated docs share no shingles
CURATE_VOCAB = 600
CURATE_WORDS = (20, 80)
CURATE_LANGS = (("en", 0.40), ("fr", 0.15), ("es", 0.15), ("de", 0.15), ("zh", 0.15))
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10

# rows per parquet file: several input splits, as a real scan has
ROWS_PER_FILE = 250


@dataclass
class Workload:
    name: str
    job: str  # "extract" or "curate"
    default_docs: int


# why each exists: README.md and BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_mix", "extract", 1200),
        Workload("extract_web", "extract", 1200),
        Workload("curate_dedup", "curate", 1000),
    )
}


@dataclass
class Inputs:
    """Generated rows plus the facts the host record prints about them."""

    rows: list[dict[str, Any]]
    facts: dict[str, Any]
    exact_groups: list[list[int]] = field(default_factory=list)


def _corpus_rows(n: int, seed: int, kinds: tuple[str, ...] | None) -> list[dict[str, Any]]:
    from smoldocling_ocr_spark.sources.corpus import generate_rows

    if kinds is None:
        return generate_rows(n, seed=seed)
    rows: list[dict[str, Any]] = []
    cursor = 0
    while len(rows) < n:
        chunk = generate_rows(256, seed=seed, start=cursor)
        cursor += 256
        rows.extend(r for r in chunk if r["url"].split("/")[3] in kinds)
    return rows[:n]


def _curate_rows(n: int, seed: int) -> tuple[list[dict[str, Any]], list[list[int]], int]:
    """Rows, the exact-duplicate groups (doc_ids sharing one text), and the
    number of near duplicates (a copy with one word replaced)."""
    rng = random.Random(seed * 7_919 + 13)
    vocab = [f"w{i:03d}" for i in range(CURATE_VOCAB)]
    langs, weights = zip(*CURATE_LANGS)
    rows: list[dict[str, Any]] = []
    groups: dict[int, list[int]] = {}
    near = 0
    for doc_id in range(n):
        roll = rng.random()
        if rows and roll < EXACT_DUP_SHARE:
            src = rng.choice(rows)
            text, lang = src["text"], src["lang"]
            groups.setdefault(src["origin"], [src["origin"]]).append(doc_id)
            origin = src["origin"]
        elif rows and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rng.choice(rows)
            words = src["text"].split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
            text, lang, origin = " ".join(words), src["lang"], doc_id
            near += 1
        else:
            k = rng.randint(*CURATE_WORDS)
            text = " ".join(rng.choice(vocab) for _ in range(k))
            lang = rng.choices(langs, weights)[0]
            origin = doc_id
        rows.append({"doc_id": doc_id, "text": text, "lang": lang, "origin": origin})
    return rows, list(groups.values()), near


def make_inputs(workload: Workload, seed: int, docs: int) -> Inputs:
    if workload.job == "curate":
        rows, groups, near = _curate_rows(docs, seed)
        words = sum(len(r["text"].split(" ")) for r in rows)
        exact = sum(len(g) - 1 for g in groups)
        return Inputs(
            rows=rows,
            exact_groups=groups,
            facts={
                "docs": len(rows),
                "payload_bytes": sum(len(r["text"].encode()) for r in rows),
                "words_per_doc": round(words / max(len(rows), 1), 2),
                "duplicate_share": {
                    "exact": round(exact / max(len(rows), 1), 4),
                    "near": round(near / max(len(rows), 1), 4),
                },
            },
        )
    kinds = WEB_KINDS if workload.name == "extract_web" else None
    rows = _corpus_rows(docs, seed, kinds)
    mix: dict[str, int] = {}
    for r in rows:
        kind = r["url"].split("/")[3]
        mix[kind] = mix.get(kind, 0) + 1
    words = sum(len((r["text"] or "").split()) for r in rows)
    return Inputs(
        rows=rows,
        facts={
            "docs": len(rows),
            "payload_bytes": sum(len(r["html"]) for r in rows),
            "words_per_doc": round(words / max(len(rows), 1), 2),
            "duplicate_share": 0.0,
            "mix": mix,
        },
    )


def write_parquet(inputs: Inputs, job: str, path: str) -> None:
    """Write the rows as a multi-file parquet dataset at ``path``."""
    os.makedirs(path, exist_ok=True)
    rows = inputs.rows
    for i in range(0, len(rows), ROWS_PER_FILE):
        chunk = rows[i : i + ROWS_PER_FILE]
        if job == "curate":
            table = pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in chunk], type=pa.int64()),
                    "text": [r["text"] for r in chunk],
                    "lang": [r["lang"] for r in chunk],
                }
            )
        else:
            table = pa.table(
                {
                    "url": [r["url"] for r in chunk],
                    "warc_ts": pa.array([r["warc_ts"] for r in chunk], type=pa.timestamp("us")),
                    "html": pa.array([r["html"] for r in chunk], type=pa.binary()),
                    "text": [r["text"] for r in chunk],
                    "lang": [r["lang"] for r in chunk],
                }
            )
        pq.write_table(table, os.path.join(path, f"part-{i // ROWS_PER_FILE:05d}.parquet"))
