"""Output checks: each job run's committed output is compared with what the
program must produce for the generated input."""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass
class Verdict:
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    digest: object = None  # what later runs of the same input must reproduce

    @property
    def ok(self) -> bool:
        return not self.problems


def reference_digests(rows: list[dict], step: int) -> dict[str, str | None]:
    """sha256 of ``extract_document``'s markdown for every ``step``-th row,
    computed in-process; None where it raises (the job marks parse_failed)."""
    from smoldocling_ocr_spark.functions.extract import extract_document

    out = {}
    for row in rows[::step]:
        try:
            md = extract_document(row["url"], row["warc_ts"], bytes(row["html"]), row["text"])["markdown"]
        except Exception:
            out[row["url"]] = None
            continue
        out[row["url"]] = hashlib.sha256(md.encode()).hexdigest()
    return out


def check_extract(
    out_dir: str, lineage_dir: str, urls: set[str], reference: dict[str, str | None], previous: dict | None
) -> Verdict:
    table = pq.read_table(out_dir, columns=["url", "markdown", "parse_failed"])
    got: dict[str, str | None] = {}
    for url, md, failed in zip(*(table.column(c).to_pylist() for c in ("url", "markdown", "parse_failed"))):
        got[url] = None if failed else hashlib.sha256(md.encode()).hexdigest()
    verdict = Verdict(attempted=len(urls), failed=sum(v is None for v in got.values()), digest=got)
    if table.num_rows != len(urls) or set(got) != urls:
        verdict.problems.append(f"docs out {table.num_rows} (distinct {len(got)}) != docs in {len(urls)}")
    lineage_docs = pc.sum(pq.read_table(lineage_dir, columns=["doc_count"]).column("doc_count")).as_py() or 0
    if lineage_docs != len(urls):
        verdict.problems.append(f"lineage doc total {lineage_docs} != docs in {len(urls)}")
    wrong = [u for u, h in reference.items() if got.get(u, "missing") != h]
    if wrong:
        verdict.problems.append(f"{len(wrong)} markdown sha256 differ from extract_document, e.g. {wrong[0]}")
    if previous is not None and previous != got:
        diff = sum(previous.get(u) != h for u, h in got.items())
        verdict.problems.append(f"{diff} docs differ from the first run's output")
    verdict.failed += len(wrong)
    return verdict


def check_curate(
    out_dir: str, doc_ids: set[int], exact_groups: list[list[int]], previous: str | None
) -> Verdict:
    from smoldocling_ocr_spark.operators.corpusops import BENCH_MOD, BENCH_REM

    curated = sorted(pq.read_table(f"{out_dir}/curated", columns=["doc_id"]).column("doc_id").to_pylist())
    digest = hashlib.sha256(",".join(map(str, curated)).encode()).hexdigest()
    verdict = Verdict(attempted=1, failed=0, digest=digest)
    kept = set(curated)
    if len(kept) != len(curated) or not kept <= doc_ids or not kept:
        verdict.problems.append("curated doc_ids are empty, repeated or not from the input")
    if any(d % BENCH_MOD == BENCH_REM for d in kept):
        verdict.problems.append("a held-out benchmark doc reached the curated output")
    if any(len(kept.intersection(g)) > 1 for g in exact_groups):
        verdict.problems.append("two exact duplicates both survived")
    components = pq.read_table(f"{out_dir}/components", columns=["doc_id"]).num_rows
    if components != len(doc_ids):
        verdict.problems.append(f"components rows {components} != docs in {len(doc_ids)}")
    if pq.read_table(f"{out_dir}/sequences", columns=["doc_id"]).num_rows == 0:
        verdict.problems.append("no training sequences written")
    if previous is not None and digest != previous:
        verdict.problems.append("curated doc_id set differs from the first run's")
    verdict.failed = int(bool(verdict.problems))
    return verdict


def corrupt(job: str, out_dir: str, url: str | None) -> None:
    """Damage one committed output row in place, so the checks must fire."""
    if job == "curate":
        for part in sorted(glob.glob(f"{out_dir}/curated/*.parquet")):
            table = pq.read_table(part)
            if table.num_rows:
                pq.write_table(table.slice(1), part)
                return
    for part in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        table = pq.read_table(part)
        urls = table.column("url").to_pylist()
        if url in urls:
            md = table.column("markdown").to_pylist()
            md[urls.index(url)] += "\n"
            i = table.schema.get_field_index("markdown")
            pq.write_table(table.set_column(i, "markdown", pa.array(md, pa.string())), part)
            return
