"""The traced pass: the benchmark's rows fed through the fused stage's batch
function in-process, with timing wrappers on the public entry points of each
extraction layer.

Spans (name, start, end, parent, doc) are kept in memory and written out as
JSON lines when the pass ends. A layer's self time is its spans' durations
minus the part covered by their child spans.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

PKG = "smoldocling_ocr_spark"

# traced entry points, grouped by layer; "module.*" means every public
# function defined in that module
LAYERS: dict[str, tuple[str, ...]] = {
    "decode": (
        "htmlstrip.extract_elements",
        "layoutcodec.decode_layout",
        "pdftext.extract_pdf_pages",
        "pdftext.pdf_info",
    ),
    "geometry": ("layout.analyze_page", "figures.detect_figure_regions"),
    "tagging": ("noise.tag_document_noise", "captions.link_document", "confidence.to_frontmatter_fields"),
    "render": ("annotate.render_page", "annotate.document_structure", "textnorm.*"),
    "language": ("langid.detect_language_pages",),
    "metadata": ("metadata.build_metadata", "schema_enforce.enforce_schema", "validate.*"),
}
ENTRIES = [e for group in LAYERS.values() for e in group]
METHODS = ("layout_ocr", "pdf_text", "html_dom", "text_layer", "pdf_parse_failed")
BATCH_ROWS = 256


def metric_key(entry: str) -> str:
    return entry.removesuffix(".*")


class Tracer:
    """In-memory span recorder; one per traced pass."""

    def __init__(self) -> None:
        self.spans: list[list[Any]] = []  # [name, start, end, parent, doc]
        self._stack: list[int] = []
        self.doc: str | None = None

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.doc])
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn: Callable, sets_doc: bool = False) -> Callable:
        def traced(*args, **kwargs):
            if sets_doc:
                self.doc = args[0]
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = {}
        for (name, start, end, _, _), covered in zip(self.spans, child):
            out[name] = out.get(name, 0.0) + (end - start - covered)
        return out

    def totals(self, name: str) -> float:
        return sum(end - start for n, start, end, _, _ in self.spans if n == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"fields": ["name", "start", "end", "parent", "doc"]}) + "\n")
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def _targets() -> list[tuple[str, Callable]]:
    """(metric key, function object) for every traced entry point."""
    import importlib

    out = []
    for entry in ENTRIES:
        mod_name, func = entry.split(".")
        mod = importlib.import_module(f"{PKG}.functions.{mod_name}")
        if func == "*":
            for attr, obj in vars(mod).items():
                if callable(obj) and not attr.startswith("_") and getattr(obj, "__module__", "") == mod.__name__:
                    out.append((metric_key(entry), obj))
        else:
            out.append((entry, getattr(mod, func)))
    return out


def _patch(tracer: Tracer) -> list[tuple[dict, str, Any]]:
    """Rebind every module-level name in the package that refers to a traced
    function (aliases such as ``extract.html_extract_elements`` included)."""
    from smoldocling_ocr_spark.functions import extract

    wrappers = {id(fn): tracer.wrap(key, fn) for key, fn in _targets()}
    wrappers[id(extract.extract_document)] = tracer.wrap("extract.extract_document", extract.extract_document, True)
    undo = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        space = vars(mod)
        for attr, obj in list(space.items()):
            if id(obj) in wrappers:
                undo.append((space, attr, obj))
                space[attr] = wrappers[id(obj)]
    return undo


def make_batches(rows: list[dict[str, Any]]) -> list[pd.DataFrame]:
    cols = ("url", "warc_ts", "html", "text")
    return [
        pd.DataFrame({c: [r[c] for r in rows[i : i + BATCH_ROWS]] for c in cols})
        for i in range(0, len(rows), BATCH_ROWS)
    ]


def _run(batches: list[pd.DataFrame], tracer: Tracer | None) -> tuple[float, list[pd.DataFrame]]:
    from smoldocling_ocr_spark.operators import pipeline

    out = []
    t0 = time.perf_counter()
    gen: Iterator[pd.DataFrame] = pipeline._extract_batch(iter(batches))
    while True:
        idx = tracer.open("pipeline._extract_batch") if tracer else -1
        try:
            out.append(next(gen))
        except StopIteration:
            break
        finally:
            if tracer:
                tracer.close(idx)
    return time.perf_counter() - t0, out


def markdown_digests(frames: list[pd.DataFrame]) -> dict[str, str | None]:
    """url -> sha256 of the markdown, None for a parse_failed row."""
    out = {}
    for pdf in frames:
        for url, md, failed in zip(pdf["url"], pdf["markdown"], pdf["parse_failed"]):
            out[url] = None if failed else hashlib.sha256(md.encode()).hexdigest()
    return out


def traced_pass(rows: list[dict[str, Any]], spans_path: str) -> tuple[dict[str, float], dict[str, str | None]]:
    """Per-layer metrics of one untraced and one traced pass over ``rows``
    on one core, plus the per-url markdown digests of the untraced pass."""
    batches = make_batches(rows)
    _run(batches[:1], None)  # imports and lazily built tables, outside all timings
    untraced_s, frames = _run(batches, None)

    tracer = Tracer()
    undo = _patch(tracer)
    try:
        traced_s, traced_frames = _run(batches, tracer)
    finally:
        for space, attr, obj in reversed(undo):
            space[attr] = obj
    tracer.write(spans_path)
    # untraced passes on both sides of the traced one, so that drift in host
    # speed during the pass does not read as negative overhead
    untraced_s = min(untraced_s, _run(batches, None)[0])

    docs = len(rows)
    self_s = tracer.self_times()
    metrics: dict[str, float] = {}
    named = 0.0
    for entry in ENTRIES:
        key = metric_key(entry)
        value = self_s.get(key, 0.0)
        named += value
        metrics[f"trace.{key}.self_s"] = value
        metrics[f"trace.{key}.ms_per_doc"] = value * 1000 / docs
    convert = tracer.totals("pipeline._extract_batch") - tracer.totals("extract.extract_document")
    metrics["pipeline.batch_convert_s"] = convert
    metrics["trace.extract_document.self_s"] = self_s.get("extract.extract_document", 0.0)
    metrics["trace.wall_s"] = traced_s
    metrics["trace.untraced_wall_s"] = untraced_s
    metrics["trace.coverage"] = (named + convert) / traced_s
    metrics["trace.overhead"] = 1 - untraced_s / traced_s
    metrics["trace.spans"] = float(len(tracer.spans))

    out = pd.concat(traced_frames, ignore_index=True)
    metrics["pipeline.batches"] = float(len(batches))
    for method in METHODS:
        metrics[f"extract.docs.{method}"] = float((out["method"] == method).sum())
    metrics["extract.docs.parse_failed"] = float(out["parse_failed"].sum())
    metrics["extract.pages"] = float(out["pages"].fillna(0).sum())
    metrics["extract.elements"] = float(out["elements"].fillna(0).sum())
    return metrics, markdown_digests(frames)
