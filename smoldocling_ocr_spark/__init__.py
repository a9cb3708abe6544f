"""smoldocling_ocr_spark — a PySpark-native document-to-markdown extraction engine.

Brand-new engine (NOT a port) with the extraction capabilities of
nyimin/SmolDocling-OCR ("DocFlow"): a DataFrame job over a Common-Crawl-style
table ``documents(url, warc_ts, html, text, lang)`` that parses payloads into
ordered reading-flow element rows inside vectorized pandas/Arrow UDFs, then
reproduces the reference's deterministic pipeline (layout analysis, noise
tagging, caption/footnote linking, semantic annotation, schema enforcement,
validation) flattened to RAG-annotated Markdown.

Layout:
  functions/   pure-Python deterministic core (runs inside Arrow batches)
  sources/     table readers / corpus synthesis
  operators/   Spark DataFrame operators (pipeline, dedup, simsearch, ...)
  plans/       query catalog (queries() / oracle_sql() twins)
"""

__version__ = "0.1.0"
