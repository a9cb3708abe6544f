"""Per-partition lineage/metrics emission (north_rule checkpoint contract).

The reference tracks per-conversion stats in usage_stats.json
(/root/reference/app.py:317,351; utils/formatters.py:104-132); at cluster
scale that becomes a metrics relation with one row per task partition:
(partition_id, doc_count, parse_failure_count, bytes_processed, ...),
committed alongside the output so a restarted job can prove which input
splits completed and anti-join the rest (exact checkpoint-resume).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T
from pyspark import TaskContext

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("bytes_processed", T.LongType(), False),
        T.StructField("min_url", T.StringType(), True),
        T.StructField("max_url", T.StringType(), True),
    ]
)


def partition_lineage(docs: DataFrame) -> DataFrame:
    """One row per partition of the *input* — (split id, doc count, bytes)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        docs_n = 0
        total_bytes = 0
        min_url = None
        max_url = None
        for pdf in batches:
            docs_n += len(pdf)
            total_bytes += int(pdf["html"].map(len).sum()) if len(pdf) else 0
            if len(pdf):
                lo, hi = pdf["url"].min(), pdf["url"].max()
                min_url = lo if min_url is None else min(min_url, lo)
                max_url = hi if max_url is None else max(max_url, hi)
        yield pd.DataFrame(
            [
                {
                    "partition_id": pid,
                    "doc_count": docs_n,
                    "bytes_processed": total_bytes,
                    "min_url": min_url,
                    "max_url": max_url,
                }
            ]
        )

    return docs.select("url", "html").mapInPandas(summarize, schema=LINEAGE_SCHEMA)


def extraction_lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage from the extracted table itself — the fused
    pass stamps (partition_id, payload_bytes, parse_failed) on every row, so
    the north-rule lineage relation (split id, doc count, parse-failure
    count, bytes processed) is a plain hash aggregate with NO second scan of
    the input. Computed over the *written* output it also certifies exactly
    which partitions committed (checkpoint-resume proof).

    TaskContext partition ids restart at 0 for every pass and every run, so
    when the table carries run/pass discriminators (stamped by
    jobs/extract_job.py) they join the grouping key — otherwise rows from the
    normal and oversized passes (or two resume runs) would conflate under the
    same partition_id."""
    keys = [c for c in ("run_id", "extract_pass") if c in extracted.columns] + ["partition_id"]
    return (
        extracted.groupBy(*keys)
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("parse_failure_count"),
            # PDFs whose digital parse failed and were ROUTED to the text
            # fallback (extraction still succeeded) — distinct from hard
            # parse_failed rows, per the north-rule failure accounting
            F.sum(F.when(F.col("method") == "pdf_parse_failed", 1).otherwise(0)).alias(
                "pdf_parse_failure_count"
            ),
            F.sum("payload_bytes").alias("bytes_processed"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        # one file sorted by key, without the range-sampling job and the
        # exchange of a global orderBy; one partition holds the relation,
        # which has a row per extraction task, not per document
        .coalesce(1)
        .sortWithinPartitions(*keys)
    )


def _metric_columns() -> list[Column]:
    """The job metrics, one aggregate each — the single definition behind
    both ``extraction_metrics`` and ``observe_metrics``."""
    return [
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("parse_failed"), 1).otherwise(0)).alias("parse_failures"),
        F.sum(F.when(F.col("method") == "pdf_parse_failed", 1).otherwise(0)).alias(
            "pdf_parse_failures"
        ),
        F.sum("pages").alias("pages"),
        F.sum("elements").alias("elements"),
        F.avg("quality_score").alias("avg_quality"),
        F.avg("confidence_score").alias("avg_confidence"),
        F.sum(F.when(F.col("gate_passed"), 1).otherwise(0)).alias("gate_passed_docs"),
        F.sum("captions_linked").alias("captions_linked"),
        F.sum("footnotes_linked").alias("footnotes_linked"),
        F.sum("noise_tagged").alias("noise_tagged"),
    ]


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Aggregate job metrics over the extracted table (relational — one pass)."""
    return extracted.agg(*_metric_columns())


def observe_metrics(extracted: DataFrame) -> tuple[DataFrame, Observation]:
    """``extracted`` with the ``extraction_metrics`` aggregates observed: the
    action that runs the returned DataFrame (the job's write) computes them
    on the rows it passes, with no Spark job of its own, and
    ``observation.get`` returns them afterwards as a dict."""
    metrics = Observation()
    return extracted.observe(metrics, *_metric_columns()), metrics
