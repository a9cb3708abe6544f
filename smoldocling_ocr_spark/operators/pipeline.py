"""The fused extraction pipeline (documents → extracted markdown).

Rebuild of the reference lifecycle (/root/reference/app.py:240-305 +
structure_engine.py:253-481 + enhanced_pipeline.py:223-257) as one Spark
stage: ``repartition(P, salted hash(url))`` → ``mapInPandas(extract_batch)``.
Parse → layout → noise → captions → render fuse into a single per-partition
Arrow pass so element rows never hit the shuffle (SURVEY.md §4.1 item 4) —
the only shuffle is the explicit salted repartition that breaks host-domain
skew, and the optional resume anti-join.

Scale design notes (100 TB / 10^12 docs):
  * the fused stage is embarrassingly parallel — wall clock scales with
    bytes/core; no stage barrier besides the input exchange
  * oversized payloads are size-tiered (``payload_tier``) so a handful of
    50 MB documents can be routed to a dedicated low-parallelism pass
    instead of stalling a batch (``split_by_tier``); the normal pass
    observes how many it routed away, so the job runs that pass only when
    there is one, without probing the input in a job of its own
  * checkpoint-resume is a ``left_anti`` join against the output table on
    url (the reference's md5-memo cache, re-expressed; app.py:242-249)
  * per-partition lineage (docs, bytes, parse failures) needs no second
    input scan: the same fused pass stamps (partition_id, payload_bytes)
    on every row and ``lineage.extraction_lineage`` aggregates the output;
    that re-read of the written table is the job's only one, because the
    run metrics are observed inside each pass's write
    (``lineage.observe_metrics``) and printed as one JSON line per pass
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from ..functions.extract import extract_document

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("document_id", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("method", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("pages", T.IntegerType(), True),
        T.StructField("elements", T.IntegerType(), True),
        T.StructField("quality_score", T.DoubleType(), True),
        T.StructField("confidence_score", T.DoubleType(), True),
        T.StructField("validation_errors", T.IntegerType(), True),
        T.StructField("validation_warnings", T.IntegerType(), True),
        T.StructField("hallucinations", T.IntegerType(), True),
        T.StructField("gate_passed", T.BooleanType(), True),
        T.StructField("gate_action", T.StringType(), True),
        T.StructField("quality_level", T.StringType(), True),
        T.StructField("captions_linked", T.IntegerType(), True),
        T.StructField("footnotes_linked", T.IntegerType(), True),
        T.StructField("noise_tagged", T.IntegerType(), True),
        T.StructField("parse_failed", T.BooleanType(), True),
        # lineage fields stamped by the same fused pass (north_rule: per-
        # partition doc/parse-failure/byte counts with NO second input scan —
        # lineage is a groupBy(partition_id) over the extracted table)
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
    ]
)

_OUT_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched worker: one python process handles whole batches; all
    per-document work happens in the deterministic functions/ core."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else -1
    for pdf in batches:
        rows: list[dict[str, Any]] = []
        for url, warc_ts, payload, text in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]
        ):
            try:
                res = extract_document(url, warc_ts, bytes(payload), text)
                res["parse_failed"] = False
            except Exception:
                # north_rule: record parse failures in lineage, never raise
                res = {"url": url, "parse_failed": True}
            res["partition_id"] = pid
            res["payload_bytes"] = len(payload)
            rows.append({col: res.get(col) for col in _OUT_COLS})
        yield pd.DataFrame(rows, columns=_OUT_COLS)


def with_salted_partitioning(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit salted repartition on hash(url) — breaks host-domain skew
    while keeping each document on exactly one partition (salt is a pure
    function of url, so groups stay intact; SURVEY.md §7.3 item 4)."""
    if num_partitions is None:
        num_partitions = docs.sparkSession.sparkContext.defaultParallelism * 2
    # full-entropy salted hash as the partition key — repartition applies its
    # own hash % P on top, so pre-reducing with pmod(…, P) here would throw P
    # distinct values into P bins (balls-in-bins collisions: empty partitions
    # + doubled ones). Leave the 64-bit value intact.
    key = F.xxhash64(F.col("url"), F.lit(0x5D0C))
    return docs.repartition(num_partitions, key)


def with_payload_tier(docs: DataFrame) -> DataFrame:
    """Size-tier the payload column: 0 ≤64KB, 1 ≤1MB, 2 ≤8MB, 3 oversized."""
    size = F.length(F.col("html"))
    tier = (
        F.when(size <= 64 * 1024, F.lit(0))
        .when(size <= 1024 * 1024, F.lit(1))
        .when(size <= 8 * 1024 * 1024, F.lit(2))
        .otherwise(F.lit(3))
    )
    return docs.withColumn("payload_tier", tier)


def split_by_tier(
    docs: DataFrame, oversized_tier: int = 3, probe: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """(normal, oversized) — route giants to a dedicated low-parallelism pass.

    With ``probe``, the normal side also counts the rows it filters out:
    after its action has run, ``probe.get["oversized"]`` says whether the
    oversized pass has anything to do, with no probe job of its own. The
    oversized side is built from the unobserved input, because an
    Observation can be used by one DataFrame only."""
    tiered = with_payload_tier(docs)
    big = F.col("payload_tier") >= oversized_tier
    scanned = tiered if probe is None else tiered.observe(probe, F.count_if(big).alias("oversized"))
    return (
        scanned.filter(F.col("payload_tier") < oversized_tier).drop("payload_tier"),
        tiered.filter(big).drop("payload_tier"),
    )


def resume_filter(docs: DataFrame, extracted: DataFrame | None) -> DataFrame:
    """Checkpoint-resume: drop urls already present in the output table.

    The broadcast hint is deliberately absent — at 10^12-document scale both
    sides are huge; AQE picks the join strategy, and the skew-join config
    handles hot domains."""
    if extracted is None:
        return docs
    return docs.join(extracted.select("url"), on="url", how="left_anti")


def extract_documents(
    docs: DataFrame,
    num_partitions: int | None = None,
    already_extracted: DataFrame | None = None,
    salt: bool = True,
) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted markdown table."""
    pending = resume_filter(docs.select("url", "warc_ts", "html", "text"), already_extracted)
    if salt:
        pending = with_salted_partitioning(pending, num_partitions)
    return pending.mapInPandas(_extract_batch, schema=EXTRACTED_SCHEMA)
