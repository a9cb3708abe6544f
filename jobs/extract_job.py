"""spark-submit entry point for the extraction pipeline.

Usage (cluster):
    python jobs/make_pyfiles.py dist/deps.zip
    spark-submit --py-files dist/deps.zip jobs/extract_job.py \
        --input  <documents table path/URI> \
        --output <extracted table path>    \
        --lineage <lineage table path>     \
        [--resume]          # anti-join urls already present in --output
        [--partitions N]    # salted repartition width (default 2x parallelism)

A run makes one write per pass (normal, then oversized only when the input
holds a giant) and, with ``--lineage``, one re-read of the output to derive
the lineage table; nothing else. The oversized probe and the run metrics are
``Observation``s inside the normal pass's write, so they cost no Spark job of
their own. Each pass prints its metrics as one JSON line on stdout:
``{"extract_pass": ..., "run_id": ..., "docs": ..., "parse_failures": ...}``.
The metrics cover this run's rows; full-table totals are in the lineage table.

The package is pure Python (stdlib + pyspark/pandas/numpy which executors
already have), so the deps zip is all that ships — no native wheels
(SURVEY.md §4.1 item 7).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="extract documents to markdown")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--lineage", default=None)
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--cores", default=None, help="local[N] cores (local mode only)")
    args = parser.parse_args(argv)

    import uuid

    from pyspark.sql import Observation, functions as F, types as T

    from smoldocling_ocr_spark.operators.lineage import extraction_lineage, observe_metrics
    from smoldocling_ocr_spark.operators.pipeline import (
        EXTRACTED_SCHEMA,
        extract_documents,
        split_by_tier,
    )
    from smoldocling_ocr_spark.session import get_spark

    spark = get_spark(app_name="extract_job", cores=args.cores)

    # the output table's schema, declared on every re-read: no footer-merge
    # job, and a column that files of an older package version lack reads
    # as null, as mergeSchema would give
    output_schema = T.StructType(
        EXTRACTED_SCHEMA.fields
        + [T.StructField("run_id", T.StringType()), T.StructField("extract_pass", T.StringType())]
    )

    docs = spark.read.parquet(args.input)
    already = None
    if args.resume:
        try:
            already = spark.read.schema(output_schema).parquet(args.output).select("url")
        except Exception:
            already = None  # first run — nothing extracted yet

    # TaskContext partition ids restart at 0 per pass and per run; the
    # (run_id, extract_pass) stamp keeps lineage rows from distinct
    # passes/runs distinguishable under groupBy
    run_id = uuid.uuid4().hex[:12]

    def write_pass(pending, extract_pass: str, num_partitions: int | None) -> None:
        extracted = (
            extract_documents(pending, num_partitions=num_partitions, already_extracted=already)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("extract_pass", F.lit(extract_pass))
        )
        observed, metrics = observe_metrics(extracted)
        observed.write.mode("append").parquet(args.output)
        print(json.dumps({"extract_pass": extract_pass, "run_id": run_id, **metrics.get}), flush=True)

    # the normal pass's write also counts the oversized rows it filters out
    probe = Observation()
    normal, oversized = split_by_tier(docs, probe=probe)
    write_pass(normal, "normal", args.partitions)

    # dedicated low-parallelism pass for oversized payloads (north_rule),
    # only when the probe saw one
    if probe.get["oversized"]:
        write_pass(oversized, "oversized", 4)

    if args.lineage:
        # lineage over the WRITTEN table: certifies exactly which partitions
        # committed (north_rule checkpoint-resume), no second input scan.
        # overwrite, not append — the relation is derived from the FULL
        # output each run; appending would double-count rows already covered
        # by the previous run's aggregates
        result = spark.read.schema(output_schema).parquet(args.output)
        extraction_lineage(result).write.mode("overwrite").parquet(args.lineage)

    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
