"""End-to-end tests of the spark-submit job entries (jobs/extract_job.py,
jobs/curate_job.py).

The CLI runs twice in subprocesses (each owns its SparkSession — main()
calls spark.stop()): a fresh extraction, then a --resume re-run over the
same input, which must anti-join every url away and append nothing. This
is the checkpoint-resume contract from the north rule at job level.
The extract job also runs in-process on the test session, with stop()
patched out, to count the Spark jobs one run issues and to route a giant
payload through the oversized pass.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import subprocess
import sys
import uuid
import zipfile
from unittest import mock

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# local[N] width of the job runs: the host's cores, not a fixed count
CORES = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())


def _metric_lines(stdout: str) -> list[dict]:
    """The per-pass metrics the extract job prints, one JSON line each."""
    return [json.loads(line) for line in stdout.splitlines() if line.startswith("{")]


def _run_job(args: list[str]) -> list[dict]:
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "extract_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return _metric_lines(proc.stdout)


def _run_job_in_process(spark, args: list[str]) -> tuple[list[dict], list[int]]:
    """Run extract_job.main on the test session under a job group of its
    own, with SparkSession.stop patched out as the benchmark does. Returns
    the metrics lines it printed and the ids of the Spark jobs it ran."""
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        import extract_job
    finally:
        sys.path.pop(0)
    sc = spark.sparkContext
    group = f"extract_job-{uuid.uuid4().hex}"
    # the job's get_spark sets shuffle partitions on the shared session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    stdout = io.StringIO()
    sc.setJobGroup(group, "extract_job in process")
    try:
        with mock.patch.object(SparkSession, "stop", lambda self: None):
            with contextlib.redirect_stdout(stdout):
                extract_job.main(args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # every job start is in the status store
    return _metric_lines(stdout.getvalue()), list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.slow
def test_extract_job_cli_then_resume(spark, cc_docs, tmp_path):
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    lineage = str(tmp_path / "lineage")
    cc_docs.limit(10).write.parquet(inp)

    lines = _run_job(["--input", inp, "--output", out, "--lineage", lineage, "--cores", CORES])
    first = spark.read.parquet(out)
    assert first.count() == 10
    assert first.select("url").distinct().count() == 10
    assert spark.read.parquet(lineage).count() >= 1
    assert [(m["extract_pass"], m["docs"]) for m in lines] == [("normal", 10)]

    # resume over identical input: anti-join leaves nothing to extract, and
    # the run's metrics count only the rows this run wrote
    lines = _run_job(["--input", inp, "--output", out, "--resume", "--cores", CORES])
    again = spark.read.parquet(out)
    assert again.count() == 10, "resume run must not re-extract or duplicate"
    assert [(m["extract_pass"], m["docs"]) for m in lines] == [("normal", 0)]


def test_extract_job_spark_jobs_pinned(spark, cc_docs, tmp_path):
    """One run over an input with no giant issues at most 6 Spark jobs: the
    oversized probe and the run metrics are observed inside the write, and
    the lineage write is the only re-read of the output. The printed metrics
    count exactly the rows written."""
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    cc_docs.limit(10).write.parquet(inp)

    lines, jobs = _run_job_in_process(
        spark, ["--input", inp, "--output", out, "--lineage", out + "-lineage", "--cores", CORES]
    )
    assert 0 < len(jobs) <= 6, jobs
    written = spark.read.parquet(out)
    assert [m["extract_pass"] for m in lines] == ["normal"]
    assert lines[0]["docs"] == written.count() == 10
    assert written.filter("extract_pass = 'oversized'").count() == 0


def test_extract_job_oversized_pass(spark, cc_docs, tmp_path):
    """A payload over 8 MB makes the job run its oversized pass: the probe
    observed in the normal pass fires, the giant is written once under
    extract_pass='oversized', and lineage has a row for that pass."""
    from pyspark.sql import Row, functions as F

    giant = spark.createDataFrame(
        [
            Row(
                url="https://giant.example.com/big",
                warc_ts=dt.datetime(2024, 1, 1),
                html=bytearray(b"x" * (9 * 1024 * 1024)),
                text="fallback text for the oversized document. " * 8,
                lang="en",
            )
        ]
    )
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    lineage = str(tmp_path / "lineage")
    cc_docs.limit(4).unionByName(giant).write.parquet(inp)

    lines, _ = _run_job_in_process(
        spark, ["--input", inp, "--output", out, "--lineage", lineage, "--cores", CORES]
    )
    written = spark.read.parquet(out)
    assert written.count() == 5
    big = written.filter("extract_pass = 'oversized'").collect()
    assert [r["url"] for r in big] == ["https://giant.example.com/big"]
    assert [(m["extract_pass"], m["docs"]) for m in lines] == [("normal", 4), ("oversized", 1)]
    per_pass = {
        r["extract_pass"]: r["docs"]
        for r in spark.read.parquet(lineage).groupBy("extract_pass").agg(F.sum("doc_count").alias("docs")).collect()
    }
    assert per_pass == {"normal": 4, "oversized": 1}


def test_make_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)
    out = build(str(tmp_path / "deps.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "smoldocling_ocr_spark/__init__.py" in names
    assert any(n.endswith("operators/pipeline.py") for n in names)
    assert not any("__pycache__" in n for n in names)


@pytest.mark.slow
def test_spark_submit_pyfiles_cold(spark, cc_docs, tmp_path):
    """True deployment-path proof (north_rule: ships as spark-submit
    --py-files): build deps.zip, run the job via spark-submit from a neutral
    cwd with NO repo on PYTHONPATH — all package imports must resolve from
    the zip — and assert byte parity of the extracted markdown against the
    in-process pipeline on the same input."""
    import hashlib
    import shutil

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)

    deps = build(str(tmp_path / "deps.zip"))
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "extracted")
    cc_docs.limit(8).write.parquet(inp)

    submit = shutil.which("spark-submit")
    if submit is None:
        import pyspark

        submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", f"local[{CORES}]",
            "--py-files", deps,
            os.path.join(ROOT, "jobs", "extract_job.py"),
            "--input", inp,
            "--output", out,
            "--cores", CORES,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, (proc.stderr or proc.stdout)[-3000:]

    from smoldocling_ocr_spark.operators.pipeline import extract_documents

    got = {
        r["url"]: hashlib.sha256((r["markdown"] or "").encode()).hexdigest()
        for r in spark.read.option("mergeSchema", "true").parquet(out).select("url", "markdown").collect()
    }
    want = {
        r["url"]: hashlib.sha256((r["markdown"] or "").encode()).hexdigest()
        for r in extract_documents(spark.read.parquet(inp)).select("url", "markdown").collect()
    }
    assert got == want and len(got) == 8


def _run_curate(args: list[str]) -> None:
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "curate_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_curate_job_cli(spark, tmp_path):
    """End-to-end corpus-curation job (subprocess — main() owns and stops
    its session): components + curated + sequences tables written,
    deterministic across re-runs, duplicates collapsed."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    _run_curate(["--input", inp, "--output", out, "--cores", CORES])

    comps = spark.read.parquet(f"{out}/components")
    assert comps.count() == docs.count()
    curated = spark.read.parquet(f"{out}/curated")
    n_curated = curated.count()
    assert 0 < n_curated < docs.count()  # dedup + decon + sampling all bit
    # survivors are component minima only
    import pyspark.sql.functions as F

    heads = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    assert curated.join(heads, "doc_id", "left_anti").count() == 0
    seqs = spark.read.parquet(f"{out}/sequences")
    assert seqs.count() > 0 and set(seqs.select("shard").distinct().toPandas()["shard"]) <= set(range(16))

    # determinism: a re-run writes the identical curated set
    out2 = str(tmp_path / "curated2")
    _run_curate(["--input", inp, "--output", out2, "--cores", CORES])
    a = sorted(r.doc_id for r in curated.collect())
    b = sorted(r.doc_id for r in spark.read.parquet(f"{out2}/curated").collect())
    assert a == b


def test_curate_job_benchmark_duplicate_contaminates_twin(spark, tmp_path):
    """A training doc that duplicates a BENCHMARK doc must not ship: even
    when clustering removes the benchmark copy (min doc_id survives), the
    bench gram index is built from ALL input docs, so the surviving twin
    is flagged contaminated and dropped (review r5 finding). Short docs in
    the input must not crash any stage."""
    bench_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (6, bench_text, "en", "s", len(bench_text)),   # duplicate, survives CC (min id)
        (7, bench_text, "en", "s", len(bench_text)),   # benchmark doc (7 % 50 == 7)
        (1, "ok", "en", "s", 2),                       # sub-gram-width doc
        (2, "clean document with plenty of unique words here", "en", "s", 48),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "curated")
    _run_curate(["--input", inp, "--output", out, "--skip-sampling", "--cores", CORES])

    curated_ids = {r.doc_id for r in spark.read.parquet(f"{out}/curated").collect()}
    assert 6 not in curated_ids  # the benchmark's twin is contaminated
    assert 7 not in curated_ids  # the benchmark itself is held out
    assert 2 in curated_ids
