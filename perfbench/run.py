"""Benchmark of the repo's two user-facing jobs, jobs/extract_job.py and
jobs/curate_job.py, on one local[nproc] Spark session.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 20 --trace 0

A closed loop: one job run at a time, from this one driver process, until
``--seconds`` have been measured. Inputs are generated from ``--seed``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. Every job run's output is checked; the last stdout line is the JSON
result, and the exit code is non-zero when a check failed. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path
from unittest import mock

ROOT = Path(__file__).resolve().parents[1]

SETUPS = 2  # set-ups per --trace 0 run; setup_s is their median
MIN_RUNS = 4  # timed job runs per run, however long each takes
JVM_HEAP = "1g"  # fixed and pre-touched, so RSS does not follow heap-growth heuristics
SAMPLE_DOCS = 200  # reference docs checked against extract_document per run

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "wall_s": "s",
    "cpu_ms_per_doc": "ms",
    "setup_s": "s",
    "rss_peak_mb": "MB",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None, help="input docs (default: the workload's size)")
    p.add_argument(
        "--corrupt-output",
        action="store_true",
        help="damage the first run's committed output before its check (tests the checks)",
    )
    return p.parse_args(argv)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM the launch starts: temp files under work, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    sys.path.insert(0, str(ROOT))


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", ROOT / "jobs" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _quartiles(values: list[float]) -> dict[str, float]:
    if len(values) < 2:
        return {"q1": values[0], "median": values[0], "q3": values[0]}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": med, "q3": q3}


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.workload = WORKLOADS[args.workload]
        self.docs = args.docs or self.workload.default_docs
        self.cores = len(os.sched_getaffinity(0))
        self.job = _load_job(f"{self.workload.job}_job")
        self.spark = None
        self.inputs = None
        self.record: dict = {"loadavg": [], "steal_frac": []}

    # ------------------------------------------------------------ set-up

    def _start_session(self):
        from smoldocling_ocr_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
            },
        )

    def set_up(self, count: int) -> list[float]:
        """Session start, input generation and one warm-up job run, ``count``
        times; each set-up after the first stops the Spark context and starts
        a new one in the same JVM."""
        from workloads import make_inputs, write_parquet

        samples = []
        for _ in range(count):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._start_session()
            self.inputs = make_inputs(self.workload, self.args.seed, self.docs)
            write_parquet(self.inputs, self.workload.job, str(self.work / "input"))
            self._job(self.work / "input", self.work / "warm-out")
            samples.append(time.perf_counter() - t0)
            shutil.rmtree(self.work / "warm-out", ignore_errors=True)
            shutil.rmtree(self.work / "warm-out-lineage", ignore_errors=True)
        return samples

    # ------------------------------------------------------------ job runs

    def _job(self, input_dir: Path, out_dir: Path) -> None:
        from pyspark.sql import SparkSession

        argv = ["--input", str(input_dir), "--output", str(out_dir), "--cores", str(self.cores)]
        if self.workload.job == "extract":
            argv += ["--lineage", str(out_dir) + "-lineage"]
        # the jobs stop their session when done; keep it warm for the next run
        with mock.patch.object(SparkSession, "stop", lambda self: None):
            with contextlib.redirect_stdout(io.StringIO()):
                self.job.main(argv)

    def _extra_spans(self) -> dict:
        if self.workload.job != "curate":
            return {}
        from smoldocling_ocr_spark.operators import corpusops

        return {(corpusops, "connected_components"): "connected_components"}

    def timed_run(self, i: int) -> dict:
        """One job run over the input: wall, CPU, peak RSS, action times."""
        import probes

        sc = self.spark.sparkContext
        group = f"perfbench-{i}"
        sc.setJobGroup(group, f"timed run {i}")
        since_ms = int(time.time() * 1000) - 1
        execution_mark = probes.sql_watermark(self.spark) if self.args.trace else -1
        out_dir = self.work / f"out-{i}"
        load_before = os.getloadavg()[0]
        steal0, total0 = probes.host_ticks()
        actions: list[probes.Action] = []
        self.sampler.reset()
        cpu0 = probes.tree_cpu_s(self.jvm_pid)
        with probes.timed_actions(actions, self._extra_spans()):
            self._job(self.work / "input", out_dir)
        cpu1 = probes.tree_cpu_s(self.jvm_pid)
        rss = self.sampler.peak
        sc.setJobGroup("perfbench-idle", "between runs")
        steal1, total1 = probes.host_ticks()
        self.record["loadavg"].append([load_before, os.getloadavg()[0]])
        self.record["steal_frac"].append((steal1 - steal0) / max(total1 - total0, 1))
        top = [a for a in actions if a.depth == 0]
        wall = max(a.end for a in top) - min(a.start for a in top)
        run = {
            "out": out_dir,
            "wall_s": wall,
            "docs_per_s": self.docs / wall,
            "cpu_ms_per_doc": (cpu1 - cpu0) * 1000 / self.docs,
            "rss_peak_mb": rss,
        }
        if self.args.trace:
            run["layers"] = {
                **probes.spark_counters(self.spark, group, since_ms, execution_mark, wall, self.cores),
                **self._action_metrics(actions, out_dir),
            }
        return run

    def _action_metrics(self, actions, out_dir: Path) -> dict[str, float]:
        m = dict.fromkeys(ACTION_METRICS, 0.0)
        out = str(out_dir)
        for a in actions:
            if a.kind == "connected_components":
                m["corpusops.connected_components_s"] += a.seconds
            elif a.kind == "localCheckpoint" and a.depth > 0:
                if a.arg == "eager":
                    m["dedup.lsh_bands_s"] += a.seconds
                else:
                    m["corpusops.cc_rounds"] += 1
            elif a.depth > 0:
                continue
            elif a.kind == "parquet" and self.workload.job == "curate":
                m[f"curate.{Path(a.arg).name}_write_s"] += a.seconds
            elif a.kind == "parquet":
                m["job.lineage_write_s" if a.arg == out + "-lineage" else "job.write_s"] += a.seconds
            elif a.kind == "count":
                m["curate.counts_s" if self.workload.job == "curate" else "job.oversized_probe_s"] += a.seconds
            elif a.kind == "show":
                m["job.metrics_s"] += a.seconds
        return m

    # ------------------------------------------------------------ checks

    def check(self, run: dict, first: object) -> "checks.Verdict":
        import checks

        out = str(run["out"])
        if self.workload.job == "curate":
            ids = {r["doc_id"] for r in self.inputs.rows}
            return checks.check_curate(out, ids, self.inputs.exact_groups, first)
        urls = {r["url"] for r in self.inputs.rows}
        return checks.check_extract(out, out + "-lineage", urls, self.reference, first)

    # ------------------------------------------------------------ the run

    def run(self) -> dict:
        import checks
        import probes
        import tracing

        trace = bool(self.args.trace)
        setups = self.set_up(1 if trace else SETUPS)
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        layers: dict[str, float] = {}
        if self.workload.job == "extract":
            if trace:
                spans = ROOT / ".perfbench_work" / "traces"
                spans.mkdir(parents=True, exist_ok=True)
                path = spans / f"{self.workload.name}-seed{self.args.seed}.jsonl"
                layers, self.reference = tracing.traced_pass(self.inputs.rows, str(path))
            else:
                step = max(1, len(self.inputs.rows) // SAMPLE_DOCS)
                self.reference = checks.reference_digests(self.inputs.rows, step)

        runs, verdicts = [], []
        attempted = failed = 0
        first = None
        t0 = time.perf_counter()
        with probes.RssSampler(self.jvm_pid) as self.sampler:
            while True:
                start = time.perf_counter()
                i = len(runs)
                try:
                    run = self.timed_run(i)
                    if self.args.corrupt_output and i == 0:
                        url = next(iter(self.reference)) if self.workload.job == "extract" else None
                        checks.corrupt(self.workload.job, str(run["out"]), url)
                    verdict = self.check(run, first)
                except Exception as exc:  # a failed job run is a failed operation
                    traceback.print_exc()
                    run, verdict = None, checks.Verdict(attempted=1, failed=1, problems=[repr(exc)])
                attempted += verdict.attempted
                failed += verdict.failed
                verdicts.append(verdict.problems)
                if run is not None:
                    first = verdict.digest if first is None else first
                    shutil.rmtree(run["out"], ignore_errors=True)
                    shutil.rmtree(str(run["out"]) + "-lineage", ignore_errors=True)
                    runs.append(run)
                else:
                    break
                elapsed = time.perf_counter() - t0
                last = time.perf_counter() - start
                if len(runs) >= MIN_RUNS and elapsed + last > self.args.seconds:
                    break

        correct = bool(runs) and not any(verdicts)
        samples = {name: [r[name] for r in runs] for name in E2E_UNITS if name != "setup_s"}
        samples["setup_s"] = setups
        if trace:
            per_run = {k: statistics.median(r["layers"][k] for r in runs) for k in runs[0]["layers"]} if runs else {}
            layers = {**zero_layers(), **per_run, **layers}
            metrics = {k: (v, layer_unit(k)) for k, v in layers.items()}
        else:
            metrics = {k: (statistics.median(v), E2E_UNITS[k]) for k, v in samples.items() if v}
        self.record.update(
            samples={k: {"n": len(v), **_quartiles(v), "values": v} for k, v in samples.items() if v},
            problems=[p for v in verdicts for p in v],
        )
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None


ACTION_METRICS = (
    "job.write_s",
    "job.oversized_probe_s",
    "job.lineage_write_s",
    "job.metrics_s",
    "dedup.lsh_bands_s",
    "corpusops.connected_components_s",
    "corpusops.cc_rounds",
    "curate.components_write_s",
    "curate.curated_write_s",
    "curate.sequences_write_s",
    "curate.counts_s",
)


def layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    import tracing

    names = []
    for entry in tracing.ENTRIES:
        key = tracing.metric_key(entry)
        names += [f"trace.{key}.self_s", f"trace.{key}.ms_per_doc"]
    names += [
        "trace.extract_document.self_s",
        "pipeline.batch_convert_s",
        "trace.wall_s",
        "trace.untraced_wall_s",
        "trace.coverage",
        "trace.overhead",
        "trace.spans",
        "pipeline.batches",
        *(f"extract.docs.{m}" for m in tracing.METHODS),
        "extract.docs.parse_failed",
        "extract.pages",
        "extract.elements",
        "spark.python.run_s",
        "spark.python.boot_s",
        "spark.python.init_s",
        "spark.python.bytes_sent",
        "spark.python.bytes_received",
        "spark.exchanges",
        "spark.shuffle.bytes_written",
        "spark.jobs",
        "spark.tasks",
        "spark.task.run_s",
        "spark.gc_s",
        "spark.task.max_over_median",
        "spark.idle_core_s",
        *ACTION_METRICS,
    ]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("ms_per_doc"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.startswith("spark.python.bytes") or name == "spark.shuffle.bytes_written":
        return "bytes"
    if name in ("trace.coverage", "trace.overhead", "spark.task.max_over_median"):
        return "ratio"
    return "count"


def zero_layers() -> dict[str, float]:
    """Layers a workload does not exercise read 0 (e.g. the traced extraction
    pass on curate_dedup, or the curate actions on extraction)."""
    return dict.fromkeys(layer_names(), 0.0)


def host_facts(args: argparse.Namespace) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # a terminated run still stops the JVM it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "smoldocling_ocr_spark" / "__init__.py").is_file() or not (ROOT / "jobs").is_dir():
        print(f"perfbench: no smoldocling_ocr_spark package or jobs/ under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    _prepare_env(work)
    record = {"host": host_facts(args)}
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    record["host"]["inputs"] = bench.inputs.facts if bench.inputs else None
    record["host"].update(bench.record)
    print(json.dumps(record, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
