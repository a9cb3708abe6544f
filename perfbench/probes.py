"""Measurements taken from outside the package: /proc process-tree CPU and
RSS, timers around the DataFrame actions the jobs issue, and counters read
from Spark's own status stores."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- /proc tree


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces; field 3 onwards follow its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(name)] = (int(fields[1]), ticks, int(fields[21]))
    return table


def _tree(table: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(children.get(pid, ()))
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, reaped ones included."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root)) / _TICK


def tree_rss_mb(root: int) -> float:
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table, root)) * _PAGE / 2**20


class RssSampler:
    """Background sampler of the summed RSS of a process tree."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak = tree_rss_mb(self.root)

    def __enter__(self) -> "RssSampler":
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- action timers


@dataclass
class Action:
    kind: str  # "parquet", "count", "show", "localCheckpoint", or an extra span kind
    arg: str  # parquet: output path; localCheckpoint: "eager" or "lazy"
    depth: int  # 0 for a call the job makes itself
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@contextmanager
def timed_actions(actions: list[Action], extra: dict | None = None):
    """Patch the DataFrame actions the jobs issue so every call is timed into
    ``actions``; ``extra`` maps (owner, attribute) -> kind for further
    functions to time the same way (their nested actions get depth 1)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    targets = {
        (DataFrameWriter, "parquet"): "parquet",
        (DataFrame, "count"): "count",
        (DataFrame, "show"): "show",
        (DataFrame, "localCheckpoint"): "localCheckpoint",
        **(extra or {}),
    }
    depth = [0]

    def wrap(kind, fn):
        def timed(*args, **kwargs):
            level = depth[0]
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                depth[0] -= 1
                if kind == "parquet":
                    arg = str(args[1] if len(args) > 1 else kwargs.get("path"))
                elif kind == "localCheckpoint":
                    eager = args[1] if len(args) > 1 else kwargs.get("eager", True)
                    arg = "eager" if eager else "lazy"
                else:
                    arg = ""
                actions.append(Action(kind, arg, level, t0, t1))

        return timed

    saved = {key: getattr(*key) for key in targets}
    for (owner, attr), kind in targets.items():
        setattr(owner, attr, wrap(kind, saved[(owner, attr)]))
    try:
        yield actions
    finally:
        for (owner, attr), fn in saved.items():
            setattr(owner, attr, fn)


# ---------------------------------------------------------------- status stores

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_PY_METRICS = {
    "time to run Python workers": "spark.python.run_s",
    "time to start Python workers": "spark.python.boot_s",
    "time to initialize Python workers": "spark.python.init_s",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_received",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '12.8 s', '15.3 MiB', '2,000', or the
    'total (min, med, max ...)\\n<total> (...)' form."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].replace(",", "").strip()
    m = re.fullmatch(r"(-?[0-9.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def sql_watermark(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids, default=-1)


def spark_counters(
    spark, group: str, since_ms: int, after_execution: int, wall_s: float, cores: int
) -> dict[str, float]:
    """Counters for the stages the jobs of one job group submitted at or
    after ``since_ms`` (epoch ms), and for the SQL executions that started
    after ``after_execution``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("spark.jobs", "spark.tasks", "spark.task.run_s", "spark.gc_s", "spark.shuffle.bytes_written"), 0.0
    )
    heaviest: tuple[int, int, int] | None = None  # (run ms, stage, attempt)
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        for sid in _seq(store.job(jid).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                stage = store.lastStageAttempt(sid)
            except Exception:  # stage data evicted or never submitted
                continue
            submitted = stage.submissionTime()
            if stage.status().toString() != "COMPLETE" or submitted.get().getTime() < since_ms:
                continue
            out["spark.tasks"] += stage.numCompleteTasks()
            out["spark.task.run_s"] += stage.executorRunTime() / 1000
            out["spark.gc_s"] += stage.jvmGcTime() / 1000
            out["spark.shuffle.bytes_written"] += stage.shuffleWriteBytes()
            if heaviest is None or stage.executorRunTime() > heaviest[0]:
                heaviest = (stage.executorRunTime(), sid, stage.attemptId())
    ratio = 1.0
    if heaviest is not None:
        tasks = _seq(store.taskList(heaviest[1], heaviest[2], 100_000))
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
        med = statistics.median(runs) if runs else 0
        ratio = max(runs) / med if med else 1.0
    out["spark.task.max_over_median"] = ratio
    out["spark.idle_core_s"] = cores * wall_s - out["spark.task.run_s"]

    sql = spark._jsparkSession.sharedState().statusStore()
    out["spark.exchanges"] = 0.0
    for key in _PY_METRICS.values():
        out[key] = 0.0
    for execution in _seq(sql.executionsList()):
        eid = execution.executionId()
        if eid <= after_execution:
            continue
        values = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            name = node.name()
            if name == "Exchange":
                out["spark.exchanges"] += 1
            if not any(k in name for k in ("Python", "Pandas", "Arrow")):
                continue
            for metric in _seq(node.metrics()):
                key = _PY_METRICS.get(metric.name())
                if key and values.contains(metric.accumulatorId()):
                    out[key] += parse_metric(values.apply(metric.accumulatorId()))
    return out
