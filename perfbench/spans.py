"""Spans and Spark status-store readings for the traced run.

Only ``runner.py`` with ``--trace 1`` imports this module.
``Tracer.install`` wraps the public functions of the package's ``session``,
``sources``, ``operators``, ``sinks`` and ``pipeline`` modules, plus
``DataFrame.localCheckpoint`` (every eager checkpoint, from any module),
``DataFrameReader.parquet/json`` (table reads that bypass ``sources``) and
the driver-side row fetches ``collect``/``toLocalIterator``. Plan modules
bind these names with ``from ... import`` when they are imported, so
``install`` must run before ``yanwenxian_week3_data_pipeline_spark.plans``
or ``.pipeline`` is imported. The benchmark opens the ``plans``,
``catalyst`` and ``exec`` spans itself, around the calls it makes.

Spans are kept in memory: ``(id, name, layer, start, end, parent, op)``
with wall-clock times, so that Spark's job submission times (JVM wall
clock, ms) can be attributed to the innermost span open at that instant.
A layer's self time is the duration of its spans minus the part their
child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "yanwenxian_week3_data_pipeline_spark"
WRAPPED_PACKAGES = ("session", "sources", "operators", "sinks", "pipeline")
INTERNAL = "trace"  # layer of the tracer's own work (checkpoint row counts)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.driver_rows = 0
        self.checkpoint_rows = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([sid, name, layer, time.time(), None, parent, self.op])
        self.stack.append(sid)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[sid][4] = time.time()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the package's public entry points and the DataFrame methods above."""
        from pyspark.sql.classic.dataframe import DataFrame  # the class a local session returns
        from pyspark.sql.readwriter import DataFrameReader

        for sub in WRAPPED_PACKAGES:
            mod = importlib.import_module(f"{PKG}.{sub}")
            mods = [mod]
            if hasattr(mod, "__path__"):
                mods += [importlib.import_module(m.name) for m in pkgutil.iter_modules(mod.__path__, mod.__name__ + ".")]
            for m in mods:
                for attr, fn in list(vars(m).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != m.__name__:
                        continue
                    setattr(m, attr, self.wrap(fn, f"{sub}.{attr}", sub))
        for attr in ("parquet", "json"):
            setattr(DataFrameReader, attr, self.wrap(getattr(DataFrameReader, attr), f"sources.read_{attr}", "sources"))
        DataFrame.localCheckpoint = self._checkpoint(DataFrame.localCheckpoint)
        DataFrame.collect = self._fetch(DataFrame.collect)
        DataFrame.toLocalIterator = self._fetch(DataFrame.toLocalIterator)

    def _checkpoint(self, fn):
        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            if not self.enabled:
                return fn(df, *args, **kwargs)
            with self.span("operators.checkpoint", "checkpoint"):
                out = fn(df, *args, **kwargs)
            # the row count is the tracer's own job: its span keeps it out
            # of the program's layers and exec metrics
            with self.span("trace.checkpoint_rows", INTERNAL):
                self.checkpoint_rows += out.count()
            return out

        return wrapper

    def _fetch(self, fn):
        """Count the rows ``collect`` returns or ``toLocalIterator`` yields."""
        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            out = fn(df, *args, **kwargs)
            if not self.enabled:
                return out
            if isinstance(out, list):
                self.driver_rows += len(out)
                return out
            return self._counted(out)

        return wrapper

    def _counted(self, it):
        for row in it:
            self.driver_rows += 1
            yield row


def self_times(spans: list) -> dict[str, float]:
    """Self time per layer over closed spans."""
    child = defaultdict(float)
    for s in spans:
        if s[5] is not None:
            child[s[5]] += s[4] - s[3]
    out = defaultdict(float)
    for s in spans:
        out[s[2]] += (s[4] - s[3]) - child[s[0]]
    return dict(out)


def innermost(spans: list, t: float):
    """The innermost span open at wall time ``t`` (or None)."""
    best = None
    for s in spans:
        if s[3] <= t <= s[4] and (best is None or s[3] >= best[3]):
            best = s
    return best


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """Parse a SQL status-store metric string: ``8,484``, ``2.2 s``,
    ``132.8 KiB``, or the multi-task form ``total (min, med, max ...)\\n2.2 s (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Reads one operation's jobs, stages and SQL plan nodes from Spark's
    app status store and SQL status store, by job group."""

    PY_METRICS = {
        "time to run Python workers": "python_run_s",
        "time to start Python workers": "python_start_s",
        "data sent to Python workers": "python_bytes",
        "data returned from Python workers": "python_bytes",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _j(self, seq):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def jobs(self, group: str) -> list[tuple[int, float]]:
        """(job id, submission wall time in s) for every job of ``group``."""
        out = []
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(j)
            sub = jd.submissionTime()
            out.append((j, sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0))
        return sorted(out)

    def stages(self, job_ids: list[int]) -> list[dict]:
        seen, out = set(), []
        for j in job_ids:
            for sid in self._j(self.store.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                wall = 0.0
                if sd.completionTime().isDefined() and sd.submissionTime().isDefined():
                    wall = (sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()) / 1000.0
                out.append({
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1000.0,
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "spill_b": sd.diskBytesSpilled(),
                    "wall_s": wall,
                })
        return out

    def plan_nodes(self, job_ids: set[int]) -> tuple[dict, float]:
        """Python-boundary totals and the largest operator output row count
        over every SQL execution whose jobs belong to ``job_ids``."""
        py = defaultdict(float)
        max_rows = 0.0
        for e in self._j(self.sql.executionsList()):
            ids = {int(x) for x in self._j(e.jobs().keySet())}
            if not ids or not ids <= job_ids:
                continue
            vals = self._j(self.sql.executionMetrics(e.executionId()))
            for node in self._j(self.sql.planGraph(e.executionId()).allNodes()):
                for m in self._j(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v is None:
                        continue
                    if m.name() == "number of output rows":
                        max_rows = max(max_rows, metric_value(v))
                    elif m.name() in self.PY_METRICS:
                        py[self.PY_METRICS[m.name()]] += metric_value(v)
        return dict(py), max_rows
