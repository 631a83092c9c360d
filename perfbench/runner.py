"""One Spark session of the benchmark.

Started by ``run.py``; never run by hand. It sets the session up (timed
from the ``--t0`` its parent took just before starting this process), runs
one cold pass, whose results are collected to the driver and checked after
its timing stops, then warm passes to the noop sink until ``--seconds`` have
passed and at least ``MIN_WARM_PASSES`` ran, and writes its measurements as JSON to
``--result``.

With ``--trace 0`` nothing is wrapped and no status store is read. With
``--trace 1`` the ``spans.Tracer`` wrappers are installed before the plan
modules are imported; warm passes alternate untraced and traced, and after
each operation of a traced pass (outside its timing) the operation's jobs,
stages and plan nodes are read from Spark's status stores by job group.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from collections import defaultdict
from pathlib import Path

import pandas as pd  # noqa: F401  pandas_udf resolves its "pd.Series" hints here

from workloads import ARTICLES_OP, WORKLOADS

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIN_WARM_PASSES = 3  # so the median of a run is never one pass's


# --- the process tree, from /proc -------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from 3 (state) on


def tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus those of its reaped children."""
    total = 0
    for p in pids:
        if (st := _stat(p)) is not None:
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM per process name (``java``, ``python3``...), summed, in MB."""
    out: dict[str, float] = defaultdict(float)
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                s = f.read()
        except OSError:
            continue
        m = re.search(r"^VmHWM:\s+(\d+) kB", s, re.M)
        name = re.search(r"^Name:\s+(\S+)", s, re.M)
        if m and name:
            out[name.group(1)] += int(m.group(1)) / 1024.0
    return dict(out)


def python_worker_pids(pids: list[int]) -> list[int]:
    """The PySpark daemon and the workers it forks (``python -m pyspark.daemon``)."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(p)
        except OSError:
            continue
    return out


# --- set-up ------------------------------------------------------------------

def warm_up(spark) -> None:
    """The one-time costs every run pays before its first operation: parquet
    reader, shuffle and window codegen, the Python/Arrow worker pool and
    broadcast plumbing. Runs on a table no workload reads and on
    ``spark.range``, never on workload data."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    spark.read.parquet(str(Path(__file__).resolve().parent / "data" / "region.parquet")).count()
    r = spark.range(1000)
    w = Window.partitionBy(F.col("id") % 10).orderBy("id")
    r.withColumn("rn", F.row_number().over(w)).groupBy(F.col("id") % 7).count().write.format("noop").mode(
        "overwrite").save()

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    r.select(plus_one("id")).write.format("noop").mode("overwrite").save()
    r.join(F.broadcast(spark.range(10).withColumnRenamed("id", "k")), r.id % 10 == F.col("k")).write.format(
        "noop").mode("overwrite").save()


# --- operations ----------------------------------------------------------------

class Workload:
    def __init__(self, spark, name: str, inputs: Path, outdir: Path, tracer) -> None:
        self.spark, self.inputs, self.outdir, self.tracer = spark, inputs, outdir, tracer
        self.ops = WORKLOADS[name]["ops"]
        if self.ops == [ARTICLES_OP]:
            from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

            self.pipeline = run_cleaning_pipeline
            self.expected = json.loads((inputs / "articles_expected.json").read_text())
        else:
            from yanwenxian_week3_data_pipeline_spark.plans import all_queries

            self.registry = all_queries()

    @property
    def articles(self) -> bool:
        return self.ops == [ARTICLES_OP]

    def run(self, op: str, collect: bool = False):
        """One operation, as a user runs it: build, plan, execute. With
        ``collect``, a parquet operation's action collects its rows instead
        of writing to the noop sink, and returns ``(columns, rows)``."""
        span = self.tracer.span if self.tracer and self.tracer.enabled else None
        if self.articles:
            out = self.pipeline(self.spark, self.inputs / "articles.json", self.outdir / "cleaned_output.json",
                                self.outdir / "quality_report.txt", verbose=False)
            if span:
                with span("catalyst.plan", "catalyst"):
                    out._jdf.queryExecution().executedPlan()
            return
        if span is None:
            df = self.registry[op].build(self.spark, str(self.inputs))
            if collect:
                return df.columns, df.collect()
            df.write.format("noop").mode("overwrite").save()
            return
        with span("plans.build", "plans"):
            df = self.registry[op].build(self.spark, str(self.inputs))
        with span("catalyst.plan", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with span("exec.noop_write", "exec"):
            df.write.format("noop").mode("overwrite").save()

    def release(self) -> None:
        from yanwenxian_week3_data_pipeline_spark.session import release_persistent_rdds

        self.spark.catalog.clearCache()
        release_persistent_rdds(self.spark)
        for f in self.outdir.iterdir():  # so a failed pass cannot pass on a stale file
            f.unlink()

    @staticmethod
    def digest(columns: list[str], rows: list) -> dict:
        """A parquet operation's collected output in the oracle's terms."""
        from tools.verify_all import canon_rows_spark, vhash

        return {"hash": vhash(canon_rows_spark(rows, columns)), "rows": len(rows), "cols": sorted(columns)}

    def check_articles(self) -> dict:
        return check_articles(self.outdir, self.expected)


def check_articles(outdir: Path, expected: dict) -> dict:
    """Compare the files ``run_cleaning_pipeline`` wrote to ``outdir`` with
    the generator's planted counts and reason histogram."""
    from yanwenxian_week3_data_pipeline_spark.constants import REASON_LABELS

    try:
        saved = len(json.loads((outdir / "cleaned_output.json").read_text(encoding="utf-8")))
        report = (outdir / "quality_report.txt").read_text(encoding="utf-8")
    except (OSError, ValueError) as e:
        return {"ok": False, "got": f"{type(e).__name__}: {e}", "saved": None, "rows": 0}

    def field(label: str) -> int | None:
        m = re.search(rf"^\s*{re.escape(label)}\s+(\d+)", report, re.M)
        return int(m.group(1)) if m else None

    code_of = {v: k for k, v in REASON_LABELS.items()}
    section = report.split("4. VALIDATION FAILURE DISTRIBUTION", 1)[-1].split("5. DATE", 1)[0]
    reasons = {code_of.get(label.strip(), label.strip()): int(n)
               for n, label in re.findall(r"^\s+(\d+)\s{2}(.+)$", section, re.M)}
    n_load, n_incomplete = field("Total records processed:"), field("- Missing (incomplete):")
    got = {
        "n_load": n_load,
        "n_complete": None if n_load is None or n_incomplete is None else n_load - n_incomplete,
        "n_dedup": field("Cleaned record count:"),
        "n_valid": field("Total validation passed:"),
        "reasons": dict(sorted(reasons.items())),
    }
    return {"ok": got == expected and saved == expected["n_valid"], "got": got, "saved": saved, "rows": saved}


# --- traced operations -------------------------------------------------------

def _path_layers(spans_by_id: dict, s) -> set[str]:
    out = set()
    while s is not None:
        out.add(s[2])
        s = spans_by_id.get(s[5])
    return out


def traced_op(wl: Workload, op: str, group: str, reader, result_rows: int) -> tuple[float, dict]:
    """Run one operation traced; return its wall and its layer metrics. The
    status stores and /proc are read after the timed region."""
    from spans import INTERNAL, innermost, self_times

    tr = wl.tracer
    sc = wl.spark.sparkContext
    sc.setJobGroup(group, op)
    py_cpu0 = cpu_seconds(python_worker_pids(tree_pids(os.getpid())))
    first = len(tr.spans)
    rows0, cp_rows0 = tr.driver_rows, tr.checkpoint_rows
    tr.op, tr.enabled = group, True
    t = time.perf_counter()
    try:
        with tr.span(f"op.{op}", "bench"):
            wl.run(op)
    finally:
        wall = time.perf_counter() - t
        tr.enabled = False
        sc.setLocalProperty("spark.jobGroup.id", None)
    py_cpu = cpu_seconds(python_worker_pids(tree_pids(os.getpid()))) - py_cpu0
    spans = tr.spans[first:]
    by_id = {s[0]: s for s in spans}
    m: dict[str, float] = defaultdict(float)
    program_jobs = []
    for j, t_sub in reader.jobs(group):
        s = innermost(spans, t_sub)
        layers = _path_layers(by_id, s) if s else set()
        if INTERNAL in layers:
            continue
        program_jobs.append(j)
        m["sources.load_jobs"] += "sources" in layers
        m["plans.build_jobs"] += "plans" in layers
        m["pipeline.jobs"] += "pipeline" in layers
    stages = reader.stages(program_jobs)
    py, max_rows = reader.plan_nodes(set(program_jobs))
    st = self_times(spans)
    m.update({
        "sources.load_s": st.get("sources", 0.0),
        "plans.build_s": st.get("plans", 0.0),
        "operators.self_s": st.get("operators", 0.0),
        "operators.checkpoints": sum(1 for s in spans if s[2] == "checkpoint"),
        "operators.checkpoint_s": st.get("checkpoint", 0.0),
        "operators.checkpoint_rows": tr.checkpoint_rows - cp_rows0,
        "catalyst.plan_s": st.get("catalyst", 0.0),
        "exec.action_s": st.get("exec", 0.0),
        "exec.jobs": len(program_jobs),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.run_s": sum(s["run_s"] for s in stages),
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.single_task_stage_s": sum(s["wall_s"] for s in stages if s["tasks"] == 1),
        "exec.longest_stage_s": max((s["wall_s"] for s in stages), default=0.0),
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 2**20,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / 2**20,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
        "exec.max_operator_rows": max_rows,
        "exec.result_rows": result_rows,
        "functions.python_run_s": py.get("python_run_s", 0.0),
        "functions.python_start_s": py.get("python_start_s", 0.0),
        "functions.python_mb": py.get("python_bytes", 0.0) / 2**20,
        "functions.python_cpu_s": py_cpu,
        "pipeline.self_s": st.get("pipeline", 0.0),
        "pipeline.driver_rows": tr.driver_rows - rows0 if wl.articles else 0,
        "sinks.write_s": st.get("sinks", 0.0),
        "sinks.mb_written": sum(f.stat().st_size for f in wl.outdir.iterdir()) / 2**20 if wl.articles else 0.0,
        "trace.self_s": st.get("bench", 0.0) + st.get(INTERNAL, 0.0) + st.get("session", 0.0),
    })
    return wall, m


def pass_layers(per_op: list[dict], wall: float, cores: int) -> dict[str, float]:
    """Sum one traced pass's per-operation metrics into pass-level ones."""
    tot: dict[str, float] = defaultdict(float)
    for m in per_op:
        for k, v in m.items():
            tot[k] += v
    tot["exec.longest_stage_s"] = max((m["exec.longest_stage_s"] for m in per_op), default=0.0)
    tot["exec.core_busy_ratio"] = tot["exec.run_s"] / (wall * cores)
    tot["exec.rows_per_result"] = tot.pop("exec.max_operator_rows") / max(tot.pop("exec.result_rows"), 1)
    tot["trace.pass_s"] = wall
    return dict(tot)


# --- main --------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, type=Path)
    ap.add_argument("--outdir", required=True, type=Path)
    ap.add_argument("--result", required=True, type=Path)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()

    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - a.t0
    t = time.time()
    warm_up(spark)
    warmup_s = time.time() - t
    res: dict = {"setup_s": time.time() - a.t0, "session.start_s": start_s, "session.warmup_s": warmup_s}
    a.outdir.mkdir(parents=True, exist_ok=True)
    wl = Workload(spark, a.workload, a.inputs, a.outdir, tracer)
    me = os.getpid()
    cores = spark.sparkContext.defaultParallelism
    attempted, failures, checks = 0, [], {}

    def run_pass(kind: str) -> tuple[float, float]:
        """One untraced pass: (wall, CPU seconds of the process tree). A
        failed operation is recorded and the pass goes on. The cold pass
        collects the parquet operations' rows; they are checked, and the
        pass's cached and checkpointed blocks released, after its timing."""
        nonlocal attempted
        collected = {}
        c0 = cpu_seconds(tree_pids(me))
        t = time.perf_counter()
        for op in wl.ops:
            attempted += 1
            try:
                collected[op] = wl.run(op, collect=kind == "cold")
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                failures.append(f"{kind} {op}: {type(e).__name__}: {str(e)[:300]}")
        wall = time.perf_counter() - t
        cpu = cpu_seconds(tree_pids(me)) - c0
        if wl.articles:
            checks.setdefault(ARTICLES_OP, []).append(wl.check_articles())
        elif kind == "cold":
            checks.update({op: wl.digest(*out) for op, out in collected.items()})
        wl.release()
        return wall, cpu

    cold, _ = run_pass("cold")

    walls, cpus, traced_walls, layers = [], [], [], []
    reader = None
    if tracer:
        from spans import StatusReader

        reader = StatusReader(spark)
    result_rows = {op: (c[-1] if isinstance(c, list) else c).get("rows", 0) for op, c in checks.items()}
    t_end = time.perf_counter() + a.seconds
    i = 0
    while time.perf_counter() < t_end or len(walls) + len(traced_walls) < MIN_WARM_PASSES:
        if tracer and i % 2 == 1:
            wall, per_op = 0.0, []
            for k, op in enumerate(wl.ops):
                attempted += 1
                try:
                    w, m = traced_op(wl, op, f"perfbench-{i}-{k}", reader, result_rows.get(op, 0))
                    wall += w
                    per_op.append(m)
                except Exception as e:  # noqa: BLE001
                    failures.append(f"traced {op}: {type(e).__name__}: {str(e)[:300]}")
                    per_op = None
                    break
            if wl.articles:
                checks[ARTICLES_OP].append(wl.check_articles())
            wl.release()
            if per_op is not None:
                traced_walls.append(wall)
                layers.append(pass_layers(per_op, wall, cores))
        else:
            wall, cpu = run_pass("warm")
            walls.append(wall)
            cpus.append(cpu)
        i += 1

    res.update({
        "cold_pass_s": cold,
        "pass_s": walls,
        "cpu_s": cpus,
        "peak_rss_mb": peak_rss_mb(tree_pids(me)),
        "attempted": attempted,
        "failures": failures,
        "checks": checks,
    })
    if tracer:
        res["traced_pass_s"] = traced_walls
        res["layers"] = layers
        res["spans"] = tracer.spans
    spark.stop()
    a.result.write_text(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
