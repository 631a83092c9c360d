"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the seed's inputs (cached in
``.perfbench/``), computes the expected outputs with the DuckDB oracles,
then starts one Spark session on ``local[nproc]`` in a new process
(``runner.py``) that sets up and measures the workload. Every line before
the last is a human-readable report (every sample count, the load advisory,
where the spans went); the last line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in ``workloads.py``.

Exit codes: 0 with a result printed; 1 when the session crashed or ran out
of time; 2 when the checkout holds no program to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
PKG = "yanwenxian_week3_data_pipeline_spark"
DEADLINE_S = 170.0  # a run must end within 180 s


def load_per_core(cores: int) -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0]) / cores


def quantiles(xs: list[float]) -> dict:
    """Median and the highest percentile the sample count supports (ten
    samples beyond it); the maximum when there are fewer than 20."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs), "max": xs[-1]}
    if n >= 20:
        q = 1 - 10 / n
        out[f"p{int(q * 100)}"] = xs[min(n - 1, int(q * n))]
    return out


def group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_session(args: list[str], env: dict, cwd: Path, log: Path, deadline: float) -> int | None:
    """Run one runner process in its own process group; return its exit
    code, or None when it overran the deadline. Every process of the group
    has ended when this returns."""
    with open(log, "ab") as lf:
        p = subprocess.Popen(args, env=env, cwd=cwd, stdout=lf, stderr=lf, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not group_alive(p.pid):
                break
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            for _ in range(50):
                if not group_alive(p.pid):
                    break
                time.sleep(0.1)
        p.wait()
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    checkout = Path.cwd()
    if not (checkout / PKG / "__init__.py").is_file() or not (checkout / "tools" / "verify_all.py").is_file():
        print(f"perfbench: no {PKG} package or tools/verify_all.py under {checkout}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(checkout))
    from inputs import cache_root, ensure_inputs
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ops = WORKLOADS[a.workload]["ops"]
    articles = a.workload == "articles_funnel"
    cores = len(os.sched_getaffinity(0))
    load_start = load_per_core(cores)

    inputs = ensure_inputs(checkout, a.seed)
    if articles:
        input_rows = json.loads((inputs / "articles_expected.json").read_text())["n_load"]
        expected = {}
    else:
        import pyarrow.parquet as pq

        from oracle import expected as oracle_expected, tables_of
        from yanwenxian_week3_data_pipeline_spark.plans import all_queries

        registry = all_queries()
        rows = {t: pq.ParquetFile(inputs / f"{t}.parquet").metadata.num_rows for t in
                {t for op in ops for t in tables_of(registry[op].oracle)}}
        input_rows = sum(rows[t] for op in ops for t in tables_of(registry[op].oracle))
        expected = oracle_expected(checkout, inputs, a.seed, ops)

    root = cache_root(checkout)
    work, out = root / "run", root / "out"
    for d in (work, root / "tmp", root / "spark-local"):
        shutil.rmtree(d, ignore_errors=True)
    for d in (work, out, root / "tmp", root / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": str(checkout),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(root / "spark-local"),
        "TMPDIR": str(root / "tmp"),
        # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, temp files in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={root / 'tmp'}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    log = out / f"{a.workload}-seed{a.seed}.log"
    log.unlink(missing_ok=True)
    result = work / "session.json"
    t0 = time.time()
    rc = run_session(
        [sys.executable, str(HERE / "runner.py"), "--workload", a.workload, "--inputs", str(inputs),
         "--outdir", str(work / "files"), "--result", str(result), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--t0", repr(t0)],
        env, work, log, deadline)
    if rc != 0 or not result.exists():
        print(f"perfbench: the session {'timed out' if rc is None else f'exited {rc}'}; see {log}", file=sys.stderr)
        return 1
    m = json.loads(result.read_text())

    failures = list(m["failures"])
    for op in ops:
        got = m["checks"].get(op)
        if articles:
            failures += [f"check {op}: {c['got']} saved={c['saved']}" for c in got or [] if not c["ok"]]
            if not got:
                failures.append(f"check {op}: no pass was checked")
        elif got is None:
            failures.append(f"check {op}: did not run")
        elif got != expected[op]:
            failures.append(f"check {op}: spark {got} != oracle {expected[op]}")
    checks_run = len(m["checks"]) == len(ops)
    attempted = m["attempted"]
    failed = min(len(failures), attempted)

    e2e = {
        "setup_s": quantiles([m["setup_s"]]),
        "cold_pass_s": quantiles([m["cold_pass_s"]]),
        "pass_s": quantiles(m["pass_s"]),
        "cpu_s": quantiles(m["cpu_s"]),
    }
    e2e["rows_per_s"] = {"n": e2e["pass_s"]["n"], "median": input_rows / e2e["pass_s"]["median"]}
    load_end = load_per_core(cores)

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"local[{cores}] ops={len(ops)} input_rows_per_pass={input_rows}")
    print(f"  advisory load1/nproc: start={load_start:.2f} end={load_end:.2f}")
    units = {n: u for n, u, _ in END_TO_END + PER_LAYER}
    for name, q in e2e.items():
        print(f"  {name:<14} {json.dumps({k: round(v, 4) for k, v in q.items()})} {units[name]}")
    rss = {k: round(v, 1) for k, v in m["peak_rss_mb"].items()}
    print(f"  peak RSS over the run {sum(rss.values()):.1f} MB, by process name: {json.dumps(rss)}")
    print(f"  failed_ratio   {failed}/{attempted} = {failed / attempted:.4f} (output checks ran: {checks_run})")
    for f in failures:
        print(f"  FAILED {f}")

    if a.trace:
        layers = m["layers"]
        if not layers:
            print("perfbench: no traced pass completed; see the FAILED lines", file=sys.stderr)
            return 1
        per_run = {
            "session.start_s": m["session.start_s"],
            "session.warmup_s": m["session.warmup_s"],
            "process.peak_rss_mb": sum(m["peak_rss_mb"].values()),
        }
        per_layer = {n: statistics.median(p.get(n, 0.0) for p in layers) for n, _, _ in PER_LAYER
                     if n not in per_run and n != "trace.overhead_ratio"}
        per_layer.update(per_run)
        per_layer["trace.overhead_ratio"] = statistics.median(m["traced_pass_s"]) / statistics.median(m["pass_s"]) - 1
        spans_file = out / f"spans-{a.workload}-seed{a.seed}.json"
        spans_file.write_text(json.dumps({"passes": layers, "spans": m["spans"]}))
        print(f"  traced passes: {len(layers)}, untraced: {len(m['pass_s'])}; spans: {spans_file}")
        for n, _, _ in PER_LAYER:
            print(f"  {n:<26} {per_layer[n]:.6g} {units[n]}")
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n]["median"], "unit": u} for n, u, _ in END_TO_END}
    correct = failed == 0 and checks_run
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
