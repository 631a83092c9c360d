"""Dump `.explain("formatted")` for registered queries, one file per query,
and diff two such dumps.

Snapshot each side of a change (e.g. the parent commit extracted with
``git archive`` into a scratch directory, and the working tree), then
``--diff`` them to list every query whose physical plan changed.

Usage: python tools/explain_snapshot.py <sf_dir> <outdir> [name ...]
  With no names, snapshots every registered query.
       python tools/explain_snapshot.py --diff <dirA> <dirB>
  Prints the queries whose plans differ after normalising the numbers that
  change from run to run (expression ids ``#12``, ``plan_id=3``,
  ``RDD[40]``), and those present on one side only. Exits 1 if any.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


_RUN_NUMBERS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def normalise(plan: str) -> str:
    for pattern, repl in _RUN_NUMBERS:
        plan = pattern.sub(repl, plan)
    return plan


def diff(dir_a: Path, dir_b: Path) -> int:
    a = {p.stem: p for p in dir_a.glob("*.txt")}
    b = {p.stem: p for p in dir_b.glob("*.txt")}
    changed = sorted(
        n for n in a.keys() & b.keys()
        if normalise(a[n].read_text()) != normalise(b[n].read_text())
    )
    for n in changed:
        print(f"differs: {n}")
    for n in sorted(a.keys() - b.keys()):
        print(f"only in {dir_a}: {n}")
    for n in sorted(b.keys() - a.keys()):
        print(f"only in {dir_b}: {n}")
    both = len(a.keys() & b.keys())
    print(f"{both - len(changed)}/{both} formatted plans identical")
    return 1 if changed or a.keys() != b.keys() else 0


def main() -> None:
    if sys.argv[1] == "--diff":
        sys.exit(diff(Path(sys.argv[2]), Path(sys.argv[3])))

    from yanwenxian_week3_data_pipeline_spark.plans import all_queries
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1]
    outdir = Path(sys.argv[2])
    outdir.mkdir(parents=True, exist_ok=True)
    names = sys.argv[3:]

    spark = get_spark("explain-snapshot")
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_queries()
    if names:
        specs = {n: specs[n] for n in names}
    failed = []
    for name in sorted(specs):
        try:
            df = specs[name].build(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            (outdir / f"{name}.txt").write_text(buf.getvalue())
        except Exception as e:  # streaming/env-gated queries may not build here
            failed.append((name, repr(e)))
    if failed:
        sys.stderr.write("SKIPPED (build failed):\n")
        for name, err in failed:
            sys.stderr.write(f"  {name}: {err[:200]}\n")
    print(f"wrote {len(specs) - len(failed)}/{len(specs)} plans to {outdir}")


if __name__ == "__main__":
    main()
