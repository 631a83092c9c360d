"""Self-tests of the benchmark. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {f.name: f.read_bytes() for f in sorted(d.iterdir()) if f.name != "DONE"}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _files(inputs.ensure_inputs(tmp_path / "a", 7, blocks=20))
    b = _files(inputs.ensure_inputs(tmp_path / "b", 7, blocks=20))
    c = _files(inputs.ensure_inputs(tmp_path / "c", 8, blocks=20))
    assert a == b
    assert a.keys() == c.keys()
    for name in a:
        if name != "articles_expected.json":  # the planted counts depend on block count only
            assert a[name] != c[name], name


def test_derived_tables_keep_schema_and_rows(tmp_path):
    import pyarrow.parquet as pq

    d = inputs.ensure_inputs(tmp_path, 13, blocks=1)
    for t in inputs.TABLES:
        got, base = pq.read_table(d / f"{t}.parquet"), pq.read_table(inputs.BASE_DIR / f"{t}.parquet")
        assert got.schema == base.schema and got.num_rows == base.num_rows, t


def test_planted_counts_follow_the_golden_fixture():
    _, exp = inputs.generate_articles(5, blocks=4)
    # tests/test_pipeline_golden.py: 17 -> 13 complete -> 11 deduped -> 4 valid per block
    assert exp == {
        "n_load": 68, "n_complete": 52, "n_dedup": 44, "n_valid": 16,
        "reasons": {"invalid_url": 12, "missing_published": 8, "short_content": 4, "title_too_long": 4},
    }


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from yanwenxian_week3_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-selftest", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_tiny_article_file_matches_planted_counts(spark, tmp_path):
    from runner import check_articles
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    records, expected = inputs.generate_articles(21, blocks=3)
    src = tmp_path / "articles.json"
    src.write_text(json.dumps(records, indent=2), encoding="utf-8")
    out = tmp_path / "out"
    run_cleaning_pipeline(spark, src, out / "cleaned_output.json", out / "quality_report.txt", verbose=False)
    result = check_articles(out, expected)
    assert result["ok"], result


def test_untraced_pass_installs_no_wrapper_and_reads_no_status_store(spark, tmp_path, monkeypatch):
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame

    import runner
    from yanwenxian_week3_data_pipeline_spark import pipeline
    from yanwenxian_week3_data_pipeline_spark.sources import articles_json, tables

    originals = [DataFrame.localCheckpoint, DataFrame.collect, tables.load_table, articles_json.load_articles]

    def forbidden(*_a, **_k):
        raise AssertionError("status store read in an untraced pass")

    monkeypatch.setattr(pyspark.SparkContext, "statusTracker", forbidden)
    records, expected = inputs.generate_articles(3, blocks=2)
    (tmp_path / "articles.json").write_text(json.dumps(records), encoding="utf-8")
    (tmp_path / "articles_expected.json").write_text(json.dumps(expected), encoding="utf-8")
    wl = runner.Workload(spark, "articles_funnel", tmp_path, tmp_path / "out", tracer=None)
    wl.run(runner.ARTICLES_OP)
    assert wl.check_articles()["ok"]
    assert [DataFrame.localCheckpoint, DataFrame.collect, tables.load_table, articles_json.load_articles] == originals
    assert not hasattr(pipeline.run_cleaning_pipeline, "__wrapped__")
    assert "spans" not in sys.modules


def test_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {n: w["why"] for n, w in WORKLOADS.items()}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER
    assert bench["paths"] == ["perfbench"]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_refuses_a_directory_without_the_program(tmp_path):
    (tmp_path / "perfbench").symlink_to(HERE)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "llm_curation", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 2 and p.stdout == ""
