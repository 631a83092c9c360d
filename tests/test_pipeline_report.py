"""The cleaning pipeline's report phase: the flagged frame is executed by
ONE Spark action (``observe()`` metrics riding a plain ``collect()`` of the
kept rows) and the report and valid records are built on the driver from
that one sorted list.

The pinned files below are the outputs of the in-repo 17-record fixture
(``test_pipeline_golden._fixture_records``) as the earlier multi-job
implementation wrote them in a UTC session. They must be reproduced byte
for byte, and the report also under a non-UTC session or driver zone.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.test_pipeline_golden import _fixture_records

PINNED_REPORT = """QUALITY REPORT
============================================================

REQUIREMENTS CHECKLIST
------------------------------------------------------------
  [1] Data Cleaning: whitespace/HTML removal, text encoding, ISO dates, special chars
  [2] Data Validation: required fields (title, content, url), URL format, content length, reasons
  [3] Quality Report: total processed, valid vs invalid, completeness %, common failures

1. RECORD PROCESSING STATISTICS
------------------------------------------------------------
  Total records processed:   17
  Cleaned record count:      11
  Deleted record count:      6
    - Missing (incomplete):  4
    - Duplicates:            2

2. FIELD COMPLETENESS (non-null ratio %)
------------------------------------------------------------
  title                      100.0%  (11/11)
  content                    100.0%  (11/11)
  url                        100.0%  (11/11)
  published                  100.0%  (11/11)
  category                   100.0%  (11/11)
  author                       9.1%  (1/11)
  published_date             100.0%  (11/11)

3. VALIDATION RESULT STATISTICS
------------------------------------------------------------
  Total validation passed:   4
  Total validation failed:   7
  Pass rate:                 36.4%

4. VALIDATION FAILURE DISTRIBUTION
------------------------------------------------------------
     3  URL must start with http:// or https:// and have valid format.
     2  Published date is missing or empty.
     1  Content is too short (minimum 120 characters).
     1  Title exceeds maximum length (500 characters).

5. DATE COVERAGE RANGE (publication date)
------------------------------------------------------------
  Earliest:  2025-01-15 00:00:00+00:00
  Latest:    2025-07-01 00:00:00+00:00
  Records with date: 9/11

6. DUPLICATE RECORD STATISTICS
------------------------------------------------------------
  Original duplicate count:  2 (before dedup)
  Deleted duplicate count:   2

FAILED RECORD DETAILS
------------------------------------------------------------
  Index:  1
  Reason: Content is too short: 17 characters (minimum 120 required).

  Index:  2
  Reason: URL must start with http:// or https:// (got: ftp://example.org/7).

  Index:  3
  Reason: URL must start with http:// or https:// (got: example.org/8).

  Index:  4
  Reason: Published date is missing or empty.

  Index:  5
  Reason: URL must start with http:// or https:// (got: HTTP://example.org/10).

  Index:  8
  Reason: Title is too long: 501 characters (maximum 500).

  Index:  10
  Reason: Published date is missing or empty.

INSIGHTFUL METRICS SUMMARY
------------------------------------------------------------
  End-to-end retention:  23.5% (4/17 records saved)
  Cleaning retention:    64.7% (11/17 after cleaning)
  Validation pass rate: 36.4% (on cleaned set)
  Top failure reason:     URL must start with http:// or https:// and have valid format. (n=3)

DOCUMENTED PROCESS
------------------------------------------------------------
  This report is generated by the data cleaning and validation pipeline.
  For AI-assisted development process and historical metrics, see prompt-log.md.

============================================================
End of report"""

PINNED_CLEANED = """[
  {
    "title": "Spark & Data Engines",
    "content": "spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative",
    "url": "https://example.org/articles/engine/0",
    "published": "Jan 15, 2025",
    "category": "Technology",
    "author": "A. Writer",
    "published_date": "2025-01-15T00:00:00Z"
  },
  {
    "title": "Ordinal date",
    "content": "spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative",
    "url": "https://example.org/articles/engine/11",
    "published": "July 1st, 2025",
    "category": null,
    "author": "",
    "published_date": "2025-07-01T00:00:00Z"
  },
  {
    "title": "Entity body",
    "content": "A B <tag> spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative",
    "url": "https://example.org/articles/engine/13",
    "published": "15/03/2025",
    "category": null,
    "author": "",
    "published_date": "2025-03-15T00:00:00Z"
  },
  {
    "title": "Zulu time",
    "content": "spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative spark engine keeps every analytics operator declarative",
    "url": "https://example.org/articles/engine/15",
    "published": "2025-06-07T14:30:00Z",
    "category": null,
    "author": "",
    "published_date": "2025-06-07T14:30:00Z"
  }
]"""

PINNED_VALIDATE_ONLY_DISTRIBUTION = """\
Failure reason distribution:
--------------------------------------------------
     3  URL must start with http:// or https:// and have valid format.
     2  Title is missing or empty.
     1  Content is missing or empty.
     1  URL is missing or empty.
     1  Content is too short (minimum 120 characters).
     1  Title exceeds maximum length (500 characters).
     1  Published date is missing or empty.
"""


@pytest.fixture(scope="module")
def fixture_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("articles") / "dirty_articles.json"
    p.write_text(json.dumps(_fixture_records(), indent=2), encoding="utf-8")
    return p


def _run(spark, src, out_dir) -> tuple[str, str]:
    """Run the pipeline; return (quality report, cleaned JSON) as written."""
    from yanwenxian_week3_data_pipeline_spark.pipeline import run_cleaning_pipeline

    report, cleaned = out_dir / "quality_report.txt", out_dir / "cleaned_output.json"
    run_cleaning_pipeline(spark, src, cleaned, report, verbose=False)
    return report.read_text(encoding="utf-8"), cleaned.read_text(encoding="utf-8")


def test_outputs_match_pinned_files(spark, fixture_path, tmp_path):
    assert _run(spark, fixture_path, tmp_path) == (PINNED_REPORT, PINNED_CLEANED)


def test_report_ignores_session_time_zone(spark, fixture_path, tmp_path):
    """published_date is a UTC string; a non-UTC session zone used to shift
    the date range by the zone's offset. (The cleaned JSON is not compared:
    date standardization renders an input's explicit ``Z`` offset in the
    session zone, a separate open item.)"""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert _run(spark, fixture_path, tmp_path)[0] == PINNED_REPORT
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_report_ignores_driver_time_zone(spark, fixture_path, tmp_path):
    """The driver process's zone used to shift the range when the collected
    timestamps were rendered."""
    old = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "Asia/Kolkata"
        time.tzset()
        assert _run(spark, fixture_path, tmp_path) == (PINNED_REPORT, PINNED_CLEANED)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_rerun_on_rewritten_input_reports_new_file(spark, tmp_path):
    """Nothing is cached across calls: a second run on a rewritten file at
    the same path reports the new file, and no persistent RDD is left."""
    src = tmp_path / "articles.json"
    src.write_text(json.dumps(_fixture_records()), encoding="utf-8")
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    report, _ = _run(spark, src, tmp_path / "first")
    assert "Total records processed:   17" in report
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= persistent

    src.write_text(json.dumps(_fixture_records()[:3]), encoding="utf-8")
    report, cleaned = _run(spark, src, tmp_path / "second")
    assert "Total records processed:   3" in report
    assert len(json.loads(cleaned)) == 1


def test_empty_wrapper_writes_the_empty_report(spark, tmp_path):
    """``{"articles": []}`` holds no records, like ``[]``: the same two
    files, not an error."""
    empty = tmp_path / "empty.json"
    empty.write_text("[]")
    wrapper = tmp_path / "empty_wrapper.json"
    wrapper.write_text(json.dumps({"articles": []}))
    assert _run(spark, wrapper, tmp_path / "wrapper") == _run(spark, empty, tmp_path / "plain")


def test_record_ids_need_no_window_or_sort(spark, fixture_path, tmp_path, monkeypatch):
    """Ids come from the read task's own row positions, so loading one
    multiLine document plans no Window and no Sort, and the one action
    has exactly two exchanges: the round-robin fan-out after the
    single-split read and the dedup-key window."""
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    loaded = load_articles(spark, str(fixture_path))._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\b(Window|Sort)\b", loaded), loaded

    plans = []
    frame = type(spark.range(1))
    collect = frame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(frame, "collect", spy)
    _run(spark, fixture_path, tmp_path)
    assert len(plans) == 1
    exchanges = re.findall(r"\bExchange (\w+)", plans[0])
    assert sorted(exchanges) == ["RoundRobinPartitioning", "hashpartitioning"], plans[0]
    assert "xxhash64(title" in plans[0]


def test_one_run_submits_at_most_six_jobs(spark, fixture_path, tmp_path):
    """Schema inference plus the one action's stages: the report costs no
    job of its own."""
    sc = spark.sparkContext
    group = "pipeline-job-count"
    sc.setJobGroup(group, "run_cleaning_pipeline")
    try:
        _run(spark, fixture_path, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, jobs


# brute-force recount: the fixture's 17 dirt classes repeated in blocks,
# shuffled, with every expectation recomputed in plain Python
INCOMPLETE = {1, 2, 3, 4}
SAME_KEY = {0, 5, 12}  # clean to one (title, url) key per block
REASONS = {
    6: "short_content",
    7: "invalid_url",
    8: "invalid_url",
    9: "missing_published",
    10: "invalid_url",
    14: "title_too_long",
    16: "missing_published",
}
# (month, day[, hour, minute]) each dated fixture record parses to
DATES = {
    0: (1, 15), 5: (2, 20), 6: (3, 1), 7: (3, 2), 8: (3, 3), 10: (3, 5), 11: (7, 1),
    12: (4, 1), 13: (3, 15), 14: (5, 1), 15: (6, 7, 14, 30),
}


def _shuffled_blocks(n_blocks: int, seed: int) -> list[tuple[int, int, dict]]:
    """(block, fixture index, record) in file order. Block ``b`` tags every
    non-blank title with `` b<b>`` and moves every date to year 2000 + b."""
    rows = []
    for b in range(n_blocks):
        for i, rec in enumerate(_fixture_records()):
            if rec["title"] and rec["title"].strip():
                rec["title"] += f" b{b}"
            if rec["published"]:
                rec["published"] = rec["published"].replace("2025", str(2000 + b))
            rows.append((b, i, rec))
    random.Random(seed).shuffle(rows)
    return rows


def test_brute_force_recount_over_shuffled_blocks(spark, tmp_path):
    from yanwenxian_week3_data_pipeline_spark.constants import REASON_LABELS
    from yanwenxian_week3_data_pipeline_spark.pipeline import clean_articles, flag_stages
    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import load_articles

    rows = _shuffled_blocks(12, seed=7)
    src = tmp_path / "blocks.json"
    src.write_text(json.dumps([rec for _, _, rec in rows], indent=2), encoding="utf-8")

    kept, seen = [], set()
    for b, i, rec in rows:
        key = (b, 0 if i in SAME_KEY else i)
        if i not in INCOMPLETE and key not in seen:
            seen.add(key)
            kept.append((b, i, rec))
    failed = [(pos, REASONS[i]) for pos, (_, i, _) in enumerate(kept) if i in REASONS]
    dist = Counter(r for _, r in failed).most_common()
    valid = [rec for _, i, rec in kept if i not in REASONS]
    dated = [datetime(2000 + b, *DATES[i]) for b, i, _ in kept if i in DATES]
    n_author = sum(i == 0 for _, i, _ in kept)
    n = len(kept)

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    try:
        # keep every shuffle partition, so the kept rows reach the driver in
        # hash-partition order, not record_id order
        spark.conf.set(key, "false")
        flagged = flag_stages(clean_articles(load_articles(spark, str(src))))
        parts = flagged.where("_kept").select(F.spark_partition_id()).distinct().count()
        assert parts >= 4
        report, cleaned = _run(spark, src, tmp_path)
    finally:
        spark.conf.set(key, old)

    lines = report.splitlines()
    assert f"  Total records processed:   {len(rows)}" in lines
    assert f"  Cleaned record count:      {n}" in lines
    section = lines[lines.index("4. VALIDATION FAILURE DISTRIBUTION") + 2 :]
    assert section[: len(dist)] == [f"  {c:4d}  {REASON_LABELS[r]}" for r, c in dist]
    assert section[len(dist)] == ""
    assert [int(x.split()[-1]) for x in lines if x.startswith("  Index:")] == [p for p, _ in failed]
    for col in ("title", "content", "url", "published", "category", "published_date"):
        assert f"  {col:<25} {100.0:6.1f}%  ({n}/{n})" in lines
    assert f"  {'author':<25} {n_author / n * 100:6.1f}%  ({n_author}/{n})" in lines
    assert f"  Earliest:  {min(dated)}+00:00" in lines
    assert f"  Latest:    {max(dated)}+00:00" in lines
    assert f"  Records with date: {len(dated)}/{n}" in lines
    got = [(r["url"], r["published"]) for r in json.loads(cleaned)]
    assert got == [(r["url"], r["published"]) for r in valid]


def test_validate_only_orders_ties_by_first_occurrence(spark, fixture_path, capsys):
    """``--validate-only`` uses the pipeline's ordering rule: count, then
    first occurrence (``Counter.most_common``), not reason name."""
    from yanwenxian_week3_data_pipeline_spark.__main__ import main

    assert main([str(fixture_path), "--validate-only"], spark=spark) == 0
    out = capsys.readouterr().out
    start = out.index("Failure reason distribution:")
    assert out[start : out.index("\n\n", start) + 1] == PINNED_VALIDATE_ONLY_DISTRIBUTION
