"""pipe_run — the end-to-end article cleaning pipeline (reference
run_cleaning_pipeline, cleaner.py:284-393):

load → text clean → date standardize → drop incomplete → dedup (keep-first)
→ validate → save valid JSON + quality report.

Spark shape: ONE ACTION. One scan computes per-row stage-survival flags
(_complete, _kept, passed) — the same shape as the flagship funnel query —
so the table is read once, shuffled once (the dedup-key window), and every
count is a conditional sum over the flags. Every scalar of the report
(stage funnel, column presence, completeness, date range) is a
``df.observe()`` metric on the flagged frame, and the only action over it
is a plain ``collect()`` of the kept rows: record_id and the verdict, plus
the report columns only where the row passed, so a failed row ships only
its verdict. The metrics come from that same execution because it is the only
one: no orderBy or range exchange sits after ``observe`` (a range
exchange's sampling job would run the observed lineage a second time),
nothing is cached, and nothing is checkpointed. The driver sorts the kept
rows by record_id and derives the rest from that one list: the
post-dedup index, the failure distribution, the failed-record details and
the valid records. All of it reaches the driver by the reference's
contract anyway (the pretty JSON array and the report's failed-record
details, sinks/json_records.py), so the kept rows must fit the driver and
``spark.driver.maxResultSize``. Returns the cleaned post-dedup DataFrame
exactly as the reference does (cleaner.py:393).
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .domains.articles import article_rules
from .functions.dates import parse_iso_date_expr
from .functions.text import clean_text_expr
from .operators.dedup import first_complete_flag
from .operators.incomplete import REQUIRED_ARTICLE_COLUMNS, complete_expr
from .operators.validate import with_validation
from .report import ValidationStats, render_quality_report
from .schema import RECORD_ID, TEXT_COLUMNS
from .sinks.json_records import save_records_pretty, save_text
from .sources.articles_json import load_articles

ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
FLAG_COLUMNS = ("_complete", "_kept", "passed", "reason", "message")


def clean_articles(df: DataFrame) -> DataFrame:
    """Stages 2a+2b: text cleaning on the text columns; permissive date
    standardization of published_date to an ISO string."""
    out = df.withColumns({c: clean_text_expr(F.col(c)) for c in TEXT_COLUMNS if c in df.columns})
    if "published_date" in out.columns:
        out = out.withColumn("published_date", parse_iso_date_expr(F.col("published_date")))
    return out


def flag_stages(cleaned: DataFrame) -> DataFrame:
    """Add per-row stage-survival flags to a cleaned frame:

    - ``_complete`` — survives drop_incomplete (no required column missing);
    - ``_kept``     — additionally survives keep-first dedup: first complete
      row (by record_id) per (title, url) key (``first_complete_flag``). The
      keys are already normalized by clean_articles (clean_text is
      idempotent), so the window partitions on them directly;
    - ``passed/reason/message`` — the validation verdict columns.
    """
    complete = complete_expr(cleaned.columns, REQUIRED_ARTICLE_COLUMNS)
    flagged = cleaned.withColumn("_complete", complete)
    kept = first_complete_flag(F.col("_complete"), ("title", "url"), RECORD_ID)
    flagged = flagged.withColumn("_kept", kept)
    return with_validation(flagged, article_rules())


def _report_candidates(flagged: DataFrame) -> list[str]:
    """Input columns the report may list: every column the flagged frame
    carries except record_id, the derived published_date and the flags."""
    return [c for c in flagged.columns if c not in (RECORD_ID, "published_date", *FLAG_COLUMNS)]


def observe_report(flagged: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach every scalar the quality report needs to a flagged frame as
    ``df.observe()`` metrics: (observed_df, Observation). The metrics are
    the stage funnel, column presence, per-column completeness of the
    deduped set and its date range. They accumulate inside whatever action
    consumes ``observed_df``, so they cost ZERO extra jobs — at 100 TB this
    replaces a whole second scan-aggregate pass with accumulator traffic
    piggybacked on the one action."""
    kept = F.col("_kept")
    # published_date strings are ISO-with-Z (UTC). The range is taken as
    # TIMESTAMP_NTZ and shipped as its string, so neither the session time
    # zone (parsing) nor the driver's (rendering) can shift it.
    ts = F.to_timestamp_ntz(F.col("published_date"), F.lit(ISO_TS_FORMAT))
    metrics = [
        F.count(F.lit(1)).alias("n_load"),
        F.sum(F.col("_complete").cast("long")).alias("n_complete"),
        F.sum(kept.cast("long")).alias("n_dedup"),
        F.sum((kept & F.col("passed")).cast("long")).alias("n_valid"),
        F.min(F.when(kept, ts)).cast("string").alias("dr_earliest"),
        F.max(F.when(kept, ts)).cast("string").alias("dr_latest"),
        F.count(F.when(kept, ts)).alias("dr_n"),
    ]
    candidates = _report_candidates(flagged)
    # presence is tested on the CLEANED values, where clean_text has already
    # coalesced absent columns to "" — so "ever non-blank" is the signal
    # that the input carried the column (an input column holding only blank
    # strings is indistinguishable post-clean; documented edge)
    for c in candidates:
        metrics.append(
            F.max(F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) != "")).alias(f"_has_{c}")
        )
    # completeness replicates the golden's counting (cleaner.py:199-200
    # astype(str) rendering): a value is missing only when it is a non-null
    # string that trims to "" — a null renders as 'None'/'NaN' and counts as
    # present. quality_report.txt:26 (published_date 100.0% with one null
    # parsed date) pins this; the funnel's drop-incomplete stage keeps the
    # intended null=missing semantics (SURVEY.md §1.4).
    for c in candidates + ["published_date"]:
        blank = F.col(c).isNotNull() & (F.trim(F.col(c).cast("string")) == "")
        metrics.append(F.sum(F.when(kept & ~blank, 1).otherwise(0)).cast("long").alias(f"_ne_{c}"))
    obs = Observation("report")
    return flagged.observe(obs, *metrics), obs


def validation_stats(rows: list) -> ValidationStats:
    """The validation section of a report from validated rows in record_id
    order (fields ``passed``, ``reason``, ``message``). A row's list position
    is the reference's row index: after dedup the frame is re-indexed
    (cleaner.py reset_index), so the index counts kept rows, not ingest ids.
    ``Counter.most_common`` orders the distribution by count, ties by first
    occurrence — the reference's own rule (validator.py:155)."""
    failed = [(i, r) for i, r in enumerate(rows) if not r["passed"]]
    return ValidationStats(
        total=len(rows),
        passed=len(rows) - len(failed),
        failed=len(failed),
        failure_reasons=Counter(r["reason"] for _, r in failed).most_common(),
        failed_record_details=[
            {"index": i, "reason": r["reason"], "message": r["message"]} for i, r in failed
        ],
    )


def _utc(iso: str) -> datetime:
    # the reference renders the range as tz-aware pandas Timestamps
    # ('... 00:00:00+00:00')
    return datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)


def run_cleaning_pipeline(
    spark: SparkSession,
    input_path: str | Path,
    output_path: str | Path = "cleaned_output.json",
    report_path: str | Path = "quality_report.txt",
    verbose: bool = True,
) -> DataFrame:
    def say(msg: str) -> None:
        if verbose:
            print(msg)

    # 1-3. load → clean → flag (one scan, one window shuffle)
    flagged = flag_stages(clean_articles(load_articles(spark, str(input_path))))
    candidates = _report_candidates(flagged)
    observed, obs = observe_report(flagged)

    # the one action: kept rows only, report columns only where they passed
    passed = F.col("passed")
    rows = (
        observed.where(F.col("_kept"))
        .select(
            RECORD_ID, "passed", "reason", "message",
            *(F.when(passed, F.col(c)).alias(c) for c in candidates + ["published_date"]),
        )
        .collect()
    )
    rows.sort(key=lambda r: r[RECORD_ID])
    m = obs.get

    n_load, n_complete, n_dedup, n_valid = (
        m["n_load"],
        m["n_complete"] or 0,
        m["n_dedup"] or 0,
        m["n_valid"] or 0,
    )
    # report column set mirrors the reference's pandas frame: only columns
    # the input actually carried (a schema-padding column that is all-null
    # never existed in the source JSON), in schema order, with the derived
    # published_date appended LAST (cleaner.py:311-312 appends it to the
    # frame)
    report_cols = [c for c in candidates if m[f"_has_{c}"]] + ["published_date"] if n_load else []
    n_dropped, n_dupes = n_load - n_complete, n_complete - n_dedup
    say(f"[1/6] loaded {n_load} records from {input_path}")
    say(f"[2/6] cleaned; dropped {n_dropped} incomplete, {n_complete} remaining")
    say(f"[3/6] dedup removed {n_dupes} duplicates, {n_dedup} remaining")

    stats = validation_stats(rows)
    say(f"[4/6] validation: {n_valid}/{n_dedup} passed")

    # 4+6. save valid records
    n_saved = save_records_pretty(
        [{c: r[c] for c in report_cols} for r in rows if r["passed"]], output_path
    )
    say(f"[5/6] saved {n_saved} valid records to {output_path}")

    # 5. render + save report
    dr = (_utc(m["dr_earliest"]), _utc(m["dr_latest"]), m["dr_n"]) if m["dr_n"] else None
    report = render_quality_report(
        original_count=n_load,
        cleaned_count=n_dedup,
        deleted_incomplete=n_dropped,
        deleted_duplicates=n_dupes,
        completeness_rows=[(c, m[f"_ne_{c}"] or 0, n_dedup) for c in report_cols],
        stats=stats,
        date_range=dr,
        n_cleaned_rows=n_dedup,
    )
    save_text(report, report_path)
    say(f"[6/6] wrote quality report to {report_path}")
    say(f"summary: {n_load} loaded -> {n_dedup} after cleaning -> {n_saved} valid (saved)")

    return flagged.where(F.col("_kept")).drop(*FLAG_COLUMNS)
