"""Quality / validation report rendering.

Driver-side string formatting over ALREADY-AGGREGATED rows (tiny data —
counts, distributions, a handful of failed-record details). The section
layout and field formats reproduce the reference's committed golden
``quality_report.txt`` byte format (generate_quality_report,
cleaner.py:157-281; generate_validation_report, validator.py:169-199),
which is treated as the output spec.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .constants import REASON_LABELS

_RULE = "-" * 60
_EDGE = "=" * 60


@dataclass
class ValidationStats:
    total: int = 0
    passed: int = 0
    failed: int = 0
    # list of (reason_code, count), sorted desc by count
    failure_reasons: list[tuple[str, int]] = field(default_factory=list)
    # list of {"index": ..., "reason": ..., "message": ...}
    failed_record_details: list[dict] = field(default_factory=list)


def _header() -> list[str]:
    return [
        "QUALITY REPORT",
        _EDGE,
        "",
        "REQUIREMENTS CHECKLIST",
        _RULE,
        "  [1] Data Cleaning: whitespace/HTML removal, text encoding, ISO dates, special chars",
        "  [2] Data Validation: required fields (title, content, url), URL format, content length, reasons",
        "  [3] Quality Report: total processed, valid vs invalid, completeness %, common failures",
        "",
    ]


def _distribution_lines(stats: ValidationStats) -> list[str]:
    if not stats.failure_reasons:
        return ["  (none)"]
    return [f"  {count:4d}  {REASON_LABELS.get(reason, reason)}" for reason, count in stats.failure_reasons]


def _detail_lines(stats: ValidationStats) -> list[str]:
    out = []
    for d in stats.failed_record_details:
        out += [f"  Index:  {d['index']}", f"  Reason: {d.get('message') or d.get('reason', 'Unknown')}", ""]
    return out


def render_quality_report(
    original_count: int,
    cleaned_count: int,
    deleted_incomplete: int,
    deleted_duplicates: int,
    completeness_rows: list[tuple[str, int, int]],  # (column, non_empty, total)
    stats: ValidationStats,
    date_range: tuple | None,  # (earliest, latest, n_dated) or None
    n_cleaned_rows: int,
    include_failed_details: bool = True,
) -> str:
    out = _header()

    out += ["1. RECORD PROCESSING STATISTICS", _RULE]
    total_deleted = deleted_incomplete + deleted_duplicates
    out.append(f"  Total records processed:   {original_count}")
    out.append(f"  Cleaned record count:      {cleaned_count}")
    out.append(f"  Deleted record count:      {total_deleted}")
    out.append(f"    - Missing (incomplete):  {deleted_incomplete}")
    out.append(f"    - Duplicates:            {deleted_duplicates}")
    out.append("")

    out += ["2. FIELD COMPLETENESS (non-null ratio %)", _RULE]
    for col, non_empty, total in completeness_rows:
        pct = (non_empty / total * 100) if total else 0
        out.append(f"  {col:<25} {pct:6.1f}%  ({non_empty}/{total})")
    out.append("")

    out += ["3. VALIDATION RESULT STATISTICS", _RULE]
    pass_rate = (stats.passed / stats.total * 100) if stats.total else 0
    out.append(f"  Total validation passed:   {stats.passed}")
    out.append(f"  Total validation failed:   {stats.failed}")
    out.append(f"  Pass rate:                 {pass_rate:.1f}%")
    out.append("")

    out += ["4. VALIDATION FAILURE DISTRIBUTION", _RULE]
    out += _distribution_lines(stats)
    out.append("")

    out += ["5. DATE COVERAGE RANGE (publication date)", _RULE]
    if date_range is not None and date_range[2] > 0:
        earliest, latest, n_dated = date_range
        out.append(f"  Earliest:  {earliest}")
        out.append(f"  Latest:    {latest}")
        out.append(f"  Records with date: {n_dated}/{n_cleaned_rows}")
    else:
        out.append("  No valid dates found.")
    out.append("")

    out += ["6. DUPLICATE RECORD STATISTICS", _RULE]
    out.append(f"  Original duplicate count:  {deleted_duplicates} (before dedup)")
    out.append(f"  Deleted duplicate count:   {deleted_duplicates}")
    out.append("")

    if include_failed_details and stats.failed_record_details:
        out += ["FAILED RECORD DETAILS", _RULE, *_detail_lines(stats)]

    retention_pct = (cleaned_count / original_count * 100) if original_count else 0
    valid_pct = (stats.passed / original_count * 100) if original_count else 0
    out += ["INSIGHTFUL METRICS SUMMARY", _RULE]
    out.append(f"  End-to-end retention:  {valid_pct:.1f}% ({stats.passed}/{original_count} records saved)")
    out.append(f"  Cleaning retention:    {retention_pct:.1f}% ({cleaned_count}/{original_count} after cleaning)")
    out.append(f"  Validation pass rate: {pass_rate:.1f}% (on cleaned set)")
    if stats.failure_reasons:
        top_reason, top_n = stats.failure_reasons[0]
        out.append(f"  Top failure reason:     {REASON_LABELS.get(top_reason, top_reason)} (n={top_n})")
    out += ["", "DOCUMENTED PROCESS", _RULE]
    out.append("  This report is generated by the data cleaning and validation pipeline.")
    out.append("  For AI-assisted development process and historical metrics, see prompt-log.md.")
    out += ["", _EDGE, "End of report"]
    return "\n".join(out)


def render_validation_report(stats: ValidationStats, include_failed_details: bool = True) -> str:
    rule50 = "-" * 50
    out = [
        "Validation Report",
        "=" * 50,
        f"Total records:  {stats.total}",
        f"Passed:        {stats.passed}",
        f"Failed:        {stats.failed}",
        "",
        "Failure reason distribution:",
        rule50,
    ]
    out += _distribution_lines(stats)
    out.append("")
    if include_failed_details and stats.failed_record_details:
        out += ["Failed record details:", rule50, *_detail_lines(stats)]
    return "\n".join(out)
