"""Reference-surface queries (SURVEY.md §2.1-2.9) expressed over the driver
tables, each with a DuckDB oracle twin built from the SAME SQL fragments as
the Spark expressions (plans/documents_domain.py, functions/*).

IDs reuse the SURVEY §2 inventory names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dates import parse_iso_date_expr, parse_iso_date_sql
from ..functions.text import (
    clean_text_expr,
    is_missing_expr,
    is_missing_sql,
)
from ..operators.aggregates import completeness, date_range, failure_distribution, pass_rate
from ..operators.dedup import dedup_keep_first, first_complete_flag
from ..operators.validate import passed_expr, with_validation
from ..sources.tables import load_table
from . import QuerySpec
from .documents_domain import (
    CLEANED_CTE,
    COMPLETE_WHERE,
    DEDUP_CTE,
    MESSAGE_SQL,
    PASSED_SQL,
    REASON_SQL,
    cleaned_documents,
    complete_predicate,
    document_rules,
)


# Staged document DataFrames (shared by several queries)

def _doc_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    cleaned = cleaned_documents(docs)
    complete = cleaned.where(complete_predicate())
    deduped = dedup_keep_first(complete, key_cols=("text_clean",), order_col="doc_id")
    validated = with_validation(deduped, document_rules())
    return {
        "loaded": docs,
        "cleaned": cleaned,
        "complete": complete,
        "deduped": deduped,
        "validated": validated,
        "valid": validated.where(F.col("passed")),
    }


_STAGES_SQL = f"""
WITH cleaned AS ({CLEANED_CTE}),
complete AS (SELECT * FROM cleaned WHERE {COMPLETE_WHERE}),
deduped AS ({DEDUP_CTE}),
validated AS (SELECT *, {PASSED_SQL} AS passed, {REASON_SQL} AS reason, {MESSAGE_SQL} AS message FROM deduped)
"""


# ---------------------------------------------------------------------------
# fn_clean_text
# ---------------------------------------------------------------------------

def _q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", clean_text_expr(F.col("text")).alias("text_clean")
    )


from .documents_domain import CLEAN_SQL  # noqa: E402

_SQL_CLEAN_TEXT = f"SELECT doc_id, {CLEAN_SQL} AS text_clean FROM documents"


# ---------------------------------------------------------------------------
# pred_is_missing
# ---------------------------------------------------------------------------

def _q_is_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        is_missing_expr(F.col("text")).alias("text_missing"),
        is_missing_expr(F.col("lang")).alias("lang_missing"),
    )


_SQL_IS_MISSING = (
    f"SELECT doc_id, {is_missing_sql('text')} AS text_missing, "
    f"{is_missing_sql('lang')} AS lang_missing FROM documents"
)


# ---------------------------------------------------------------------------
# flt_drop_incomplete
# ---------------------------------------------------------------------------

def _q_drop_incomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return st["complete"].select("doc_id", "lang", "source")


_SQL_DROP_INCOMPLETE = (
    f"WITH cleaned AS ({CLEANED_CTE}) "
    f"SELECT doc_id, lang, source FROM cleaned WHERE {COMPLETE_WHERE}"
)


# ---------------------------------------------------------------------------
# dedup_keep_first
# ---------------------------------------------------------------------------

def _q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return st["deduped"].select("doc_id")


_SQL_DEDUP_KEEP_FIRST = _STAGES_SQL + "SELECT doc_id FROM deduped"


# ---------------------------------------------------------------------------
# val_batch (the reference's core query: per-row passed/reason/message)
# ---------------------------------------------------------------------------

def _q_val_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return st["validated"].select("doc_id", "passed", "reason", "message")


_SQL_VAL_BATCH = _STAGES_SQL + "SELECT doc_id, passed, reason, message FROM validated"


# ---------------------------------------------------------------------------
# flt_valid_rows
# ---------------------------------------------------------------------------

def _q_valid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return st["valid"].select("doc_id", "lang", "source")


_SQL_VALID_ROWS = _STAGES_SQL + "SELECT doc_id, lang, source FROM validated WHERE passed"


# ---------------------------------------------------------------------------
# agg_counts_funnel — THE FLAGSHIP (entry() runs this)
# ---------------------------------------------------------------------------

def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass funnel: ONE scan computes per-row stage-survival flags,
    then one aggregate produces all four stage counts (exploded to rows).

    - ``complete``: the completeness predicate;
    - ``kept`` (dedup survivor): first complete row per dedup key
      (``first_complete_flag``, i.e. ``dedup_keep_first`` applied to the
      complete subset);
    - ``valid``: kept ∧ all validation rules pass (row-local expressions).

    The staged form (four cascading DataFrames, one count each) scans and
    re-cleans the table once per stage — 4× the I/O at 100 TB; this shape
    reads it once and shuffles once (the dedup-key window)."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = cleaned_documents(docs).withColumn("_complete", complete_predicate())
    flagged = flagged.withColumn(
        "_kept", first_complete_flag(F.col("_complete"), ("text_clean",), "doc_id")
    )
    # passed_expr, not with_validation: the funnel reads only the boolean,
    # but size(failures)==0 forces codegen of every rule's message
    # expression (format_string/concat inside the structs — Catalyst can't
    # prune subtrees of a needed expression). The predicate-only form was
    # the r10 bounded attempt at this query's documented JIT-tiering decay:
    # interleaved A/B over the whole slope (20 rounds, sf0.1) — early
    # median 0.920 vs 1.046 s, late 0.734 vs 0.783, full -13%, won 18/20
    # rounds. Smaller generated code runs faster at every tier AND
    # plateaus sooner.
    validated = flagged.withColumn("passed", passed_expr(document_rules()))
    counts = validated.agg(
        F.count(F.lit(1)).alias("n_loaded"),
        F.sum(F.col("_complete").cast("long")).alias("n_complete"),
        F.sum(F.col("_kept").cast("long")).alias("n_deduped"),
        F.sum((F.col("_kept") & F.col("passed")).cast("long")).alias("n_valid"),
    )

    def stage(idx: int, name: str, n: str):
        return F.struct(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(n).alias("n_rows"),
        )

    stages = F.array(
        stage(0, "loaded", "n_loaded"),
        stage(1, "complete", "n_complete"),
        stage(2, "deduped", "n_deduped"),
        stage(3, "valid", "n_valid"),
    )
    return counts.select(F.explode(stages).alias("s")).select(
        "s.stage_idx", "s.stage", "s.n_rows"
    )


_SQL_FUNNEL = _STAGES_SQL + """
SELECT 0 AS stage_idx, 'loaded' AS stage, (SELECT count(*) FROM documents) AS n_rows
UNION ALL SELECT 1, 'complete', (SELECT count(*) FROM complete)
UNION ALL SELECT 2, 'deduped', (SELECT count(*) FROM deduped)
UNION ALL SELECT 3, 'valid', (SELECT count(*) FROM validated WHERE passed)
"""


# ---------------------------------------------------------------------------
# agg_completeness
# ---------------------------------------------------------------------------

def _q_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return completeness(load_table(spark, sf_dir, "documents"), ["text", "lang", "source"])


def _completeness_col_sql(c: str) -> str:
    return (
        f"SELECT '{c}' AS \"column\", "
        f"CAST(count(*) FILTER (WHERE NOT {is_missing_sql(c)}) AS BIGINT) AS non_empty, "
        f"count(*) AS total FROM documents"
    )


_SQL_COMPLETENESS = (
    "WITH per_col AS ("
    + " UNION ALL ".join(_completeness_col_sql(c) for c in ("text", "lang", "source"))
    + ") SELECT \"column\", non_empty, total, "
    "round(CASE WHEN total > 0 THEN non_empty * 100.0 / total ELSE 0.0 END, 1) AS pct FROM per_col"
)


def _q_completeness_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark twin of agg_completeness — the migration path for
    the reference's own pandas code (cleaner.py:193-202 computes exactly this
    frame with pandas idioms). Each Series op (isnull / str.replace /
    str.strip) lowers to distributed Column expressions; only the three
    per-column scalar counts reach the driver (bounded by column count, not
    rows). Deliberately NO ``astype(str)`` — that is the §1.4 null→'None'
    bug the rebuild excludes. The pct division is re-expressed as a Spark
    round() so the twin shares agg_completeness's oracle (python round is
    banker's and would diverge on exact .x5)."""
    import pyspark.pandas as ps

    from ..functions.text import _WS_RUN

    # index_col: reuse the key as index — the default distributed-sequence
    # index would cost an extra pass to invent ordinal row numbers
    psdf = ps.read_parquet(f"{sf_dir}/documents.parquet", index_col="doc_id")
    total = len(psdf)
    recs = []
    for c in ("text", "lang", "source"):
        s = psdf[c]
        missing = s.isnull() | (s.str.replace(_WS_RUN, " ", regex=True).str.strip() == "")
        recs.append((c, int((~missing).sum()), total))
    out = spark.createDataFrame(recs, "column string, non_empty long, total long")
    return out.withColumn(
        "pct",
        F.when(
            F.col("total") > 0, F.round(F.col("non_empty") * 100.0 / F.col("total"), 1)
        ).otherwise(0.0),
    )


# ---------------------------------------------------------------------------
# agg_failure_dist / agg_top_failure / agg_pass_rate
# ---------------------------------------------------------------------------

def _q_failure_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return failure_distribution(st["validated"])


_SQL_FAILURE_DIST = _STAGES_SQL + (
    "SELECT reason, count(*) AS n FROM validated WHERE NOT passed "
    "GROUP BY reason ORDER BY n DESC, reason ASC"
)


def _q_top_failure(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return failure_distribution(st["validated"]).limit(1)


_SQL_TOP_FAILURE = _SQL_FAILURE_DIST + " LIMIT 1"


def _q_pass_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return pass_rate(st["validated"])


_SQL_PASS_RATE = _STAGES_SQL + (
    "SELECT count(*) AS total, "
    "CAST(count(*) FILTER (WHERE passed) AS BIGINT) AS passed, "
    "CAST(count(*) FILTER (WHERE NOT passed) AS BIGINT) AS failed, "
    "round(CASE WHEN count(*) > 0 THEN count(*) FILTER (WHERE passed) * 100.0 / count(*) ELSE 0.0 END, 1) AS pass_rate_pct "
    "FROM validated"
)


# ---------------------------------------------------------------------------
# agg_date_range (orders.o_orderdate — the timestamp column)
# ---------------------------------------------------------------------------

def _q_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return date_range(load_table(spark, sf_dir, "orders"), "o_orderdate")


_SQL_DATE_RANGE = (
    "SELECT min(o_orderdate) AS earliest, max(o_orderdate) AS latest, "
    "count(o_orderdate) AS n_dated, count(*) AS n_rows FROM orders"
)


# ---------------------------------------------------------------------------
# fn_parse_iso_date — permissive multi-format date parsing, exercised by
# rendering o_orderdate into 5 formats (incl. invalid + missing literals)
# and parsing back
# ---------------------------------------------------------------------------

def _q_parse_iso_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = (F.col("o_orderkey") % 5).cast("int")
    raw = (
        F.when(m == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(m == 1, F.date_format("o_orderdate", "MMM d, yyyy"))
        .when(m == 2, F.date_format("o_orderdate", "d/M/yyyy"))
        .when(m == 3, F.concat(F.lit("not-a-date-"), F.col("o_orderkey").cast("string")))
        .otherwise(F.lit("none"))
    )
    return o.select(
        "o_orderkey",
        raw.alias("raw_date"),
        parse_iso_date_expr(raw).alias("iso_date"),
    )


_SQL_PARSE_ISO_DATE = f"""
WITH shaped AS (
  SELECT o_orderkey,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      WHEN 1 THEN strftime(o_orderdate, '%b %-d, %Y')
      WHEN 2 THEN strftime(o_orderdate, '%-d/%-m/%Y')
      WHEN 3 THEN 'not-a-date-' || o_orderkey
      ELSE 'none'
    END AS raw_date
  FROM orders
)
SELECT o_orderkey, raw_date, {parse_iso_date_sql('raw_date')} AS iso_date FROM shaped
"""


# ---------------------------------------------------------------------------
# pred_safe_str — stringify-with-default (validator.py:38-45 `_safe_str`):
# nulls/blank → "" on a string col; numeric cols stringified losslessly
# (bigint only — double rendering is engine-specific, excluded by the fixed
# schema exactly as nested types were in the reference)
# ---------------------------------------------------------------------------

def _q_safe_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.trim(F.col("source").cast("string")), F.lit("")).alias("source_str"),
        F.coalesce(F.trim(F.col("n_chars").cast("string")), F.lit("")).alias("n_chars_str"),
    )


_SQL_SAFE_STR = (
    "SELECT doc_id, coalesce(trim(CAST(source AS VARCHAR)), '') AS source_str, "
    "coalesce(trim(CAST(n_chars AS VARCHAR)), '') AS n_chars_str FROM documents"
)


# ---------------------------------------------------------------------------
# proj_text_cols — project the text-cleanable column subset (cleaner.py:317);
# with a fixed schema this is a plain pruning projection (ReadSchema shrinks
# to exactly these columns)
# ---------------------------------------------------------------------------

def _q_proj_text_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")


_SQL_PROJ_TEXT_COLS = "SELECT doc_id, text, lang, source FROM documents"


# ---------------------------------------------------------------------------
# fn_alias_published — derive the canonical date column from the raw one when
# absent (cleaner.py:311-312 `published`→`published_date` copy)
# ---------------------------------------------------------------------------

def _q_alias_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    published = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return ev.select(
        "event_id",
        published.alias("published"),
        published.alias("published_date"),
    )


_SQL_ALIAS_PUBLISHED = (
    "SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS published, "
    "strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS published_date FROM events"
)


# ---------------------------------------------------------------------------
# val_row — single-record validation (validator.py:48-96): same composed rule
# expression as val_batch, point-looked-up by key (partition-prunable filter)
# ---------------------------------------------------------------------------

def _q_val_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _doc_stages(spark, sf_dir)
    return st["validated"].where(F.col("doc_id") == 42).select(
        "doc_id", "passed", "reason", "message"
    )


_SQL_VAL_ROW = _STAGES_SQL + (
    "SELECT doc_id, passed, reason, message FROM validated WHERE doc_id = 42"
)


# ---------------------------------------------------------------------------
# agg_notna — count of parseable (non-null) values (cleaner.py:326-327)
# ---------------------------------------------------------------------------

def _q_notna(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("ts").alias("n_parsed"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_SQL_NOTNA = "SELECT count(ts) AS n_parsed, count(*) AS n_rows FROM events"


QUERIES = [
    QuerySpec("fn_clean_text", _q_clean_text, _SQL_CLEAN_TEXT),
    QuerySpec("fn_parse_iso_date", _q_parse_iso_date, _SQL_PARSE_ISO_DATE),
    QuerySpec("pred_is_missing", _q_is_missing, _SQL_IS_MISSING),
    QuerySpec("flt_drop_incomplete", _q_drop_incomplete, _SQL_DROP_INCOMPLETE),
    QuerySpec("dedup_keep_first", _q_dedup_keep_first, _SQL_DEDUP_KEEP_FIRST),
    QuerySpec("val_batch", _q_val_batch, _SQL_VAL_BATCH),
    QuerySpec("flt_valid_rows", _q_valid_rows, _SQL_VALID_ROWS),
    QuerySpec("agg_counts_funnel", _q_funnel, _SQL_FUNNEL, headline=True),
    QuerySpec("agg_completeness", _q_completeness, _SQL_COMPLETENESS),
    QuerySpec("agg_completeness_ps", _q_completeness_ps, _SQL_COMPLETENESS),
    QuerySpec("agg_failure_dist", _q_failure_dist, _SQL_FAILURE_DIST),
    QuerySpec("agg_top_failure", _q_top_failure, _SQL_TOP_FAILURE),
    QuerySpec("agg_pass_rate", _q_pass_rate, _SQL_PASS_RATE),
    QuerySpec("agg_date_range", _q_date_range, _SQL_DATE_RANGE),
    QuerySpec("pred_safe_str", _q_safe_str, _SQL_SAFE_STR),
    QuerySpec("proj_text_cols", _q_proj_text_cols, _SQL_PROJ_TEXT_COLS),
    QuerySpec("fn_alias_published", _q_alias_published, _SQL_ALIAS_PUBLISHED),
    QuerySpec("val_row", _q_val_row, _SQL_VAL_ROW),
    QuerySpec("agg_notna", _q_notna, _SQL_NOTNA),
]
