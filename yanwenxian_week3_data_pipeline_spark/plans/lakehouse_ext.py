"""Lakehouse table-maintenance operators (EXT; no reference counterpart —
the reference never mutates data after writing, cleaner.py:146-154):

- ``tbl_upsert_snapshot`` — SCD-1 MERGE semantics expressed relationally:
  a key-hashed snapshot full-outer-joins a change feed; matched keys take
  the feed's new values (update), unmatched feed keys insert, unmatched
  snapshot keys keep. This is the logical plan a MERGE INTO statement
  lowers to, and the shape is one shuffle on the merge key (at cluster
  scale the snapshot is bucketed by key so the merge is a co-located
  join + rewrite of only the touched buckets).
- ``tbl_scd2_history`` — SCD-2 effective-dated history built from an event
  log: consecutive equal values collapse into validity ranges
  (valid_from, valid_to, is_current) via change-point detection (lag) and
  a running change counter — the standard two-window formulation, both
  windows partitioned by the entity key so no global sort exists.

Both deterministic and fully SQL-expressible; money math stays in DECIMAL
(exact under parallel reduction; rounding half-away-from-zero agrees across
engines for the non-negative amounts here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash60_expr, hash60_sql
from ..sources.tables import load_table
from . import QuerySpec
from .relational import _gated_dim

DEC = "decimal(18,2)"

# key-hash buckets (of 1000) splitting orders into the merge fixture:
# snapshot = buckets < 900, change feed = buckets >= 700 — so 700-899 are
# updates to existing keys and 900-999 are fresh inserts
UPSERT_SNAPSHOT_MAX = 900
UPSERT_FEED_MIN = 700


def _q_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bkt = hash60_expr(F.col("o_orderkey").cast("string")) % 1000
    snap = o.where(bkt < UPSERT_SNAPSHOT_MAX).select(
        "o_orderkey", F.col("o_totalprice").cast(DEC).alias("old_price")
    )
    feed = o.where(bkt >= UPSERT_FEED_MIN).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice").cast(DEC) * F.lit("1.1").cast("decimal(2,1)"), 2
        )
        .cast(DEC)
        .alias("new_price"),
    )
    m = snap.join(feed, "o_orderkey", "full_outer")
    action = (
        F.when(F.col("old_price").isNotNull() & F.col("new_price").isNotNull(), "update")
        .when(F.col("new_price").isNotNull(), "insert")
        .otherwise("keep")
    )
    return m.select(
        "o_orderkey",
        F.coalesce(F.col("new_price"), F.col("old_price")).alias("final_price"),
        action.alias("action"),
    )


_SQL_UPSERT_SNAPSHOT = f"""
WITH b AS (SELECT o_orderkey, o_totalprice,
                  ({hash60_sql('CAST(o_orderkey AS VARCHAR)')} % 1000) AS bkt
           FROM orders),
snap AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS old_price
         FROM b WHERE bkt < {UPSERT_SNAPSHOT_MAX}),
feed AS (SELECT o_orderkey,
                CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 2)
                     AS DECIMAL(18,2)) AS new_price
         FROM b WHERE bkt >= {UPSERT_FEED_MIN})
SELECT coalesce(s.o_orderkey, f.o_orderkey) AS o_orderkey,
       coalesce(f.new_price, s.old_price) AS final_price,
       CASE WHEN s.o_orderkey IS NOT NULL AND f.o_orderkey IS NOT NULL THEN 'update'
            WHEN f.o_orderkey IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM snap s FULL OUTER JOIN feed f ON f.o_orderkey = s.o_orderkey
"""


def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    runs = e.withColumn("grp", F.sum(changed).over(w))
    spans = runs.groupBy("user_id", "grp", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return spans.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


_SQL_SCD2_HISTORY = """
WITH flags AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flags),
spans AS (
  SELECT user_id, grp, event_type, min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, grp, event_type)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w3 AS valid_to,
       n_events,
       (lead(valid_from) OVER w3 IS NULL) AS is_current
FROM spans
WINDOW w3 AS (PARTITION BY user_id ORDER BY valid_from)
"""


# ---------------------------------------------------------------------------
# tbl_version_diff — corpus version diff (the CDC companion to
# docs_corpus_checksum: checksum says WHETHER the dataset changed, this
# says WHAT): two snapshot views derived deterministically from the
# documents table (v1 drops doc_id % 11 == 0, v2 drops % 13 == 0 and
# rewrites % 7 == 0 — the dedup_incremental precedent for simulating
# versions inside one sf_dir), full-outer-joined on doc_id with per-row
# content hashes compared → added / removed / changed / unchanged counts
# per language. Scale shape: ONE full-outer shuffle join on the key;
# content equality via the 60-bit hash, never string comparison of full
# documents across the join.
# ---------------------------------------------------------------------------

def _q_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash60_expr

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    v1 = d.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "lang", hash60_expr(F.col("text")).alias("h1")
    )
    v2 = d.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        "lang",
        hash60_expr(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
    )
    j = v1.alias("a").join(v2.alias("b"), "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"), status.alias("status"))
        .groupBy("lang", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_version_diff() -> str:
    from ..functions.hashing import hash60_sql

    edited = (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END"
    )
    return f"""
WITH v1 AS (SELECT doc_id, lang, {hash60_sql("text")} AS h1
            FROM documents WHERE doc_id % 11 <> 0),
v2 AS (SELECT doc_id, lang, {hash60_sql(edited)} AS h2
       FROM documents WHERE doc_id % 13 <> 0),
j AS (SELECT coalesce(v1.lang, v2.lang) AS lang,
             CASE WHEN h1 IS NULL THEN 'added'
                  WHEN h2 IS NULL THEN 'removed'
                  WHEN h1 <> h2 THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 USING (doc_id))
SELECT lang, status, count(*) AS n_docs FROM j GROUP BY lang, status
"""


# ---------------------------------------------------------------------------
# tbl_incremental_hourly_agg — incremental aggregate maintenance: the batch
# form of what a materialized view / streaming aggregation does. The
# standing hourly aggregate (events before the cutover) is MERGED with the
# new batch's partial aggregate (events at/after it) by a full-outer join
# on the window key, summing counts and decimal totals — the new batch is
# scanned once and the standing table is never recomputed. The ORACLE is
# the from-scratch aggregate over all events, so the hash check certifies
# the algebraic property the whole pattern rests on: merge(agg(old),
# agg(new)) == agg(old ∪ new) — true here because count/sum are
# commutative monoids and the decimal sums are exact. At 100 TB the
# standing side is a partitioned table and only window keys present in the
# batch are rewritten (MERGE INTO keyed by the window start).
# ---------------------------------------------------------------------------

INCR_CUTOVER = "2024-01-16 00:00:00"


def _q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts events are EXCLUDED by declaration (they belong to no window);
    # the oracle filters them identically so the rule is part of the contract
    # rather than an accident of which side of the cutover nulls fall on
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cut = F.lit(INCR_CUTOVER).cast("timestamp_ntz")

    from .analytic_ext import _hour_ntz

    def hourly(df: DataFrame) -> DataFrame:
        # _hour_ntz, not date_trunc: NTZ-in/NTZ-out, session-zone-proof
        return df.groupBy(_hour_ntz(F.col("ts")).alias("h")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )

    standing = hourly(e.where(F.col("ts") < cut))
    batch = hourly(e.where(F.col("ts") >= cut))
    s, b = standing.alias("s"), batch.alias("b")
    return (
        s.join(b, F.col("s.h") == F.col("b.h"), "full_outer")
        .select(
            F.coalesce(F.col("s.h"), F.col("b.h")).alias("window_start"),
            (
                F.coalesce(F.col("s.n_events"), F.lit(0))
                + F.coalesce(F.col("b.n_events"), F.lit(0))
            ).cast("long").alias("n_events"),
            (
                F.coalesce(F.col("s.sum_value"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("b.sum_value"), F.lit(0).cast("decimal(18,2)"))
            ).alias("sum_value"),
        )
    )


_SQL_INCREMENTAL_AGG = """
SELECT date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       sum(CAST(value AS DECIMAL(18,2))) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""


# ---------------------------------------------------------------------------
# join_scd2_point_in_time — the query every SCD-2 dimension exists FOR:
# facts (purchases) joined to the dimension version that was effective AT
# the fact's timestamp. Spark shape: a backward AS-OF join of facts onto
# the span-START rows (operators/asof.py: one union-tag-window shuffle, no
# interval explode) — valid because non-degenerate spans tile each user's
# timeline with strictly increasing valid_from, so "latest span started
# at-or-before ts" IS the containing span. Degenerate zero-length spans
# (same-timestamp attribute flips) are filtered first; that also makes the
# as-of tie-free. The oracle states the semantic directly as half-open
# containment (valid_from ≤ ts < valid_to), which is the definitionally
# correct but shuffle-hostile form — the equivalence of the two
# formulations is exactly what the hash check certifies.
# ---------------------------------------------------------------------------

def _q_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    dim = (
        _q_scd2_history(spark, sf_dir)
        .where(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .select(
            "user_id",
            F.col("valid_from").alias("ts"),
            F.col("event_type").alias("span_type"),
            F.col("n_events").alias("span_events"),
        )
    )
    facts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    )
    out = asof_join(facts, dim, on="ts", by="user_id")
    return out.select(
        "user_id",
        "purchase_id",
        F.col("ts").alias("purchase_ts"),
        F.col("r_span_type").alias("span_type"),
        F.col("r_ts").alias("span_from"),
        F.col("r_span_events").alias("span_events"),
    )


_SQL_SCD2_PIT = f"""
WITH scd2 AS ({_SQL_SCD2_HISTORY}),
live AS (SELECT * FROM scd2 WHERE valid_to IS NULL OR valid_to > valid_from),
facts AS (SELECT user_id, ts, event_id AS purchase_id FROM events
          WHERE event_type = 'purchase')
SELECT f.user_id, f.purchase_id, f.ts AS purchase_ts,
       d.event_type AS span_type, d.valid_from AS span_from,
       d.n_events AS span_events
FROM facts f JOIN live d
  ON d.user_id = f.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


# ---------------------------------------------------------------------------
# dq_expectations_orders — declarative data-quality expectations evaluated
# in one pass (the Deequ/Great-Expectations shape): completeness,
# uniqueness, value range, accepted values, and referential integrity, each
# reported as a [0,1] metric with passed = metric == 1. The referential
# check folds into the same scan via a broadcast left join against the
# distinct parent keys, so the whole suite costs ONE scan + one wide
# aggregate — at 100 TB you never run one job per check. Generalizing the
# reference's per-row validation (validator.py:48-96) to table-level
# constraints.
# ---------------------------------------------------------------------------

def _q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    parents = load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    # distinct parent keys are |customer|-bounded → size-gated broadcast
    # (customer is fact-sized at 100 TB; the gate degrades this to a
    # shuffled merge join by construction past 64 MB)
    j = o.join(_gated_dim(parents, sf_dir, "customer"), o.o_custkey == parents.c_custkey, "left")
    frac = lambda cond: F.round(  # noqa: E731 - tiny local alias
        F.sum(cond.cast("long")) / F.count(F.lit(1)), 6
    )
    a = j.agg(
        frac(F.col("o_custkey").isNotNull()).alias("m_complete"),
        F.round(F.count_distinct("o_orderkey") / F.count(F.lit(1)), 6).alias(
            "m_unique"
        ),
        frac(F.col("o_totalprice") >= 0).alias("m_nonneg"),
        frac(F.col("o_orderstatus").isin("O", "F", "P")).alias("m_accepted"),
        frac(F.col("c_custkey").isNotNull()).alias("m_referential"),
        frac(
            F.col("o_orderdate").between("2020-01-01", "2030-01-01")
        ).alias("m_daterange"),
    )
    stacked = a.select(
        F.expr(
            "stack(6,"
            " 'completeness_custkey', m_complete,"
            " 'uniqueness_orderkey', m_unique,"
            " 'non_negative_totalprice', m_nonneg,"
            " 'accepted_values_status', m_accepted,"
            " 'referential_custkey', m_referential,"
            " 'range_orderdate', m_daterange) AS (check_name, metric)"
        )
    )
    return stacked.select(
        "check_name", "metric", (F.col("metric") >= 1.0).alias("passed")
    )


_SQL_DQ_EXPECTATIONS = """
WITH j AS (
  SELECT o.*, (c.c_custkey IS NOT NULL) AS has_parent
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON c.c_custkey = o.o_custkey),
m AS (
  SELECT
    round(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS m_complete,
    round(count(DISTINCT o_orderkey) / count(*), 6) AS m_unique,
    round(sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) / count(*), 6) AS m_nonneg,
    round(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) / count(*), 6) AS m_accepted,
    round(sum(CASE WHEN has_parent THEN 1 ELSE 0 END) / count(*), 6) AS m_referential,
    round(sum(CASE WHEN o_orderdate BETWEEN '2020-01-01' AND '2030-01-01' THEN 1 ELSE 0 END) / count(*), 6) AS m_daterange
  FROM j)
SELECT check_name, metric, (metric >= 1.0) AS passed FROM (
  SELECT 'completeness_custkey' AS check_name, m_complete AS metric FROM m
  UNION ALL SELECT 'uniqueness_orderkey', m_unique FROM m
  UNION ALL SELECT 'non_negative_totalprice', m_nonneg FROM m
  UNION ALL SELECT 'accepted_values_status', m_accepted FROM m
  UNION ALL SELECT 'referential_custkey', m_referential FROM m
  UNION ALL SELECT 'range_orderdate', m_daterange FROM m)
"""


# ---------------------------------------------------------------------------
# tbl_compaction_plan — small-partition compaction planner: the hourly
# event partitions are the "files"; within each day, hours are packed
# into compaction groups by running-total capacity binning
# (group = cum_rows_before div TARGET — the fixed-capacity approximation
# every production compactor uses; a greedy exact-fit would be a
# sequential scan). The plan emits per-group partition counts, row
# totals, and the hour range to rewrite. Scale shape: one hourly
# aggregate (map-side combinable) + one window partitioned by DAY (never
# a global sort; a day holds ≤ 24 rows), then a group-by on the tiny
# plan key. All-integer arithmetic.
# ---------------------------------------------------------------------------

COMPACT_TARGET_ROWS = 4000


def _q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy("day").orderBy("hr")
    cum_before = F.coalesce(
        F.sum("n_rows").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    planned = hourly.withColumn("cum_before", cum_before).withColumn(
        "grp", F.expr(f"cum_before div {COMPACT_TARGET_ROWS}")
    )
    return (
        planned.groupBy("day", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("hr").alias("hr_lo"),
            F.max("hr").alias("hr_hi"),
        )
        .withColumn("needs_compaction", F.col("n_partitions") > 1)
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "grp",
            "n_partitions",
            "total_rows",
            "hr_lo",
            "hr_hi",
            "needs_compaction",
        )
        .orderBy("day", "grp")
    )


_SQL_COMPACTION_PLAN = f"""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr,
         count(*) AS n_rows
  FROM events GROUP BY 1, 2),
planned AS (
  SELECT day, hr, n_rows,
    CAST(coalesce(sum(n_rows) OVER (PARTITION BY day ORDER BY hr
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {COMPACT_TARGET_ROWS} AS BIGINT) AS grp
  FROM hourly)
SELECT CAST(day AS TIMESTAMP) AS day, grp,
  CAST(count(*) AS BIGINT) AS n_partitions,
  CAST(sum(n_rows) AS BIGINT) AS total_rows,
  min(hr) AS hr_lo, max(hr) AS hr_hi,
  count(*) > 1 AS needs_compaction
FROM planned GROUP BY day, grp ORDER BY day, grp
"""


QUERIES = [
    QuerySpec("tbl_upsert_snapshot", _q_upsert_snapshot, _SQL_UPSERT_SNAPSHOT),
    QuerySpec("tbl_compaction_plan", _q_compaction_plan, _SQL_COMPACTION_PLAN),
    QuerySpec("tbl_scd2_history", _q_scd2_history, _SQL_SCD2_HISTORY),
    QuerySpec("join_scd2_point_in_time", _q_scd2_pit, _SQL_SCD2_PIT),
    QuerySpec("tbl_incremental_hourly_agg", _q_incremental_agg, _SQL_INCREMENTAL_AGG),
    QuerySpec("tbl_version_diff", _q_version_diff, _sql_version_diff()),
    QuerySpec("dq_expectations_orders", _q_dq_expectations, _SQL_DQ_EXPECTATIONS),
]
