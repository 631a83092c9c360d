"""Parquet table loader for the driver-materialized star schema
(see TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings.

``load_table`` is the only code that reads one of these tables: a plain
``spark.read.parquet`` (Catalyst handles column pruning and filter
pushdown; do NOT pre-collect or pre-filter here), the declared read schema
where a table has one, and the caller's optional scan fan-out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Declared read schemas. The driver parquet stores events.ts as
# TIMESTAMP(MICROS, isAdjustedToUTC=false); the explicit schema forces NTZ
# even in a session where ``spark.sql.parquet.inferTimestampNTZ.enabled`` is
# off (which would otherwise surface it as LTZ in the session timezone). No
# session conf is mutated — loads must be side-effect free so concurrent
# queries sharing one session never race on reader behavior.
_SCHEMAS = {
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ),
}

# Scan fan-out floors (``fanout_min_bytes`` of ``load_table``): fan out only
# when the map work over the scan can pay for the extra shuffle. Below the
# floor the fan-out is a measured LOSS (round-4 sf0.1); above it, measured
# sf1 wins: q1 5.9 → 2.9 s, minhash 14.1 → 7.4 s.
#   TABLE  — relational tables do cheap columnar arithmetic per byte.
#   TEXT   — documents scans carry heavy per-byte map work (tokenize,
#            32 md5s per shingle).
#   SUFFIX — suffix-grain queries (docs_lrs_*) multiply map work by LRS_CAP
#            (~30x), so their fan-out pays at ~30x smaller inputs.
# The choice belongs to the consumer, not the table: a scan whose FIRST
# consumer is a key shuffle (join, window, near-unique groupBy/distinct,
# also after broadcast probes) passes None, because the one-split scan must
# serialize the shuffle write either way and the round-robin exchange only
# re-ships the post-pushdown scan. Interleaved warm-median A/Bs, plain vs
# fan-out: join_region_revenue sf1 6.3 vs 14.2 s (r9); q5 sf1 2.131 vs
# 8.820, q3 sf1 2.418 vs 4.643, q18 sf1 7.629 vs 10.995 (r10); q8 2.255 vs
# 8.474, q9 4.349 vs 8.740, q19 1.065 vs 5.376 (r10 pin sweep). The fan-out
# keeps map-heavy consumers: per-row expression work or low-cardinality
# partial aggs (q1 class), a pushed filter followed by probes with no key
# shuffle (q14 0.986 vs 1.148), and washes (q11/q17 partkey grain).
SCAN_FANOUT_TABLE_MIN_BYTES = 8 << 20
SCAN_FANOUT_TEXT_MIN_BYTES = 2 << 20
SCAN_FANOUT_SUFFIX_MIN_BYTES = 256 << 10


def _local_parquet_bytes(path: str) -> int | None:
    """Driver-side total byte size of a local parquet file or directory of
    part files; None when the path is not a local filesystem path (object
    stores return None → the fan-out self-disables, since at real cluster
    scale scans have many splits anyway)."""
    p = path[len("file:") :] if path.startswith("file:") else path
    if not os.path.exists(p):
        return None
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout_min_bytes: int | None = None,
) -> DataFrame:
    """Read registry table ``name`` under ``sf_dir``.

    ``fanout_min_bytes=None`` is a plain scan. An int adds a SIZE-GATED
    round-robin fan-out for under-split inputs: parquet parallelism is
    bounded by row groups, so a single small-file table (the driver
    testdata layout — one file, one row group) is ONE input split no matter
    how many cores exist, and every map-side operator over it runs on one
    core. The gate keeps the repartition out of every case where it cannot
    pay:
      - total bytes < ``fanout_min_bytes`` → the map work is too small to
        beat the shuffle + task overhead;
      - estimated splits (total / spark.sql.files.maxPartitionBytes)
        already ≥ defaultParallelism → the scan parallelizes by itself —
        the 100 TB case, where the fan-out is a no-op by construction;
      - non-local path → size unknown, assume real-scale storage.

    Values are partitioning-independent for every registered query
    (proven by the local[4]/local[8] full sweeps), so the fan-out is a
    pure plan-level choice.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    if name in _SCHEMAS:
        reader = reader.schema(_SCHEMAS[name])
    df = reader.parquet(path)
    if fanout_min_bytes is None:
        return df
    total = _local_parquet_bytes(path)
    if total is None or total < fanout_min_bytes:
        return df
    # Spark's own reading of the conf, so unit strings ("128m", "1g") count
    # as the bytes they mean
    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    par = spark.sparkContext.defaultParallelism
    est_splits = max(1, -(-total // mpb))
    if est_splits >= par:
        return df
    return df.repartition(par)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators are usable from
    Spark SQL as well as the DataFrame API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
