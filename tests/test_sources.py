"""Loader contracts: side-effect-free table loads and conf-independent
event timestamps (VERDICT r1 item 4)."""

from __future__ import annotations

import datetime


def test_load_events_does_not_mutate_session_conf(spark, sf_dir):
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_table

    probes = [
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]

    def snapshot():
        out = {}
        for k in probes:
            try:
                out[k] = spark.conf.get(k)
            except Exception:
                out[k] = "<unset>"
        return out

    before = snapshot()
    df = load_table(spark, sf_dir, "events")
    assert df.count() > 0
    assert snapshot() == before


def test_load_events_ntz_regardless_of_infer_conf(spark, sf_dir):
    """The explicit read schema must force TIMESTAMP_NTZ even in a session
    where parquet NTZ inference is disabled (a driver-like default session
    could have it off); values must be identical either way."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    original = spark.conf.get(key)
    base = load_table(spark, sf_dir, "events").orderBy("event_id").limit(5).collect()
    try:
        spark.conf.set(key, "false")
        df = load_table(spark, sf_dir, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got = df.orderBy("event_id").limit(5).collect()
    finally:
        spark.conf.set(key, original)
    assert [r.ts for r in got] == [r.ts for r in base]
    assert all(isinstance(r.ts, datetime.datetime) for r in got)


def test_two_loaders_interleaved_share_session_safely(spark, sf_dir):
    """Interleaving an events load between two reads of another table must
    not change the second read (loaders hold no session-level state)."""
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_table

    first = load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(3).collect()
    load_table(spark, sf_dir, "events").count()
    second = load_table(spark, sf_dir, "orders").orderBy("o_orderkey").limit(3).collect()
    assert first == second


def test_declared_schemas_match_the_files(spark, sf_dir):
    """A declared read schema must name the same columns and types that
    parquet inference finds in the files, so the declaration cannot drift
    from the data."""
    from yanwenxian_week3_data_pipeline_spark.sources import tables

    for name in tables._SCHEMAS:
        declared = tables.load_table(spark, sf_dir, name).schema
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert [(f.name, f.dataType) for f in declared] == [
            (f.name, f.dataType) for f in inferred
        ]


def test_fanned_out_events_keep_declared_schema(spark, sf_dir, monkeypatch):
    """The fan-out and the declared schema compose: a fanned-out events load
    is repartitioned AND keeps ts as TIMESTAMP_NTZ when NTZ inference is off."""
    from yanwenxian_week3_data_pipeline_spark.sources import tables

    floor = tables.SCAN_FANOUT_TABLE_MIN_BYTES
    monkeypatch.setattr(tables, "_local_parquet_bytes", lambda _p: floor)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = tables.load_table(spark, sf_dir, "events", floor)
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    finally:
        spark.conf.set(key, original)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_jsonl_audited_separates_corrupt_lines(spark, tmp_path):
    """The audited JSONL reader must route malformed lines to the reject
    frame (raw text preserved) and keep exactly the parseable records in
    the clean frame — no silent nulling."""
    import json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import (
        load_articles_jsonl,
        load_articles_jsonl_audited,
    )

    p = tmp_path / "feed.jsonl"
    good = [
        {"title": "A", "content": "c1", "url": "https://x/1"},
        {"title": "B", "content": "c2", "url": "https://x/2"},
    ]
    lines = [json.dumps(good[0]), "{broken json", json.dumps(good[1]), "also not json"]
    p.write_text("\n".join(lines), encoding="utf-8")

    clean, corrupt = load_articles_jsonl_audited(spark, str(p))
    assert {r.title for r in clean.collect()} == {"A", "B"}
    rejects = sorted(r.raw_line for r in corrupt.collect())
    assert rejects == ["also not json", "{broken json"]

    # the unaudited reader silently nulls the bad lines (the failure mode
    # the audit channel exists to expose)
    plain = load_articles_jsonl(spark, str(p))
    assert plain.count() == 4
    assert plain.where("title IS NULL AND content IS NULL AND url IS NULL").count() == 2


def test_record_ids_follow_file_order_across_partitions(spark, tmp_path):
    """With several input partitions the id is the partition's row offset
    plus the row's position in it: dense and in file order, for a
    JSON-Lines file read in >= 4 splits and for a directory of array
    files."""
    import json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import (
        load_articles,
        load_articles_jsonl,
    )

    def record(t):
        return {"title": t, "content": "body " * 8, "url": f"https://x/{t}"}

    titles = [f"t{i:05d}" for i in range(2000)]
    feed = tmp_path / "feed.jsonl"
    feed.write_text("\n".join(json.dumps(record(t)) for t in titles), encoding="utf-8")

    # Spark packs files largest first, so the array files shrink in name
    # order; each one is its own partition (multiLine files never split)
    arrays = tmp_path / "arrays"
    arrays.mkdir()
    array_titles = []
    for f, n in enumerate((40, 30, 20, 10)):
        part = [f"f{f}-{i:02d}" for i in range(n)]
        (arrays / f"part{f}.json").write_text(json.dumps([record(t) for t in part]), encoding="utf-8")
        array_titles += part

    def ids(df):
        return sorted((r.record_id, r.title) for r in df.select("record_id", "title").collect())

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
        assert spark.read.json(str(feed)).rdd.getNumPartitions() >= 4
        assert ids(load_articles_jsonl(spark, str(feed))) == list(enumerate(titles))
        assert spark.read.json(str(arrays), multiLine=True).rdd.getNumPartitions() == 4
        assert ids(load_articles(spark, str(arrays))) == list(enumerate(array_titles))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_load_articles_nonlist_wrapper_falls_through(spark, tmp_path):
    """{"articles": <non-list>} must follow the reference's dispatch
    (cleaner.py:137-142): NOT an empty frame — the whole dict becomes one
    record, same as the bare-object shape. Pinned on the multiLine batch
    path; the DataSource path pins the same rule in its pure-helper test."""
    import json as _json

    from yanwenxian_week3_data_pipeline_spark.sources.articles_json import (
        load_articles,
    )

    p = tmp_path / "weird.json"
    p.write_text(
        _json.dumps({"articles": 42, "title": "T", "content": "c", "url": "https://x"}),
        encoding="utf-8",
    )
    rows = load_articles(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].title == "T"


def test_read_parquet_fanout_gates(spark, tmp_path, monkeypatch):
    """The under-split-scan fan-out of ``load_table`` must, for every floor
    its callers pass, (a) leave a table below the floor alone — the shuffle
    cannot pay for itself, (b) repartition a single-split table at the floor
    to defaultParallelism, and (c) self-disable when the estimated split
    count already reaches the core count (the real-scale case, emulated by
    shrinking maxPartitionBytes). A plain load never fans out."""
    from yanwenxian_week3_data_pipeline_spark.sources import tables
    from yanwenxian_week3_data_pipeline_spark.sources.tables import load_table

    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    spark.range(10).coalesce(1).write.parquet(f"{small}/documents.parquet")
    spark.range(300_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).coalesce(1).write.parquet(f"{big}/documents.parquet")
    par = spark.sparkContext.defaultParallelism

    def fans_out(df) -> bool:
        return "Repartition" in df._jdf.queryExecution().logical().toString()

    # measured sizes: the tiny file stays put, the big one fans out
    assert load_table(spark, small, "documents", 1 << 20).rdd.getNumPartitions() == 1
    fanned = load_table(spark, big, "documents", 1 << 20)
    assert fans_out(fanned)
    assert fanned.rdd.getNumPartitions() == par
    # values identical, only the partitioning moved
    assert fanned.count() == 300_000
    assert not fans_out(load_table(spark, big, "documents"))

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # the byte count and its unit-string form read the same
        for mpb in (str(16 << 10), "16k"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            # measured size / 16KB >> cores -> no extra repartition node,
            # and the scan really does split by itself
            df = load_table(spark, big, "documents", 1 << 20)
            assert df.rdd.getNumPartitions() > 1
            assert not fans_out(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # each caller floor, with the on-disk size pinned either side of it
    for floor in (
        tables.SCAN_FANOUT_TABLE_MIN_BYTES,
        tables.SCAN_FANOUT_TEXT_MIN_BYTES,
        tables.SCAN_FANOUT_SUFFIX_MIN_BYTES,
    ):
        monkeypatch.setattr(tables, "_local_parquet_bytes", lambda _p, n=floor - 1: n)
        assert not fans_out(load_table(spark, big, "documents", floor))
        monkeypatch.setattr(tables, "_local_parquet_bytes", lambda _p, n=floor: n)
        at_floor = load_table(spark, big, "documents", floor)
        assert fans_out(at_floor)
        assert at_floor.rdd.getNumPartitions() == par
        try:
            # 128 MB as a unit string is one estimated split, as in bytes
            spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
            assert fans_out(load_table(spark, big, "documents", floor))
            # estimated splits = floor / (floor // par) >= cores -> no
            # extra repartition node, in bytes and in KB
            for mpb in (str(floor // par), f"{(floor // par) >> 10}k"):
                spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
                assert not fans_out(load_table(spark, big, "documents", floor))
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_one_read_path_for_registry_tables():
    """Plan, streaming and pipeline modules read registry tables only
    through ``sources.tables.load_table``: no ``spark.read...parquet(`` /
    ``.load(`` of their own, and no private helper that only wraps a load."""
    import ast
    from pathlib import Path

    import yanwenxian_week3_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    files = sorted(
        [*(root / "plans").glob("*.py"), *(root / "streaming").glob("*.py"), root / "pipeline.py"]
    )

    def chain(node):
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                node = node.func
        return names

    def is_read(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("parquet", "load")
            and "read" in chain(node.func.value)
        )

    def is_load(node) -> bool:
        return is_read(node) or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "load_table"
        )

    bad = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if is_read(node):
                bad.append(f"{f.name}:{node.lineno} reads parquet directly")
            if isinstance(node, ast.FunctionDef):
                body = [
                    s for s in node.body
                    if not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))
                ]
                if len(body) == 1 and isinstance(body[0], ast.Return) and is_load(body[0].value):
                    bad.append(f"{f.name}:{node.lineno} defines table loader {node.name}")
    assert len(files) > 10
    assert bad == []
