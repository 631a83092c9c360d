"""Expected outputs of the parquet operations, from their DuckDB oracles.

Each registered query's oracle SQL runs over the seed's generated tables and
is reduced to the correctness gate's canonical row hash
(``tools/verify_all.py``). Results are cached under
``.perfbench/oracle/`` by a key made of the SQL, the base tables' digests
and the replica index, which is all the content depends on: the seeded
permutation only reorders rows, and every query's answer is order-free.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

from inputs import BASE_DIR, REPLICAS, TABLES, cache_root


def tables_of(sql: str) -> list[str]:
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def expected(checkout: Path, inputs: Path, seed: int, ops: list[str]) -> dict[str, dict]:
    """``{op: {"hash", "rows", "cols"}}`` for every op, computed or cached."""
    import duckdb

    from tools.verify_all import canon_rows, vhash
    from yanwenxian_week3_data_pipeline_spark.plans import all_queries

    registry = all_queries()
    cache = cache_root(checkout) / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    digests = "|".join(hashlib.md5((BASE_DIR / f"{t}.parquet").read_bytes()).hexdigest() for t in TABLES)
    out, con = {}, None
    for op in ops:
        sql = registry[op].oracle
        if sql is None:
            raise ValueError(f"{op} has no DuckDB oracle; the benchmark checks every output against one")
        key = hashlib.sha256(f"{sql}|{digests}|r{seed % REPLICAS}".encode()).hexdigest()[:32]
        f = cache / f"{op}-{key}.json"
        if f.exists():
            out[op] = json.loads(f.read_text())
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs / f'{t}.parquet'}')")
        odf = con.execute(sql).df()
        out[op] = {"hash": vhash(canon_rows(odf)), "rows": len(odf), "cols": sorted(odf.columns)}
        f.write_text(json.dumps(out[op]))
    if con is not None:
        con.close()
    return out
