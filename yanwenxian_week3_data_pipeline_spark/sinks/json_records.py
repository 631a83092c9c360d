"""snk_json_records (reference save_clean_data, cleaner.py:146-154).

Two modes:
- ``save_records_pretty`` — a single pretty-printed JSON array file, the
  reference's output shape, written from records already on the driver:
  valid ONLY for fixture-scale outputs (the valid article set, which the
  pipeline collects together with its report). Creates parent dirs.
- ``save_records_distributed`` — ``df.write.json`` (JSONL, splittable,
  parallel) — the 100 TB path.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame


def save_records_pretty(records: list[dict], path: str | Path) -> int:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(records, indent=2, ensure_ascii=False), encoding="utf-8")
    return len(records)


def save_records_distributed(df: DataFrame, path: str | Path, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(str(path))


def save_text(text: str, path: str | Path) -> None:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")
