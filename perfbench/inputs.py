"""Seeded benchmark inputs.

Everything the program reads is generated here from the workload seed and
cached under ``<checkout>/.perfbench/inputs/seed-<n>/``. Generation runs in
the orchestrator before any Spark session starts, so it is never part of
``setup_s`` or of any timed pass.

The parquet tables of ``llm_curation`` are derived from the base tables
vendored in ``perfbench/data`` (the sf0.01 ``documents`` and
``embeddings``: 500 rows each) with the structure-preserving rule of
``tools/make_sf1.py``: replica index ``r = seed % REPLICAS`` offsets the
``doc_id``/``vec_id`` keys by ``r * (max_key + 1)``; text and vectors are
kept, so every query's answer is the base answer with shifted keys. Each
table's row order is then permuted by the seed.

The article file (``articles_funnel``) is generated entirely from the seed.
It repeats the 17 dirt classes of ``tests/test_pipeline_golden.py``'s
fixture in ``ARTICLE_BLOCKS`` blocks with seeded words, dates and record
order, and records each record's planted outcome, so the expected funnel
counts and failure-reason histogram are known without running the engine.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "data"
KEYS = {"documents": "doc_id", "embeddings": "vec_id"}  # table -> key column
TABLES = tuple(KEYS)
REPLICAS = 10
ARTICLE_BLOCKS = 200  # 3 400 records, ~1.3 MB of pretty JSON


def cache_root(checkout: Path) -> Path:
    return checkout / ".perfbench"


def _derive_tables(seed: int, out: Path) -> None:
    base = {t: pq.read_table(BASE_DIR / f"{t}.parquet") for t in TABLES}
    offset = (seed % REPLICAS) * (max(pc.max(base[t][c]).as_py() for t, c in KEYS.items()) + 1)
    for i, (t, col) in enumerate(KEYS.items()):
        tab = base[t]
        j = tab.schema.get_field_index(col)
        tab = tab.set_column(j, tab.schema.field(j), pc.add(tab[col], pa.scalar(offset, tab[col].type)))
        perm = np.random.default_rng([seed % 2**63, i]).permutation(tab.num_rows)
        pq.write_table(tab.take(pa.array(perm)), out / f"{t}.parquet")


_WORDS = (
    "spark engine data stream quality pipeline query column table shuffle "
    "river mountain garden harbor window market signal archive lantern meadow "
    "orbit canyon ledger beacon compass summit valley thunder crystal forest "
    "report editor science policy health travel climate energy finance sport"
).split()
_MONTHS = ("January February March April May June July August September "
           "October November December").split()
_ORD = {1: "st", 2: "nd", 3: "rd", 21: "st", 22: "nd", 23: "rd", 31: "st"}


def _sentence(rng: random.Random, n_chars: int) -> str:
    words: list[str] = []
    while sum(len(w) + 1 for w in words) < n_chars:
        words.append(rng.choice(_WORDS))
    return " ".join(words)


def _article_block(rng: random.Random, b: int) -> list[tuple[dict, str, tuple | None]]:
    """One block of the golden fixture's 17 dirt classes, in its order:
    (record, planted outcome, dedup key). The outcome is ``incomplete``,
    ``valid`` or the validator's reason code; the key is the cleaned
    (title, url) pair, None for an incomplete record."""
    w = [rng.choice(_WORDS) for _ in range(3)]
    tag = f"b{b}"
    url = f"https://example.org/articles/{tag}"
    body = _sentence(rng, 130 + rng.randrange(200))  # > MIN_CONTENT_LENGTH (120)
    year = 2020 + rng.randrange(6)
    m, d = 1 + rng.randrange(12), 1 + rng.randrange(28)
    day_first = 13 + rng.randrange(16)  # > 12: unambiguous d/M/yyyy
    title0 = f"{w[0]} & {w[1]} {w[2]} {tag}"  # records 0, 5 and 12 clean to it: duplicates

    def rec(outcome, title, content, link, published, key_title=None, **extra):
        record = {"title": title, "content": content, "url": link, "published": published, **extra}
        return record, outcome, None if outcome == "incomplete" else (key_title or title, link)

    return [
        rec("valid", f"  {w[0]}   &amp; {w[1]} \t {w[2]} {tag} ", body, f"{url}/0",
            f"{_MONTHS[m - 1][:3]} {d}, {year}", key_title=title0, category="Technology", author=" A.  Writer "),
        rec("incomplete", None, body, f"{url}/1", f"{year}-02-01"),
        rec("incomplete", "   ", body, f"{url}/2", f"{year}-02-02"),
        rec("incomplete", f"Empty body {tag}", "", f"{url}/3", f"{year}-02-03"),
        rec("incomplete", f"No link {tag}", body, None, f"{year}-02-04"),
        rec("valid", title0, body + " duplicate body", f"{url}/0", f"Feb {d}, {year}"),
        rec("short_content", f"Stub {tag}", "too short to pass", f"{url}/6", f"{year}-03-01"),
        rec("invalid_url", f"Bad scheme {tag}", body, f"ftp://example.org/{tag}/7", f"{year}-03-02"),
        rec("invalid_url", f"No scheme {tag}", body, f"example.org/{tag}/8", f"{year}-03-03"),
        rec("missing_published", f"Odd date {tag}", body, f"{url}/9", f"{year}-13-99"),
        rec("invalid_url", f"Loud scheme {tag}", body, f"HTTP://example.org/{tag}/10", f"{year}-03-05"),
        rec("valid", f"Ordinal date {tag}", body, f"{url}/11", f"{_MONTHS[m - 1]} {d}{_ORD.get(d, 'th')}, {year}"),
        rec("valid", f"{w[0]}  &amp;  {w[1]} {w[2]} {tag}", body, f"{url}/0", f"{year}-04-01", key_title=title0),
        rec("valid", f"Entity body {tag}", "A&nbsp;B &lt;tag&gt; " + body, f"{url}/13",
            f"{day_first:02d}/{m:02d}/{year}"),
        rec("title_too_long", "T" * (501 + rng.randrange(40)), body, f"{url}/14", f"{year}-05-01"),
        rec("valid", f"Zulu time {tag}", body, f"{url}/15", f"{year}-06-07T14:{d:02d}:00Z"),
        rec("missing_published", f"Dateless {tag}", body, f"{url}/16", None),
    ]


def generate_articles(seed: int, blocks: int) -> tuple[list[dict], dict]:
    """Seeded dirty-article records and their planted expectation:
    ``{"n_load", "n_complete", "n_dedup", "n_valid", "reasons"}``. Keep-first
    dedup keeps the first complete record of each key in file order."""
    rng = random.Random(seed)
    planted = [row for b in range(blocks) for row in _article_block(rng, b)]
    rng.shuffle(planted)
    complete = [(out, key) for _, out, key in planted if out != "incomplete"]
    seen: set = set()
    kept = []
    for out, key in complete:
        if key not in seen:
            seen.add(key)
            kept.append(out)
    reasons = Counter(o for o in kept if o != "valid")
    expected = {
        "n_load": len(planted),
        "n_complete": len(complete),
        "n_dedup": len(kept),
        "n_valid": len(kept) - sum(reasons.values()),
        "reasons": dict(sorted(reasons.items())),
    }
    return [r for r, _, _ in planted], expected


def ensure_inputs(checkout: Path, seed: int, blocks: int = ARTICLE_BLOCKS) -> Path:
    """Generate (once per seed) and return the input directory for ``seed``."""
    out = cache_root(checkout) / "inputs" / f"seed-{seed}"
    if (out / "DONE").exists():
        return out
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _derive_tables(seed, tmp)
    records, expected = generate_articles(seed, blocks)
    (tmp / "articles.json").write_text(json.dumps(records, indent=2), encoding="utf-8")
    (tmp / "articles_expected.json").write_text(json.dumps(expected, indent=2), encoding="utf-8")
    (tmp / "DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
