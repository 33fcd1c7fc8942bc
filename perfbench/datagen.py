"""Seeded fixture generator for the batch workload.

Writes the ten tables of the engine's TPC-H-ish test fixtures (one parquet
file per table, ``<dir>/<table>.parquet``), so every registered query and
its DuckDB oracle run unchanged on the output. The same seed writes the
same bytes.

Checked against the sf0.1 fixture files: every table has the same row
count, column names and Arrow types (dates and ``events.ts`` are naive
``timestamp[us]``), and the value domains and distributions match — money
and quantity percentiles, 1,500 users over 30 days of irregular events,
documents of 10-99 words from the same 31-word vocabulary with about
5% near-duplicates, ~40% ``en`` and ~15% each of four other languages, and
unit-norm 64-dimensional embeddings. Like the fixtures, ``documents`` and
``embeddings`` keep at least 500 rows at smaller scale factors. The values
themselves are drawn from this module's own generator, not the fixtures'.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3  # 40% en, 15% each other

_US_PER_DAY = 86_400_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    """Uniform whole dates in [start, end] as naive timestamp[us]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _pick(options: list[str], n: int, rng: np.random.Generator) -> pa.Array:
    idx = pa.array(rng.integers(0, len(options), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(options)).cast(pa.string())


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _pick(_SEGMENTS, n_cust, rng),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(names, n_part, rng),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _pick(_PART_TYPES, n_part, rng),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _days_us("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(_PRIORITIES, n_ord, rng),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n_li, rng),
        "l_linestatus": _pick(["F", "O"], n_li, rng),
        "l_shipdate": _days_us("1995-01-02", "2001-11-04", n_li, rng),
    })
    return t


def _events(sf: float, rng: np.random.Generator) -> pa.Table:
    """Irregular arrivals over 30 days (session-window material), one row
    per event, ids in time order."""
    n, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    span_us = 30 * _US_PER_DAY
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + offs.astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(_EVENT_TYPES, n, rng),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(sf: float, rng: np.random.Generator) -> pa.Table:
    """Random-word documents; ~5% are near-duplicates of an earlier
    document (one word changed, ' dup' appended) and a few of those repeat
    exactly, so exact, MinHash and embedding dedup all find work."""
    n = max(500, int(50_000 * sf))
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))].removesuffix(" dup").split(" ")
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src) + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(_LANGS, n, rng),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(sf: float, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    n = max(500, int(20_000 * sf))
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def fingerprint() -> str:
    """Short hash of this module's source, for naming cached output so an
    edited generator never reuses files an older one wrote."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir``, or reuse it when a previous
    call with the same arguments completed. Each table family draws from
    its own child stream of ``seed``."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    star_rng, ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(4)
    )
    built = _star(sf, star_rng)
    built["events"] = _events(sf, ev_rng)
    built["documents"] = _documents(sf, doc_rng)
    built["embeddings"] = _embeddings(sf, emb_rng)
    for name in TABLES:
        pq.write_table(built[name], os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir
