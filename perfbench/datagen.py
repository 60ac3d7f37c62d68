"""Deterministic synthetic corpus for the benchmark.

The benchmark must not depend on data outside its checkout, so it builds
its own copy of the fixture corpus: the same ten tables, column names,
parquet types and value domains as FIXTURES.md describes, at the sf0.1
row counts, drawn from a fixed numpy seed. The run's ``--seed`` never
reaches this module: every run of every commit scans the same bytes, and
the seed only reorders queries.

The corpus (about 17 MB of parquet) is written into a temporary sibling
directory, its row counts are checked, and only then is it renamed into
place, so a killed generation can never leave a partial corpus that a
later run would use. A corpus whose row counts do not match is deleted
and rebuilt.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so stale datasets are not reused.
VERSION = "v1"
DATA_SEED = 42

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

# Row counts of the base corpus (FIXTURES.md, sf0.1 column).
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

SHARED = ("region", "nation")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    s = np.datetime64(start, "us")
    return s, int((np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    s, span = _days(start, end)
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(s + d.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # 5% planted near-duplicates: an earlier document plus one token.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def base_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """The sf0.1 corpus as arrow tables, identical on every call; ``scale``
    shrinks every table but region and nation (0.01 gives sf0.001)."""
    rng = np.random.default_rng(DATA_SEED)
    r = {t: n if t in SHARED else max(1, round(n * scale)) for t, n in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n), pa.string()),
        }
    )
    n = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = r["part"]
    names = [
        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()
            ),
            "p_type": pa.array(rng.choice(_PART_TYPES, n), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )
    n = r["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n), pa.string()),
        }
    )
    n = r["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
            "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, round(1500 * scale)), n), pa.int64()
            ),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
            "value": np.round(np.minimum(rng.exponential(60.0, n), 560.0), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng, r["documents"])
    out["embeddings"] = _embeddings(rng, r["embeddings"])
    return out


def _check(path: str) -> bool:
    """True when every table under ``path`` has its expected row count."""
    for t in TABLES:
        try:
            got = pq.ParquetFile(f"{path}/{t}.parquet").metadata.num_rows
        except (FileNotFoundError, pa.ArrowInvalid):
            return False
        if got != BASE_ROWS[t]:
            return False
    return True


def write_base(out: str, scale: float = 1.0) -> None:
    for t, tab in base_tables(scale).items():
        pq.write_table(tab, f"{out}/{t}.parquet")


def ensure_base(data_dir: str) -> tuple[str, float]:
    """Path of the sf0.1 corpus under ``data_dir`` and the seconds spent
    generating it (0.0 when an intact corpus was already there)."""
    path = os.path.join(data_dir, f"sf0.1-{VERSION}")
    if _check(path):
        return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        write_base(tmp)
        if not _check(tmp):
            raise RuntimeError(f"generated corpus {tmp} has wrong row counts")
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path, time.perf_counter() - t0
