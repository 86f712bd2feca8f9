"""Seeded generator for the benchmark's query tables.

Writes the ten tables the registered queries read (``region nation customer
supplier part orders lineitem events documents embeddings``) as one parquet
file each, with the column names and Arrow types of the engine's reference
dataset.  Values are drawn from ``numpy.random.default_rng(seed)``; ids are
contiguous from 0, so every id-derived geometry (``specs.latlng_np``) is the
same one the engine's distance thresholds were margin-checked on.

Usage: python perfbench/datagen.py OUT_DIR [--seed N] [--scale S]
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0, matching the reference dataset's ratios.
# documents/embeddings do not grow linearly with scale in the reference data;
# they keep the floor it uses for its small scales.
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
FLOOR = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _rows(table: str, scale: float) -> int:
    return max(FLOOR.get(table, 1), int(round(ROWS[table] * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: str, us: np.ndarray) -> pd.Series:
    return pd.Series(np.datetime64(base, "us") + us.astype("timedelta64[us]"))


def _day(rng, base: str, days: int, n: int) -> pd.Series:
    return _ts(base, rng.integers(0, days, n) * _DAY_US)


def _choice(rng, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {t: _rows(t, scale) for t in ROWS}
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": _choice(rng, SEGMENTS, len(k)),
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _choice(rng, PART_ADJ, len(k)), _choice(rng, PART_NOUN, len(k))
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(k))],
            "p_type": _choice(rng, PART_TYPES, len(k)),
            "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2),
        }
    )
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], len(k)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
            "o_orderdate": _day(rng, "1995-01-01", 2404, len(k)),
            "o_orderpriority": _choice(rng, PRIORITIES, len(k)),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], m),
            "l_linestatus": _choice(rng, ["F", "O"], m),
            "l_shipdate": _day(rng, "1995-01-02", 2498, m),
        }
    )
    m = n["events"]
    gaps = rng.exponential(30 * _DAY_US / m, m)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": _ts("2024-01-01", np.cumsum(gaps).astype(np.int64)),
            "user_id": rng.integers(0, max(1, int(15_000 * scale)), m),
            "event_type": _choice(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
        }
    )
    m = n["documents"]
    texts = []
    for i in range(m):
        words = _choice(rng, WORDS, int(rng.integers(10, 100)))
        text = " ".join(words)
        if i and rng.random() < 0.05:
            # near-duplicate of an earlier doc: exercises the dedup paths
            text = texts[int(rng.integers(0, i))] + " dup"
        texts.append(text)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": _choice(rng, LANGS, m),
            "source": [f"src{i}" for i in rng.integers(0, 20, m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vec = rng.standard_normal((m, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, scale).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def source_digest() -> str:
    """Digest of this generator's source: part of every dataset's cache key."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure(root: str, seed: int, scale: float) -> str:
    """Generate the dataset once per (generator source, seed, scale); return its dir."""
    out = os.path.join(root, f"s{scale:g}-seed{seed}-{source_digest()}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        tmp = out + f".tmp{os.getpid()}"
        write(tmp, seed, scale)
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write("ok\n")
        os.replace(tmp, out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--scale", type=float, default=0.01)
    a = ap.parse_args()
    write(a.out_dir, a.seed, a.scale)
