"""Seeded fixture tables for the ``analytics`` workload.

The measured catalogue queries read TPC-H-style ``part``, ``nation`` and
``region`` tables plus ``documents`` and ``embeddings``. These are generated here from the workload seed, with the
column names, types and value shapes of the repository's fixture tables, so
the benchmark reads nothing outside its own working directory. Only the
tables the measured queries read are written, one single-row-group parquet
file each, like the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["ring", "gear", "bolt", "rod", "plate", "anvil", "widget", "nut"]
P_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key window "
    "table merge vector join"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]

# rows per table; scaled together by ``scale``
BASE_ROWS = {
    "part": 4_000,
    "documents": 1_000,
    "embeddings": 400,
}
EMBED_DIM = 64


def build(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Every fixture table, as a pure function of ``(seed, scale)``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), k), rng.integers(0, len(NOUN), k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
    })

    # documents: random word salad, ~5% near-duplicates (an earlier text
    # plus a trailing " dup"), so the dedup queries find work to do
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), k)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })

    k = n["embeddings"]
    vec = rng.standard_normal((k, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))
