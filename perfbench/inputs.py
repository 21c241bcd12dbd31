"""Seeded benchmark inputs, written with numpy + pyarrow + DuckDB only.

Nothing here imports the package under test, so a parent commit and a
change read byte-identical files for the same seed. The tables mirror
the schemas and value distributions of the repository's star-schema
fixtures (FIXTURES.md): the ten registry tables plus, for the k-modes
workload, a categorical table with planted modes.

Every file is written as one parquet row group per replica, so a
table's scan parallelism equals its row-group count.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGISTRY_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

# tools/scale_probe.py's replication scheme: each replica shifts these
# key columns by replica_index * shift, so joins stay valid and key
# cardinalities really grow; dimension tables stay one copy.
KEY_SHIFTS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 0},
    "lineitem": {"l_orderkey": 10_000_000},
    "events": {"event_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "de", "zh"]
EMBED_DIM = 64


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def star_schema(rng: np.random.Generator, sf: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor `sf` (row counts as the
    fixtures: lineitem = 6M x sf, orders = 1.5M x sf, ...)."""
    t: dict[str, pa.Table] = {}
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev, n_users = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), max(30, int(15_000 * sf))

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
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
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2498),
    })
    # events: monotone timestamps over 30 days with exponential gaps
    gaps_us = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: 10-100 pseudo-words; 5% are near-duplicates (an earlier
    # original's text plus a trailing " dup")
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < 0.05:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: 10 planted clusters, centre + isotropic noise
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centres = rng.normal(0.0, 0.1, (10, EMBED_DIM))
    vecs = (centres[labels] + rng.normal(0.0, 0.08, (n_emb, EMBED_DIM))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def kmodes_points(rng: np.random.Generator, n_rows: int, n_cols: int, k: int, noise: float):
    """Categorical table with `k` planted modes. Mode c holds value
    f"m{c}" in every column; each cell is replaced, with probability
    `noise`, by one of 40 noise values that no mode uses. Returns the
    table and the planted modes."""
    cluster = rng.integers(0, k, n_rows)
    cols = {}
    for j in range(n_cols):
        vals = np.array([f"m{c}" for c in range(k)] + [f"n{v}" for v in range(40)])
        idx = np.where(rng.random(n_rows) < noise, k + rng.integers(0, 40, n_rows), cluster)
        cols[f"a{j}"] = vals[idx]
    modes = [tuple(f"m{c}" for _ in range(n_cols)) for c in range(k)]
    return pa.table(cols), modes


def write_replicated(table: pa.Table, path: str, name: str, replicas: int) -> None:
    """Write `table` as `replicas` key-shifted copies, one row group each."""
    shifts = KEY_SHIFTS.get(name, {}) if replicas > 1 else {}
    with pq.ParquetWriter(path, table.schema) as w:
        for r in range(replicas if name in KEY_SHIFTS else 1):
            part = table
            for col, step in shifts.items():
                i = part.schema.get_field_index(col)
                part = part.set_column(i, col, pc.add(part[col], r * step))
            w.write_table(part, row_group_size=max(1, part.num_rows))


def describe(data_dir: str) -> dict:
    """Content digest plus file, row-group and row counts of every parquet
    file under `data_dir`."""
    h = hashlib.sha256()
    files = rgs = rows = 0
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
        meta = pq.ParquetFile(path).metadata
        files += 1
        rgs += meta.num_row_groups
        rows += meta.num_rows
    return {"digest": h.hexdigest()[:16], "files": files, "row_groups": rgs, "rows": rows}


def generate(data_dir: str, seed: int, sf: float, replicas: int, n_docs: int, n_emb: int) -> None:
    """Write the ten registry tables into `data_dir`."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in star_schema(rng, sf, n_docs, n_emb).items():
        write_replicated(table, os.path.join(data_dir, f"{name}.parquet"), name, replicas)
