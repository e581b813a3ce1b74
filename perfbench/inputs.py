"""Deterministic benchmark inputs.

The benchmark never reads data from outside its checkout, so it writes
its own tables: the ten tables the registered queries read (a TPC-H-ish
star schema, an ``events`` stream table, a ``documents`` corpus and an
``embeddings`` table), with the schemas, row counts, value domains and
physical parquet encodings (one row group per file) of the engine's
sf0.01 reference tables.  The distributions were fitted to figures
measured on those tables; ``compare_inputs.py`` prints both side by
side and LAYERS.md records the comparison.

Table contents come from a fixed generator seed, so every run checks
against the same oracle answers.  The workload seed decides the order
of the queries in each pass and how the stream rows are split into
staged files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed for table contents (independent of the workload seed)
DATA_SEED = 20240101

#: rows per table, as in the sf0.01 reference tables
SIZES = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
#: distinct ``events.user_id`` (about 67 events per user)
USERS = 150
#: share of documents that are another document's text plus " dup"
NEAR_DUP_SHARE = 0.05
#: embedding label clusters, and the spread of their centres against
#: the per-vector noise (same-label mean cosine about 0.002)
LABELS = 10
CENTRE_SD, NOISE_SD = 0.005, 0.125

WORDS = (
    "the a fast slow big small key order sort table scan merge part "
    "window hash join batch stream spark row column data group filter "
    "agg line value vector query customer"
).split()
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "cold", "hot", "new", "small", "large", "old"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "anvil", "ring", "gizmo", "plate"]
PART_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.randint(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables() -> dict[str, pd.DataFrame]:
    """Every input table as a pandas frame (same seed, same frames)."""
    rng = np.random.RandomState(DATA_SEED)
    n = SIZES
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(n["region"], dtype=np.int32),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(n["nation"], dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(n["nation"])],
            "n_regionkey": (np.arange(n["nation"]) % 5).astype(np.int32),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.randint(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.randint(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                for _ in range(n["part"])
            ],
            "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.randint(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.randint(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    qty = rng.randint(1, 51, m).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.randint(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.randint(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.randint(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.randint(1, 8, m).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.randint(0, 11, m) / 100.0,
            "l_tax": rng.randint(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, 30 * 86400 * 10**6, e)).astype("timedelta64[us]")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": start + offs,
            "user_id": rng.randint(0, USERS, e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.randint(10, 100))) for _ in range(d)]
    # near copies (no exact ones) give the dedup and clustering queries
    # their work
    for i in np.sort(rng.choice(d, int(d * NEAR_DUP_SHARE), replace=False)):
        j = (i + rng.randint(1, d)) % d
        texts[i] = texts[j] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    k = n["embeddings"]
    labels = rng.randint(0, LABELS, k).astype(np.int32)
    centers = rng.normal(0.0, CENTRE_SD, (LABELS, 64))
    vecs = centers[labels] + rng.normal(0.0, NOISE_SD, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(k, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    return t


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array(list(df["embedding"]), type=pa.list_(pa.float32())),
        )
    pq.write_table(table, path, row_group_size=len(df) + 1)


def stage_tables(tables: dict[str, pd.DataFrame], data_dir: str) -> None:
    """Write one single-row-group parquet file per table."""
    os.makedirs(data_dir, exist_ok=True)
    for name, df in tables.items():
        _write(df, os.path.join(data_dir, f"{name}.parquet"))


def stage_stream_files(
    df: pd.DataFrame,
    out_dir: str,
    n_files: int,
    rng: np.random.RandomState,
    contiguous: bool,
    tail: pd.DataFrame | None = None,
) -> None:
    """Split ``df`` into ``n_files`` parquet files that a file stream
    source reads one per trigger, in name order, which the strictly
    increasing mtimes make the arrival order too.

    ``contiguous`` keeps row order (event-time order for ``events``)
    and lets the seed choose the cut points, so per-user order holds
    across micro-batches; otherwise the seed deals rows to files at
    random.  ``tail``, if given, is appended to the last file."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(df)
    if contiguous:
        # cut points drawn around equal shares, so no file is empty
        base = np.linspace(0, n, n_files + 1)
        jitter = rng.uniform(-0.3, 0.3, n_files - 1) * (n / n_files)
        cuts = np.concatenate([[0], np.round(base[1:-1] + jitter), [n]]).astype(int)
        parts = [df.iloc[cuts[i] : cuts[i + 1]] for i in range(n_files)]
    else:
        owner = rng.randint(0, n_files, n)
        owner[:n_files] = np.arange(n_files)  # every file gets a row
        parts = [df[owner == i] for i in range(n_files)]
    if tail is not None:
        parts[-1] = pd.concat([parts[-1], tail])
    for i, part in enumerate(parts):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        _write(part, path)
        os.utime(path, (1_700_000_000 + 10 * i, 1_700_000_000 + 10 * i))
