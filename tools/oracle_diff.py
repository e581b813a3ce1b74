"""Oracle row hashes: run every registered DuckDB oracle over one scale
directory and print one line per query, ``name rows md5``, in
registration order.  No Spark session is started.

The hash covers the exact repr of every cell (columns sorted by name,
rows sorted), the strict sweep's value semantics, so a change that
edits oracle text can be checked against its parent without running
the engine: run the tool on both checkouts and diff the two outputs.

Usage:
    python tools/oracle_diff.py SF_DIR [--repo CHECKOUT] [--only NAME ...]

``--repo`` reads the registry of another checkout (default: the one
holding this file).  A query whose oracle raises prints ``ERROR`` and
its exception type instead of a hash; the exit status is 1 if any did.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _cell(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "tolist") and getattr(v, "ndim", 0):
        return repr(v.tolist())  # str() of a long array elides
    return str(v)


def row_hash(df) -> str:
    """md5 over the exact cell reprs of ``df``, columns by name and
    rows sorted, so row and column order do not matter."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument(
        "--repo",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.repo))
    import duckdb

    from streaming_forex_data_pipeline_spark.plans import registry

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    failed = 0
    t_all = time.time()
    for name, q in registry._REGISTRY.items():
        if q.oracle is None or (args.only and name not in args.only):
            continue
        try:
            df = con.execute(q.oracle).fetchdf()
            print(f"{name} {len(df)} {row_hash(df)}", flush=True)
        except Exception as ex:  # noqa: BLE001 — report and go on
            failed += 1
            print(f"{name} ERROR {type(ex).__name__}", flush=True)
    print(f"# {time.time() - t_all:.0f}s", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
