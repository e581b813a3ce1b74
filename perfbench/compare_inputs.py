"""Compare the generated benchmark tables with a directory of reference
tables (for example the engine's sf0.01 test data).

    python3 perfbench/compare_inputs.py <reference_dir>

Run from the root of a checkout.  Prints one line per figure: the
figures that drive the workloads' work (row and distinct counts,
document lengths and duplicate shares, events per user, embedding
cluster tightness) and the DuckDB oracle row count of every query the
workloads run.  Reads only; writes the generated tables to a temporary
directory that it removes.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

#: queries whose oracle row counts are compared
QUERIES = [
    "near_dup_clusters",
    "pagerank_topk",
    "knn_graph_topk",
    "funnel_conversion",
    "pricing_summary",
    "candles_1h",
    "patterns",
]


def figures(tables: dict[str, pd.DataFrame]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, df in sorted(tables.items()):
        out[f"{name}.rows"] = len(df)
        for c in df.columns:
            if c != "embedding":
                out[f"{name}.{c}.distinct"] = df[c].nunique()
    d = tables["documents"]
    texts = d["text"].tolist()
    known = set(texts)
    out["documents.words_per_doc.mean"] = float(d["text"].str.split().str.len().mean())
    out["documents.n_chars.mean"] = float(d["n_chars"].mean())
    out["documents.exact_dup_share"] = 1.0 - len(known) / len(texts)
    out["documents.near_dup_share"] = float(
        np.mean([t.endswith(" dup") and t[:-4] in known for t in texts])
    )
    e = tables["events"]
    out["events.per_user.mean"] = float(e.groupby("user_id").size().mean())
    out["events.value.median"] = float(e["value"].median())
    li = tables["lineitem"]
    out["lineitem.l_extendedprice.mean"] = float(li["l_extendedprice"].mean())
    em = tables["embeddings"]
    v = np.stack(em["embedding"].to_numpy())
    cos = v @ v.T
    np.fill_diagonal(cos, np.nan)
    same = em["label"].to_numpy()[:, None] == em["label"].to_numpy()[None, :]
    out["embeddings.same_label_cos.mean"] = float(np.nanmean(cos[same]))
    out["embeddings.nearest_cos.mean"] = float(np.nanmax(cos, axis=1).mean())
    return out


def main(ref_dir: str) -> None:
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import inputs
    from workloads import oracle_answers

    gen = inputs.make_tables()
    ref = {
        f[:-8]: pd.read_parquet(os.path.join(ref_dir, f))
        for f in os.listdir(ref_dir)
        if f.endswith(".parquet") and f[:-8] in gen
    }
    tmp = tempfile.mkdtemp(dir=os.getcwd(), prefix=".perfbench_cmp_")
    try:
        inputs.stage_tables(gen, tmp)
        g, r = figures(gen), figures(ref)
        for figs, data_dir in ((g, tmp), (r, ref_dir)):
            figs.update(
                (f"oracle.{q}.rows", len(df))
                for q, df in oracle_answers(data_dir, QUERIES).items()
            )
    finally:
        shutil.rmtree(tmp)
    print(f"{'figure':44s} {'generated':>12s} {'reference':>12s}")
    for k in g:
        print(f"{k:44s} {g[k]:12.6g} {r.get(k, float('nan')):12.6g}")


if __name__ == "__main__":
    main(sys.argv[1])
