#!/usr/bin/env python
"""Regenerate the spark.ml-tier golden parquets (round-10 verdict
Next #5): `ivf_topk_kmeans` and `minhash_near_dups_ml` are seeded
spark.ml pipelines whose fits are not DuckDB-replayable in closed form
— but their OUTPUTS are deterministic (seeded coefficients; the
kmeans fit input is pinned to one sorted partition — r14, after the
fan_out'd fit proved layout-dependent across core counts — so
aggregation order is fixed regardless of the session's parallelism).
So the driver-visible oracle is a pinned golden:
one parquet per query holding the exact expected rows for each
testdata scale, keyed by a corpus CONTENT fingerprint — md5 of the
doc_id-ordered per-doc text md5s, computed with DuckDB exactly as the
oracle SQL computes it (advice-found round 12: the earlier
sum(n_chars) key was blind to same-length content edits and matched
zero rows silently on an unknown corpus; the oracle now error()s
instead) — and the oracle SQL selects the matching slice.

Run AFTER any intentional change to the seeded pipelines:

    python tests/goldens/regen_ml_tiers.py

and commit the refreshed parquets.  The freshness gate
(tests/test_operators.py::test_ml_tier_goldens_fresh) fails if a code
change moves the output without a regen.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

OUT_DIR = os.path.join(REPO, "tests", "goldens")
SF_DIRS = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]

GOLDEN_QUERIES = ["ivf_topk_kmeans", "minhash_near_dups_ml"]


def corpus_md5(sf_dir: str) -> str:
    """The golden key — computed with the ONE shared SQL definition
    the oracle WHERE clauses use (plans/goldens.corpus_md5_sql)."""
    import duckdb

    from streaming_forex_data_pipeline_spark.plans.goldens import (
        corpus_md5_sql,
    )

    return duckdb.execute(
        corpus_md5_sql(f"'{sf_dir}/documents.parquet'")
    ).fetchone()[0]


def main() -> None:
    from pyspark.sql import SparkSession

    from streaming_forex_data_pipeline_spark.plans.registry import (
        all_queries,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    qs = all_queries()
    for name in GOLDEN_QUERIES:
        parts = []
        for sf_dir in SF_DIRS:
            # the key must be computed by the SAME engine expression
            # the oracle's WHERE uses (md5 is engine-portable)
            fp = corpus_md5(sf_dir)
            pdf = qs[name].spark(spark, sf_dir).toPandas()
            pdf.insert(0, "corpus_md5", fp)
            parts.append(pdf)
            print(f"{name} @ {sf_dir}: {len(pdf)} rows (corpus_md5={fp})")
        golden = pd.concat(parts, ignore_index=True)
        path = os.path.join(OUT_DIR, f"{name}.parquet")
        golden.to_parquet(path, index=False)
        print(f"wrote {path} ({len(golden)} rows)")


if __name__ == "__main__":
    main()
