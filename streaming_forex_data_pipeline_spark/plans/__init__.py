"""Query plan registry — importing this package registers every query.

The modules are grouped by SURVEY §2 operator family:
    relational  — scans/filters/aggregations/joins/top-k (S/F/A/J/T)
    timeseries  — resample + window indicators (A1/A2, W-series, X-series)
    quality     — dedup/gaps/outliers/scoring (D-series, F5)
    llm         — dedup/similarity/text-analysis extensions

Plan modules import non-plan packages and ``registry``, ``goldens``,
``oracle_sql`` and ``fragments`` only, never each other (gated in
``tests/test_publish_protocol.py``).
"""

from . import (  # noqa: F401
    advanced_q,
    analysis_q,
    corpus_q,
    ewm_q,
    llm_q,
    quality_q,
    relational,
    streaming_q,
    timeseries,
)
from . import olap_q  # noqa: F401,E402 — imported LAST: keeps every
# pre-round-8 registration index (the evidence-rotation tie-break)
# exactly where the driver's historical samples left it
from . import media_q  # noqa: F401,E402 — round-9 module, after olap_q
# for the same index-stability reason
from . import tpch_q  # noqa: F401,E402 — round-9, after media_q
from . import scale_q  # noqa: F401,E402 — round-9, after tpch_q
from . import subquery_q  # noqa: F401,E402 — round-10, after scale_q
from . import modal_q  # noqa: F401,E402 — round-10, after subquery_q
from . import pipeline_q  # noqa: F401,E402 — round-10, after modal_q
from .registry import all_queries, keep_after, oracle_sqls, spark_queries

# ewm_q's queries were first registered from inside analysis_q, whose
# MACD oracle imported ewm_q mid-module for the EMA fold fragments
# (now in oracle_sql); they keep that slot, right after signals_rsi
keep_after("signals_rsi", ewm_q.__name__)

__all__ = ["all_queries", "spark_queries", "oracle_sqls"]
