"""DuckDB oracle text shared by two or more plan modules: one
definition per fragment, rendered from the constants the Spark side
uses, so oracles that replay the same contract cannot drift apart.
The kNN-graph CTEs drop zero-norm pairs as `llm/similarity.py:knn_graph`
does.  Plan modules import this module and ``fragments``, never each
other.
"""

from __future__ import annotations

from ..llm import multimodal as MM
from ..llm import similarity as SIM
from ..llm.vocab import hll_fold_constants
from ..operators.ewm import EMA_NATIVE_FRAMES

_W = "PARTITION BY symbol ORDER BY ts"


def _lsh_bucket_sql(col: str, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB rendering of llm.similarity.lsh_bucket with the SAME plane
    literals (repr round-trips doubles exactly)."""
    terms = []
    for p, weights in enumerate(SIM.lsh_planes(n_planes, dim, seed)):
        lits = ", ".join(repr(w) for w in weights)
        terms.append(
            f"(CASE WHEN list_dot_product({col}, [{lits}]) >= 0 "
            f"THEN {2 ** p} ELSE 0 END)"
        )
    return "(" + "\n       + ".join(terms) + ")"


def _knn_graph_ctes(p: str = "") -> str:
    """knn_graph(k=3, n_planes=4) as CTEs (no leading WITH), names
    prefixed by ``p``: ``b`` (vectors, norms, bucket), ``pairs``
    (same-bucket cosines) and ``r`` (per-src rank; edges: rank <= 3)."""
    return f"""{p}b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn,
         {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])', n_planes=4)} AS bucket
  FROM embeddings
),
{p}pairs AS (
  SELECT a.vec_id AS src, c.vec_id AS dst,
         list_dot_product(a.v, c.v) / (a.nn * c.nn) AS cos
  FROM {p}b a JOIN {p}b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
                   AND a.nn * c.nn <> 0
),
{p}r AS (
  SELECT src, dst, cos,
         CAST(row_number() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst ASC) AS INT) AS rank
  FROM {p}pairs
)"""


def _knn_union_graph_ctes(p: str = "") -> str:
    """`_knn_graph_ctes` plus the 2-plane build (bk2/pairs2/r2) and
    ``graph``, the union of both top-3 edge sets that
    `llm/silvers.py:knn_union_graph_silver` materializes."""
    return _knn_graph_ctes(p) + f""",
{p}bk2 AS (
  SELECT vec_id, v, nn, {_lsh_bucket_sql('v', n_planes=2)} AS bucket
  FROM {p}b
),
{p}pairs2 AS (
  SELECT a.vec_id AS src, c.vec_id AS dst,
         list_dot_product(a.v, c.v) / (a.nn * c.nn) AS cos
  FROM {p}bk2 a JOIN {p}bk2 c
    ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
   AND a.nn * c.nn <> 0
),
{p}r2 AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src
                            ORDER BY cos DESC, dst ASC) AS rank
  FROM {p}pairs2
),
{p}graph AS MATERIALIZED (
  SELECT src, dst FROM {p}r WHERE rank <= 3
  UNION
  SELECT src, dst FROM {p}r2 WHERE rank <= 3
)"""


#: the integer-cents revenue term (1e-4 units) of the TPC-H family
_REV_C4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT) "
    "* (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


# closed-form replay of the dHash bit for position b (0..63) of doc_id:
# y = b // 8 samples the 8-row grid, x = b % 8 compares the 9-column
# grid's neighbors x and x+1; src index = ((y*h)//8)*w + (x*w)//9 and
# pixel(i) = (doc_id*31 + i*7) % 256 — the same integer arithmetic as
# the image_decode / image_resize oracles.
_PX = (
    "(doc_id*31 + ((((b // 8) * h) // 8) * w + (({x}) * w) // 9) * 7) % 256"
)


def _bit_sql(px: str) -> str:
    """The dHash bit: 1 when the sampled right neighbor is brighter."""
    return (
        f"CASE WHEN {px.format(x='b % 8 + 1')} > {px.format(x='b % 8')} "
        "THEN 1 ELSE 0 END"
    )


_BIT = _bit_sql(_PX)

#: the 64 bits as two non-negative 32-bit halves (h_lo, h_hi)
_HALVES = """         CAST(list_sum(list_transform(range(0, 32),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT)
           AS h_lo,
         CAST(list_sum(list_transform(range(32, 64),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << (b - 32)))) AS BIGINT)
           AS h_hi"""

_DHASH_CTE = f"""
dims AS (
  SELECT doc_id, doc_id % 60 + 4 AS w, doc_id % 40 + 4 AS h
  FROM documents
),
bt AS (
  SELECT doc_id,
         list_transform(range(0, 64), b -> {_BIT}) AS bits
  FROM dims
),
hashes AS (
  SELECT doc_id,
{_HALVES}
  FROM bt
)
"""


# closed-form replay of the audio energy-envelope fingerprint: clip
# length n = doc_id % 400 + 50 (llm/multimodal.py module contract),
# sample(i) = (doc_id*131 + i*17) % 65536 - 32768, frame f covers
# [f*n//65, (f+1)*n//65) — empty frames (short clips) sum to 0.
_AFP_CTE = f"""
adims AS (
  SELECT doc_id, doc_id % 400 + 50 AS n FROM documents
),
fe AS (
  SELECT doc_id,
         list_transform(range(0, 65), f ->
           coalesce(list_sum(list_transform(
             range((f * n) // 65, ((f + 1) * n) // 65),
             i -> abs((doc_id * 131 + i * 17) % 65536 - 32768))), 0)
         ) AS e
  FROM adims
),
abt AS (
  SELECT doc_id,
         list_transform(range(0, 64), b ->
           CASE WHEN e[b + 2] > e[b + 1] THEN 1 ELSE 0 END) AS bits
  FROM fe
),
ahashes AS (
  SELECT doc_id,
{_HALVES}
  FROM abt
)
"""


# closed-form replay of video-frame dHash bit b (0..63) for sampled
# frame k of doc_id: same sampled-pixel arithmetic as _DHASH_CTE's
# image bits with the per-frame k*101 term, pixel(k, i) =
# (doc_id*31 + k*101 + i*7) % 256 over the w x h frame grid.
_VPX = _PX.replace("doc_id*31 + ", "doc_id*31 + k*101 + ")
_VBIT = _bit_sql(_VPX)

# one oracle-side rendering of the llm/multimodal.py video dimension
# contract, interpolated from the SAME constants the kernels use
_VDIMS_SQL = (
    f"SELECT doc_id, "
    f"doc_id % {MM.VID_NF_MOD} + {MM.VID_NF_OFF} AS nf, "
    f"doc_id % {MM.VID_W_MOD} + {MM.VID_W_OFF} AS w, "
    f"doc_id % {MM.VID_H_MOD} + {MM.VID_H_OFF} AS h "
    f"FROM documents"
)

_VHASH_CTE = f"""
vdims AS (
  {_VDIMS_SQL}
),
vframes AS (
  SELECT doc_id, w, h, unnest(range(0, nf)) AS k FROM vdims
),
vsampled AS (
  SELECT * FROM vframes WHERE k % {MM.VIDEO_EVERY_N} = 0
),
vbt AS (
  SELECT doc_id, k,
         list_transform(range(0, 64), b -> {_VBIT}) AS bits
  FROM vsampled
),
vhashes AS (
  SELECT doc_id,
         CAST(k AS INT) AS frame_idx,
         CAST(list_sum(list_transform(range(0, 32),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT)
           AS h_lo,
         CAST(list_sum(list_transform(range(32, 64),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << (b - 32))))
           AS BIGINT) AS h_hi
  FROM vbt
)
"""


def hll_estimate_sql(s_star: str, v_zero: str) -> str:
    """The HLL estimate folded from the exact-integer S* contract
    (`llm/vocab.py:hll_fold_constants`): the small-range linear count
    m*ln(m/V) when the raw estimate c/S* is at most 2.5m and a register
    is zero, else the raw estimate.  ``s_star`` and ``v_zero`` are the
    SQL expressions of S* and of the zero-register count V."""
    m, _, c = hll_fold_constants()
    return (
        f"CASE WHEN ({c!r} / CAST({s_star} AS DOUBLE)) <= {2.5 * m!r} "
        f"AND {v_zero} > 0 THEN {float(m)!r} * ln({float(m)!r} "
        f"/ CAST({v_zero} AS DOUBLE)) "
        f"ELSE ({c!r} / CAST({s_star} AS DOUBLE)) END"
    )


def _hll_user_regs_sql(unit: str, key: str) -> str:
    """The calendar-keyed per-user HLL register CTEs (hr/touched) —
    the hash contract (15-hex md5 prefix, bucket = hv % m, rho =
    first-1-bit of hv // m) in ONE oracle-side definition, shared by
    the rolling-WAU and week-overlap oracles exactly as the Spark
    side shares vocab.py:hll_keyed_rhos (review-found third copy)."""
    m, w1, _ = hll_fold_constants()
    return f"""hr AS (
  SELECT CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS {key},
         hv % {m} AS bucket, hv // {m} AS wv
  FROM (SELECT ts, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     ::BIGINT AS hv
        FROM events)
),
touched AS (
  SELECT {key}, bucket,
         max(CASE WHEN wv = 0 THEN {w1}
                  ELSE instr(lpad(bin(wv), {w1 - 1}, '0'), '1') END) AS rho
  FROM hr GROUP BY 1, 2
)"""


_PATTERNS_BASE = f"""
, lagd AS (
  SELECT symbol, ts, open, high, low, close,
         lag(open)  OVER ({_W}) AS p_o,
         lag(close) OVER ({_W}) AS p_c,
         lag(open, 2)  OVER ({_W}) AS f_o,
         lag(close, 2) OVER ({_W}) AS f_c,
         abs(close - open) AS body,
         high - low AS rng,
         least(open, close) - low AS lower_sh,
         high - greatest(open, close) AS upper_sh
  FROM candles
),
feat AS (
  SELECT *,
         abs(p_c - p_o) AS p_body,
         abs(f_c - f_o) AS f_body,
         body / rng AS body_ratio,
         lower_sh / rng AS lower_ratio,
         upper_sh / rng AS upper_ratio
  FROM lagd
)
"""


#: the six-pattern UNION body — shared verbatim by the `patterns`
#: oracle (plans/analysis_q.py) and the `pattern_alerts_replay` oracle
#: (plans/streaming_q.py), so the alert channel's replay face can never
#: drift from the batch pattern semantics.
_PATTERNS_UNION = """
  SELECT symbol, ts, 'doji' AS pattern,
         CASE WHEN body_ratio <= 0.05 THEN 'high' ELSE 'medium' END AS confidence,
         round(close, 6) AS price_level,
         round(least(1.0, 1.0 - body_ratio), 6) AS signal_strength
  FROM feat WHERE rng > 0 AND body_ratio <= 0.1
  UNION ALL
  SELECT symbol, ts, 'hammer',
         CASE WHEN lower_ratio >= 0.7 THEN 'high' ELSE 'medium' END,
         round(close, 6),
         round(least(1.0, lower_ratio), 6)
  FROM feat
  WHERE rng > 0 AND body > 0 AND lower_ratio >= 0.6 AND body_ratio <= 0.3
    AND upper_ratio <= 0.1 AND p_c < p_o
  UNION ALL
  SELECT symbol, ts, 'bullish_engulfing',
         'medium',
         round(close, 6),
         round(least(1.0, body / (p_body + 1e-6)), 6)
  FROM feat
  WHERE p_c < p_o AND close > open AND open < p_c AND close > p_o AND body > p_body
  UNION ALL
  SELECT symbol, ts, 'bearish_engulfing',
         'medium',
         round(close, 6),
         round(least(1.0, body / (p_body + 1e-6)), 6)
  FROM feat
  WHERE p_c > p_o AND close < open AND open > p_c AND close < p_o AND body > p_body
  UNION ALL
  SELECT symbol, ts, 'morning_star',
         CASE WHEN least(1.0, body / (f_body + 1e-6)) > 0.8
              THEN 'high' ELSE 'medium' END,
         round(close, 6),
         round(least(1.0, body / (f_body + 1e-6)), 6)
  FROM feat
  WHERE f_c < f_o AND p_body < f_body * 0.3 AND close > open
    AND close > (f_o + f_c) / 2
  UNION ALL
  SELECT symbol, ts, 'evening_star',
         CASE WHEN least(1.0, body / (f_body + 1e-6)) > 0.8
              THEN 'high' ELSE 'medium' END,
         round(close, 6),
         round(least(1.0, body / (f_body + 1e-6)), 6)
  FROM feat
  WHERE f_c > f_o AND p_body < f_body * 0.3 AND close < open
    AND close < (f_o + f_c) / 2
"""


def _fold_sql(xs: str, span: int, num_only: bool = False) -> str:
    """DuckDB rendering of the truncated-EMA Horner fold(s) —
    op-for-op the same sequence as operators/ewm.py:_horner_ema."""
    r = repr(1.0 - 2.0 / (span + 1.0))
    pre = f"list_prepend(CAST(0.0 AS DOUBLE), {xs})"
    num = f"list_reduce({pre}, (a, x) -> a * {r} + x)"
    if num_only:
        return f"({num})"
    return f"({num} / list_reduce({pre}, (a, x) -> a * {r} + 1.0))"


def _native_frame_sql(c: str, span: int) -> str:
    """The trailing ``list(c)`` frame the native EMA folds over."""
    m = EMA_NATIVE_FRAMES[span]
    return f"list({c}) OVER ({_W} ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW)"
