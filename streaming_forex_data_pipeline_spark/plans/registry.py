"""Query registry.

Every operator from SURVEY.md §2 that we expose is registered here as a
named query: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the equivalent DuckDB oracle SQL.  ``__spark_entry__``
and the parity tests both read from this registry, so the repo's own
test gate is byte-identical to the driver's correctness gate.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark: SparkBuilder
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a Spark query builder under ``name``."""

    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def keep_after(anchor: str, module: str) -> None:
    """Move the queries ``module`` registered to sit right after
    ``anchor``, in their own order: a module that an earlier module
    once imported mid-way keeps the registration index the evidence
    rotation's tie-break has always used for it."""
    items = list(_REGISTRY.items())
    moved = [(n, q) for n, q in items if q.spark.__module__ == module]
    rest = [(n, q) for n, q in items if q.spark.__module__ != module]
    at = [n for n, _ in rest].index(anchor) + 1
    _REGISTRY.clear()
    _REGISTRY.update(rest[:at] + moved + rest[at:])


def latest_records(root: Path | None = None) -> dict[str, tuple[int, dict]]:
    """Latest driver verdict per query name from the CORRECTNESS_r*.json
    drops at the repo root (rounds parsed numerically — lexicographic
    file order would freeze 'latest' at r9 forever).  Shared by the
    evidence rotation below and tools/registry_report.py, so the drop
    filename/format knowledge lives in exactly one place."""
    if root is None:
        root = Path(__file__).resolve().parents[2]
    latest: dict[str, tuple[int, dict]] = {}
    drops = sorted(
        (int("".join(ch for ch in p.stem if ch.isdigit()) or 0), p)
        for p in root.glob("CORRECTNESS_r*.json")
    )
    for rnd, p in drops:
        for name, rec in json.loads(p.read_text()).items():
            latest[name] = (rnd, rec)
    return latest


def _evidence_order() -> list[str]:
    """Iteration order for the registry: least-recently-verified first.

    The external driver samples a fixed-size prefix of this dict every
    round, so a static order starves the tail of correctness evidence
    forever (rounds 2-4 re-checked the identical first 50 queries).
    This orders queries by how much a fresh check would tell us:

      0. no driver record yet, or the latest record is an error /
         hash mismatch (evidence stale or missing — check first);
      1. latest record is green, oldest round first (round-robin
         refresh);
      2. latest record is ``no_oracle`` (rows-only check by
         construction; goldens in tests/ carry the real evidence).

    Ties keep registration order.  Reads the driver's own
    ``CORRECTNESS_r*.json`` drops at the repo root; if none exist (or
    parsing fails) the order degrades to plain registration order, so
    this can never break the query surface itself.
    """
    reg_idx = {name: i for i, name in enumerate(_REGISTRY)}
    try:
        latest = {
            name: rec
            for name, rec in latest_records().items()
            if name in reg_idx
        }
    except Exception:  # noqa: BLE001 — ordering is best-effort only
        latest = {}

    def key(name: str) -> tuple[int, int, int]:
        if name not in latest:
            return (0, 0, reg_idx[name])
        rnd, rec = latest[name]
        if rec.get("err") == "no_oracle":
            # a query that HAS an oracle now but whose last record is
            # rows-only just GAINED its oracle (round 13: the
            # rf/lasso/rfe golden-parquet oracles) — its hash has
            # never been driver-checked, so it belongs up front with
            # the never-checked queries, not in the checked tail
            if _REGISTRY[name].oracle is not None:
                return (0, 0, reg_idx[name])
            return (2, rnd, reg_idx[name])
        if rec.get("err") or not rec.get("hash_match"):
            return (0, 0, reg_idx[name])
        return (1, rnd, reg_idx[name])

    return sorted(_REGISTRY, key=key)


def all_queries() -> dict[str, Query]:
    return {name: _REGISTRY[name] for name in _evidence_order()}


def spark_queries() -> dict[str, SparkBuilder]:
    return {name: _REGISTRY[name].spark for name in _evidence_order()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _evidence_order()
        if _REGISTRY[name].oracle is not None
    }
