"""Structural gate: one publish protocol per artifact kind.

- Build-once silvers publish through ``sources/scratch.build_once``:
  no other package module gates a build on a ``_SUCCESS`` marker.
- S7 upserts publish through the commit log (``commit_append`` /
  ``read_committed``): the blind-append sink stays deleted.

Pure text scan of the package sources, no Spark.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "streaming_forex_data_pipeline_spark"
SCRATCH = os.path.join(PACKAGE, "sources", "scratch.py")

_SUCCESS_GATE = re.compile(
    r"""["']_SUCCESS["']\)\.exists\(\)|exists\([^)]*["']_SUCCESS["']"""
)
_BLIND_UPSERT = re.compile(r"upsert_append|read_upserted")


def _package_sources():
    for root, dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, REPO), fh.read()


def test_only_scratch_gates_a_build_on_success():
    gated = sorted(
        rel for rel, text in _package_sources() if _SUCCESS_GATE.search(text)
    )
    assert gated == [SCRATCH], (
        "build-once gates outside sources/scratch.py (route them "
        f"through scratch.build_once): {gated}"
    )


def test_no_blind_append_upsert_sink():
    hits = [
        f"{rel}:{n}"
        for rel, text in _package_sources()
        for n, line in enumerate(text.splitlines(), 1)
        if _BLIND_UPSERT.search(line)
    ]
    assert not hits, f"blind-append upsert sink referenced: {hits}"
